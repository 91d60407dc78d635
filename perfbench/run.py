"""Repository benchmark: batch dedup and resident probe workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload web_long --seed 1 --seconds 8 --trace 0

Workloads (perfbench/README.md says why each was chosen):

    web_long      batch dedup_pipeline, long pages, default class mix
    probe_ingest  ProbeSession searches with an insert every 50 probes

The inputs are generated from --seed and written to parquet under
.perfbench/; the program under test reads only that parquet. A run sets up
several times and reports the median, primes the JIT, measures for
--seconds, checks every output, and prints one JSON object as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics of BENCHMARK.json; --trace 1 also runs one traced
pass and reports the per-layer metrics instead. The exit status is 0 only
when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from harness import ROOT, Env

WORKLOADS = ("web_long", "probe_ingest")


def cpu_canary() -> float:
    """bench.cpu_canary: a fixed single-core md5 loop, in seconds. Recorded
    beside every run as a host diagnostic, never used as a gate."""
    import bench

    return bench.cpu_canary()


def report(values: dict[str, float], declared: list[dict], fill_zero: bool) -> dict:
    """Attach the declared unit to every declared metric. A metric the
    workload did not produce is an error, except a per-layer metric of a
    layer the workload never calls (fill_zero), which reads 0."""
    out = {}
    for spec in declared:
        name = spec["name"]
        if name not in values and not fill_zero:
            raise KeyError(f"workload produced no value for metric {name}")
        out[name] = {"value": float(values.get(name, 0.0)), "unit": spec["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "intraarchivededuplicator_spark")):
        print(
            f"perfbench: package intraarchivededuplicator_spark not found "
            f"under {ROOT}; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)

    env = Env(args.workload, args.seed, args.seconds, bool(args.trace))
    canary_start = cpu_canary()
    try:
        if args.workload == "probe_ingest":
            import probe_ingest as workload
        else:
            import batch as workload
        result = workload.run(env)
    finally:
        env.close()
    canary_end = cpu_canary()

    if "end_to_end" not in result:  # no operation succeeded: nothing to report
        metrics = {}
    elif args.trace:
        result["per_layer"]["host.cpu_canary_s"] = canary_start
        metrics = report(result["per_layer"], spec["per_layer"], fill_zero=True)
    else:
        metrics = report(result["end_to_end"], spec["end_to_end"], fill_zero=False)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": env.cores,
        "heap": env.heap,
        "cpu_canary_s": {"start": canary_start, "end": canary_end},
        **result,
    }
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(env.out_dir, f"run-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for msg in result["errors"]:
        print(f"perfbench: CHECK FAILED: {msg}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
