"""probe_ingest: the resident Hamming-radius probe service under a closed loop.

A ProbeSession at radius 4 is built over signatures read from parquet. The
corpus plants near neighbours (copies with 1-4 flipped bits) and one hot
band key (a block of signatures sharing their low band). One client thread
runs a closed loop: a single search() per request, and an insert() of
INSERT_ROWS new signatures after every PROBES_PER_INSERT probes, so writes
run beside reads on the same banded layout the batch join uses.

Every search() result is checked against a numpy brute-force Hamming scan of
the current snapshot, inserts included.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from intraarchivededuplicator_spark.functions.hashing import popcount64_np

import spans
from harness import median_setup, p90

N_CORPUS = 100_000
RADIUS = 4
N_PROBES = 4_000  # probe pool, cycled
PROBES_PER_INSERT = 50
INSERT_ROWS = 100
NEAR_SHARE = 0.10  # corpus rows that are near copies of other rows
HOT_SHARE = 0.02  # corpus rows sharing one low-band key
HOT_BITS = 13  # width of band 0 at radius 4 (5 bands: 13/13/13/13/12)
TRACED_PROBES = 50
MIN_SEARCHES = 100  # at least 10 samples beyond the reported p90
PRIME_PROBES = 60  # search latency falls over the first few dozen probes
# the second build in a JVM is still warming up; five set-ups put the
# median on a warm one
SETUPS = 5


def flip_bits(rng: np.random.Generator, sigs: np.ndarray, max_flips: int) -> np.ndarray:
    """Each signature with 1..max_flips distinct random bits flipped."""
    out = sigs.astype(np.uint64)
    for i in range(len(out)):
        bits = rng.choice(64, size=int(rng.integers(1, max_flips + 1)), replace=False)
        for b in bits:
            out[i] ^= np.uint64(1) << np.uint64(b)
    return out.astype(np.int64)


def random_sigs(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=n, dtype=np.int64)


class Snapshot:
    """The client's own copy of the index contents: the brute-force oracle.
    It shares no code with ProbeSession's search path (a JVM bit_count
    over the cached band table)."""

    def __init__(self, ids: np.ndarray, sigs: np.ndarray):
        self.ids, self.sigs = ids, sigs

    def add(self, ids: np.ndarray, sigs: np.ndarray) -> None:
        self.ids = np.concatenate([self.ids, ids])
        self.sigs = np.concatenate([self.sigs, sigs])

    def search(self, sig: int, radius: int) -> list[tuple[int, int]]:
        d = popcount64_np(self.sigs ^ np.int64(sig))
        hit = np.nonzero(d <= radius)[0]
        return sorted(
            zip(self.ids[hit].tolist(), d[hit].tolist()), key=lambda t: (t[1], t[0])
        )


def make_inputs(env) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(env.seed)
    sigs = random_sigs(rng, N_CORPUS)
    n_near, n_hot = int(NEAR_SHARE * N_CORPUS), int(HOT_SHARE * N_CORPUS)
    sigs[:n_near] = flip_bits(rng, sigs[n_near : 2 * n_near], RADIUS)
    low = np.int64((1 << HOT_BITS) - 1)
    hot = slice(2 * n_near, 2 * n_near + n_hot)
    sigs[hot] = (sigs[hot] & ~low) | (sigs[2 * n_near + n_hot] & low)
    ids = np.arange(N_CORPUS, dtype=np.int64)

    path = os.path.join(env.work, "corpus.parquet")
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(N_CORPUS), 2 * env.cores)):
        pq.write_table(
            pa.table({"id": ids[part], "sig": sigs[part]}),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )

    # probe pool: 40% near copies of corpus rows (source recorded), 10% on
    # the hot band key, 50% random (mostly misses)
    n_src, n_hotp = int(0.4 * N_PROBES), int(0.1 * N_PROBES)
    src = rng.integers(0, N_CORPUS, size=n_src)
    hot_probe = (random_sigs(rng, n_hotp) & ~low) | (sigs[2 * n_near + n_hot] & low)
    probes = np.concatenate(
        [flip_bits(rng, sigs[src], RADIUS), hot_probe, random_sigs(rng, N_PROBES - n_src - n_hotp)]
    )
    sources = np.concatenate([src, np.full(N_PROBES - n_src, -1)])
    order = rng.permutation(N_PROBES)
    return {
        "corpus": path,
        "snapshot": Snapshot(ids, sigs),
        "probes": probes[order],
        "sources": sources[order],
        "rng": rng,
    }


def insert_batch(rng: np.random.Generator, snap: Snapshot, next_id: int):
    """INSERT_ROWS new rows: half near copies of current rows, half random."""
    half = INSERT_ROWS // 2
    near = flip_bits(rng, snap.sigs[rng.integers(0, len(snap.sigs), size=half)], RADIUS)
    sigs = np.concatenate([near, random_sigs(rng, INSERT_ROWS - half)])
    return np.arange(next_id, next_id + INSERT_ROWS, dtype=np.int64), sigs


class Client:
    """One closed-loop client: search, check the result against the oracle,
    and insert a batch after every PROBES_PER_INSERT probes."""

    def __init__(self, env, session, inputs: dict):
        self.env, self.session, self.inputs = env, session, inputs
        self.snap: Snapshot = inputs["snapshot"]
        self.next_id = int(self.snap.ids.max()) + 1
        self.i = 0
        self.search_s: list[float] = []
        self.insert_s: list[float] = []
        self.matches = 0
        self.planted = self.planted_hit = 0
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def _call(self, tracer, name: str, fn, *args):
        """(seconds, result) of one timed call, inside a span when traced;
        None when it raised (counted as failed)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = fn(*args)
            else:
                with tracer.span(name):
                    out = fn(*args)
        except Exception as ex:  # a failed request is counted, the loop goes on
            self.failed += 1
            self.errors.append(f"{name}: {type(ex).__name__}: {ex}")
            return None
        return time.perf_counter() - t0, out

    def step(self, tracer=None) -> None:
        k = self.i % len(self.inputs["probes"])
        sig = int(self.inputs["probes"][k])
        self.i += 1
        done = self._call(tracer, "probe.search", self.session.search, sig)
        if done is not None:
            dt, got = done
            self.search_s.append(dt)
            want = self.snap.search(sig, RADIUS)
            if got != want:
                self.errors.append(
                    f"search #{self.i}: {len(got)} results, brute force {len(want)}"
                )
            self.matches += len(got)
            src = int(self.inputs["sources"][k])
            if src >= 0:
                self.planted += 1
                self.planted_hit += any(i == src for i, _ in got)
        if self.i % PROBES_PER_INSERT == 0:
            self.insert(tracer)

    def insert(self, tracer=None) -> None:
        ids, sigs = insert_batch(self.inputs["rng"], self.snap, self.next_id)
        rows = self.env.spark.createDataFrame(
            list(zip(ids.tolist(), sigs.tolist())), "id long, sig long"
        )
        done = self._call(tracer, "probe.insert", self.session.insert, rows)
        if done is not None:
            self.insert_s.append(done[0])
            self.snap.add(ids, sigs)
            self.next_id += INSERT_ROWS


def run(env) -> dict:
    from intraarchivededuplicator_spark.engine.probe import ProbeSession

    inputs = make_inputs(env)
    state = {}

    def setup(e):
        e.spark.range(4 * e.cores).selectExpr("sum(id)").collect()
        state["session"] = ProbeSession(e.spark.read.parquet(inputs["corpus"]), radius=RADIUS)

    setup_s, setup_all = median_setup(
        env, setup, lambda e: state.pop("session").close(), repeats=SETUPS
    )
    session = state["session"]

    # priming: the first searches and inserts compile and JIT their plans
    client = Client(env, session, inputs)
    for _ in range(PRIME_PROBES):
        client.step()
    client.insert()
    client.search_s.clear()
    client.insert_s.clear()

    t_start = time.perf_counter()
    while (
        time.perf_counter() - t_start < env.seconds
        or len(client.search_s) < MIN_SEARCHES
        or len(client.insert_s) < 2
    ):
        client.step()
    searches, inserts = list(client.search_s), list(client.insert_s)
    recall = client.planted_hit / client.planted if client.planted else 0.0
    rss = env.peak_rss_mb()

    result = {
        "end_to_end": {
            "setup_s": setup_s,
            "docs_per_sec": len(searches) / (sum(searches) + sum(inserts)),
            "dup_pair_recall": recall,
            "op_p50_ms": 1000 * statistics.median(searches),
            "op_p90_ms": 1000 * p90(searches),
            "insert_p50_ms": 1000 * statistics.median(inserts),
            "peak_rss_mb": sum(rss.values()),
        },
        "samples": {
            "peak_rss_mb": rss,
            "setup_s": setup_all,
            "prime_probes": PRIME_PROBES,
            "searches": len(searches),
            "inserts": len(inserts),
            "search_ms": [round(1000 * x, 2) for x in searches],
            "insert_s": inserts,
            "corpus_rows_end": len(client.snap.ids),
        },
        "attempted": client.attempted,
        "failed": client.failed,
    }
    if env.trace:
        result["per_layer"] = traced_loop(env, client, inputs, statistics.median(searches))
    session.close()
    errors = list(client.errors)
    if recall < 1.0:
        errors.append(f"planted-neighbour recall {recall:.5f} < 1")
    result["errors"] = errors
    result["correct"] = not errors and client.failed == 0
    return result


def traced_loop(env, client: Client, inputs: dict, untraced_search_s: float) -> dict:
    from intraarchivededuplicator_spark.engine.probe import ProbeSession

    sc = env.spark.sparkContext
    tracer = spans.Tracer(sc, "trace")
    n0, k0, m0 = len(client.search_s), len(client.insert_s), client.matches
    with tracer.span("probe.build"):
        rebuilt = ProbeSession(env.spark.read.parquet(inputs["corpus"]), radius=RADIUS)
    rebuilt.close()
    for _ in range(TRACED_PROBES):
        client.step(tracer)
    tracer.write(os.path.join(env.out_dir, f"spans-{env.workload}-s{env.seed}.json"))

    searches = client.search_s[n0:]
    inserts = client.insert_s[k0:]
    busy = tracer.self_seconds()
    stages = spans.stage_totals(sc)
    jobs = spans.job_counts(sc)
    run_s = sum(stages.get(tracer.tag(n), {}).get("executor_run_s", 0.0)
                for n in ("probe.build", "probe.search", "probe.insert"))
    busy_s = sum(busy.get(n, 0.0) for n in ("probe.build", "probe.search", "probe.insert"))
    return {
        "probe.search_ms": 1000 * statistics.median(searches),
        "probe.insert_s": statistics.median(inserts) if inserts else 0.0,
        "probe.build_s": busy["probe.build"],
        "probe.jobs_per_search": jobs.get(tracer.tag("probe.search"), 0) / len(searches),
        "probe.matches": (client.matches - m0) / len(searches),
        "probe.executor_run_s": run_s,
        "probe.cpu_util": run_s / (busy_s * env.cores) if busy_s else 0.0,
        "trace.wall_s": tracer.total_seconds("probe.search") + tracer.total_seconds("probe.insert"),
        "trace.overhead_s": statistics.median(searches) - untraced_search_s,
    }
