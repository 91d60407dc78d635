"""Shared run context for the benchmark workloads: host sizing, the Spark
session, the run's work directory and repeated set-up."""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_sizing() -> tuple[int, str]:
    """(Spark cores, driver heap) for this host: every core the process may
    run on, and a quarter of physical memory capped at 2 GiB (the corpora
    are small and the host is shared)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kib = next(
            int(line.split()[1]) for line in f if line.startswith("MemTotal:")
        )
    heap_mib = max(1024, min(total_kib // 1024 // 4, 2048))
    return cores, f"{heap_mib}m"


class Env:
    """Per-run context: work directory, host sizing and the Spark session.

    Everything the run writes lives under <repo>/.perfbench/; the scratch
    part is removed by close()."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace,
        )
        self.out_dir = os.path.join(ROOT, ".perfbench", "out")
        self.work = os.path.join(
            ROOT, ".perfbench", f"work-{workload}-{seed}-{os.getpid()}"
        )
        os.makedirs(self.out_dir, exist_ok=True)
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        self.cores, self.heap = host_sizing()
        # Spark's Python workers inherit this environment: without the repo
        # on PYTHONPATH every UDF fails to import the package
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        self.spark = None

    def start_spark(self):
        """Create (or re-create) the session through the package factory."""
        from intraarchivededuplicator_spark.session import get_spark

        self.spark = get_spark(
            app=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.driver.memory": self.heap,
                # initial heap = max heap: no resize decisions, so the JVM's
                # peak RSS repeats from run to run. No perf-data file in /tmp:
                # the run writes only inside the checkout.
                "spark.driver.extraJavaOptions": (
                    f"-Xms{self.heap} -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
                ),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # the status store must keep every stage of a run: the
                # traced run reads per-layer shuffle and executor time back
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak RSS in MiB of the JVM (VmHWM) and of this Python driver."""
        pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            jvm_kib = next(
                int(line.split()[1]) for line in f if line.startswith("VmHWM:")
            )
        py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return {"jvm": jvm_kib / 1024, "python": py_kib / 1024}

    def close(self) -> None:
        """Stop Spark, then the JVM itself, and wait for it to exit: the
        gateway JVM quits when its stdin closes, and would otherwise outlive
        this process by a few seconds."""
        from pyspark import SparkContext

        try:
            self.stop_spark()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=120)
                SparkContext._gateway = SparkContext._jvm = None
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


def median_setup(
    env: Env, setup, teardown=None, repeats: int = 3
) -> tuple[float, list[float]]:
    """Run setup(env) `repeats` times, re-creating the Spark session each
    time (teardown(env) runs before each stop); the first includes the JVM
    launch. Returns (median, all)."""
    times = []
    for i in range(repeats):
        if i:
            if teardown is not None:
                teardown(env)
            env.stop_spark()
        t0 = time.perf_counter()
        env.start_spark()
        setup(env)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), times


def p90(values: list[float]) -> float:
    """Linear-interpolated 90th percentile of at least two values."""
    return statistics.quantiles(values, n=10, method="inclusive")[-1]
