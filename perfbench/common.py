"""Shared plumbing: environment, Spark session, host probes, statistics."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PACKAGE = os.path.join(ROOT, "doin_fine_ance__spark")
# Driver heap cap: the engine default (24g) is sized for sf10
# rehearsals; every workload here fits in a fraction of that, and a
# smaller cap keeps the collector from letting garbage pile up to
# gigabytes on a shared host.
DRIVER_MEMORY = "2g"


def configure_env(work: str) -> dict:
    """Point every scratch location of Spark, the JVM and Python at
    ``work`` so a run reads and writes only inside the checkout, and
    return the Spark settings in effect for the run record."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # the engine's Python workers import the package from the checkout
        PYTHONPATH=os.pathsep.join(p for p in [ROOT, os.environ.get("PYTHONPATH")] if p),
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "local_dir": os.path.relpath(local, ROOT),
    }


def start_spark(work: str, trace: bool):
    """The engine's own session factory, with scratch kept in ``work``.
    A traced run keeps every job in the status store until it is read."""
    from doin_fine_ance__spark.session import get_spark

    # The heap grows with use, so peak RSS follows what the engine keeps.
    # No perf-data file: the JVM writes it to the system temp directory,
    # not java.io.tmpdir.
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.ui.retainedTasks": "10"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def shuffle_write_mb(spark) -> float:
    """Shuffle bytes the executors have written to local disk so far
    (``local[n]`` has the one executor), from Spark's status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(False)
    return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size())) / 1e6


def steal_s() -> float:
    """Cumulative CPU steal of the host, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def disk_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total / 1e6


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def run_record(args, settings: dict, extra: dict) -> dict:
    """Provenance of one run: code version, host and Spark settings."""
    import platform

    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    java = subprocess.run(["java", "-version"], capture_output=True, text=True,
                          timeout=30).stderr.splitlines()
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": commit,
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": java[0] if java else None,
        "spark_settings": settings,
        **extra,
    }


def _record_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(WORK_ROOT, "records", f"{workload}-seed{seed}-trace{trace}.json")


def trace_overhead(traced: dict) -> dict | None:
    """End-to-end metrics of a traced run minus those of the untraced
    run with the same workload and seed, when that run's record exists."""
    path = _record_path(traced["workload"], traced["seed"], 0)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        plain = json.load(f)["end_to_end"]
    return {k: v - plain[k] for k, v in traced["end_to_end"].items() if k in plain}


def write_record(record: dict) -> str:
    path = _record_path(record["workload"], record["seed"], record["trace"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
