"""Shared plumbing: run isolation, Spark start, latency statistics, host noise.

Everything a run writes lives under ``<checkout>/.bench_tmp/<run>``: the
engine's store, ladder and registry, the ingest source and checkpoint, Spark's
local dirs and the JVM's temp dir. The directory is removed when the run ends,
so no run ever sees state left by another.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4  # load is sized for a 4-core host: Spark local[4], <= 4 clients


class RunDir:
    """A fresh, private scratch tree for one benchmark process."""

    def __init__(self, tag: str):
        base = os.path.join(ROOT, ".bench_tmp")
        self.path = os.path.join(base, f"{tag}-{os.getpid()}-{time.time_ns()}")
        os.makedirs(self.path)
        self.spark_local = self.sub("spark-local")
        self.tmp = self.sub("tmp")

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        base = os.path.dirname(self.path)
        try:
            os.rmdir(base)  # only succeeds when no other run is using it
        except OSError:
            pass


def start_spark(run: RunDir, traced: bool):
    """Start local[4] Spark with every scratch path inside the run dir.

    The JVM reads PYSPARK_SUBMIT_ARGS once, at launch, so the temp-dir and
    status-store settings must be in the environment before the first
    SparkSession is built. A traced run keeps every job's status so that
    per-request job counts can be read after the measured window."""
    os.environ["TMPDIR"] = run.tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.spark_local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={run.tmp}",
        "spark.ui.showConsoleProgress=false",
    ]
    if traced:
        confs += ["spark.ui.retainedJobs=100000", "spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"
    )
    from btrdb_server_spark.session import get_spark

    spark = get_spark("btrdb-perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def _hwm_kb(pid: int | None) -> int:
    if pid is None:
        return 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _hwm_kb(jvm_pid(spark))) / 1024.0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU time (user + system, seconds) used so far by process `root`
    (default: this one) and every live process below it: the Spark JVM and
    the Python workers it forks."""
    root = os.getpid() if root is None else root
    children, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: fields follow its ")"
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        pid = int(name)
        children.setdefault(int(rest[1]), []).append(pid)
        ticks[pid] = int(rest[11]) + int(rest[12])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def median(xs) -> float | None:
    return statistics.median(xs) if xs else None


def tail(xs) -> dict:
    """The highest whole percentile with at least ten samples beyond it.

    Returns {"ms", "pct", "n"}; with ten or fewer samples no percentile
    qualifies and the value is None."""
    n = len(xs)
    out = {"ms": None, "pct": None, "n": n}
    if n <= 10:
        return out
    s = sorted(xs)
    pct = 100 * (n - 10) // n
    # nearest rank: rank <= n - 10, so ten samples lie beyond it
    rank = max(1, -(-pct * n // 100))
    out.update(ms=s[rank - 1], pct=pct)
    return out


def du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def log(*a) -> None:
    print("#", *a, file=sys.stderr, flush=True)
