"""Shared pieces: statistics, host fingerprint, process counters, session."""

from __future__ import annotations

import math
import os
import platform
import statistics
import time


def percentile(values, q: float) -> tuple[float, int]:
    """Linear-interpolated ``q``-th percentile (0-100) and the sample count it
    rests on.  An empty sample gives ``(nan, 0)``."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return math.nan, 0
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values) -> float:
    xs = list(values)
    return statistics.median(xs) if xs else 0.0


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in xs) / len(xs)) if xs else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- process counters (Linux /proc) ---------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and every live descendant (the
    Spark JVM and its Python workers descend from the benchmark process)."""
    kids, todo, ticks = _children(), [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


class Proc:
    """Counters of the driver Python process plus the Spark driver JVM."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gcs = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1000.0

    def cpu_s(self) -> float:
        return tree_cpu_s(os.getpid())

    def peak_rss_mb(self) -> float:
        return (_status_kb(self.jvm_pid, "VmHWM") + _status_kb(os.getpid(), "VmHWM")) / 1024.0


class Window:
    """Wall, CPU and GC seconds over a measured interval."""

    def __init__(self, proc: Proc):
        self.proc = proc
        self.t0, self.cpu0, self.gc0 = time.perf_counter(), proc.cpu_s(), proc.gc_s()
        self.wall = self.cpu = self.gc = 0.0

    def close(self) -> "Window":
        self.wall = time.perf_counter() - self.t0
        self.cpu = self.proc.cpu_s() - self.cpu0
        self.gc = self.proc.gc_s() - self.gc0
        return self


def fingerprint(spark, load_at_start: tuple[float, float, float]) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "loadavg_at_start": list(load_at_start),
    }


# -- session ----------------------------------------------------------------

def prepare_env(root: str, work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at ``work``
    and make the package importable by Spark's Python workers.  Runs before
    the session exists."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


def start_session(work: str, trace: bool):
    from real_time_analytics_with_apache_pinot_on_aws_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a heap committed at its full size from the start, so peak RSS
        # does not depend on when the JVM chose to grow it
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
    }
    if trace:
        # the status store keeps 1,000 jobs by default; the traced run looks
        # jobs up by tag after the window, so it must keep all of them
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark
