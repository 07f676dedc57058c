"""Process-level plumbing shared by the workloads: paths, environment,
the Spark session, timing statistics, memory and Spark job counters.

Everything the benchmark writes lives under the checkout it runs from:
per-run scratch in ``.perfbench_work/``, synthesized inputs in
``.perfbench_cache/``, traces in ``.perfbench_traces/``.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CACHE_ROOT = os.path.join(ROOT, ".perfbench_cache")
TRACE_ROOT = os.path.join(ROOT, ".perfbench_traces")

# driver heap: the engine default (8g) is sized for large hosts; the
# benchmark inputs are small, the host is shared, and a tight cap plus a
# fixed young generation (-Xmn, no adaptive eden sizing) keep the JVM's
# resident peak (peak_rss_mb) from tracking GC timing
DRIVER_MEMORY = "1g"
YOUNG_GEN = "256m"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process(tag: str) -> str:
    """Point every temp/scratch location of this process (and of the JVM
    and Python workers it will launch) into a fresh work dir; make the
    engine importable by this process and by Spark's Python workers.
    Returns the work dir."""
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # one-shot process: session pre-warm off, as the CLI defaults it; each
    # workload runs an untimed warm-up of its own operations instead
    os.environ["SPARK_GRAFT_PY_PREWARM"] = "0"
    # bounded glibc arenas: native heap growth of the JVM (and so its peak
    # RSS) otherwise varies with how many threads happened to allocate
    os.environ["MALLOC_ARENA_MAX"] = "2"
    return work


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData -Xmn{YOUNG_GEN}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def start_spark(work: str, cores: int | None = None):
    """``get_spark`` on ``local[cores]``.  Returns (spark, seconds)."""
    from ton_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores or cpu_count()}]",
        extra_conf=spark_conf(work),
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus the Python driver."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _vm_hwm_kb(jvm_pid(spark))) / 1024.0


class JobCounter:
    """Spark jobs and executed tasks, read from ``SparkContext.statusTracker()``.

    Job ids are dense and increasing, so the jobs run between two marks
    are the ids in between; ``statusTracker`` resolves their stages."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.st = self.sc.statusTracker()

    def mark(self) -> int:
        """Id the next job will get (= jobs submitted so far)."""
        return int(self.sc._jsc.sc().dagScheduler().numTotalJobs())

    def since(self, start: int) -> tuple[int, int]:
        """(jobs, executed tasks) of the jobs submitted since ``start``."""
        end = self.mark()
        jobs = tasks = 0
        seen_stages: set[int] = set()
        for jid in range(start, end):
            info = self.st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in list(info.stageIds):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                sinfo = self.st.getStageInfo(sid)
                if sinfo is not None:
                    tasks += sinfo.numCompletedTasks
        return jobs, tasks


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0

