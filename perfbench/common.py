"""Shared plumbing for the benchmark: paths, process environment, Spark
session set-up, job/stage counting per phase, and summary statistics."""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
RUN = os.path.join(WORK, f"run-{os.getpid()}")  # this run's files, removed at exit


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "syscol_spark", "session.py"))


def testdata_dir() -> str:
    """Root of the read-only test tables, as the repository's entry module
    (``__spark_entry__.py``) names it."""
    from __spark_entry__ import SF0001

    return os.path.dirname(SF0001)


def prepare_env() -> None:
    """Point every temporary location of Spark and its Python workers inside
    the checkout, and put the repo on PYTHONPATH so the workers can import
    ``syscol_spark`` (the metrics source and the pandas UDFs need it)."""
    tmp = os.path.join(RUN, "tmp")
    for d in (tmp, os.path.join(RUN, "spark-local")):
        os.makedirs(d, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(RUN, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def cleanup() -> None:
    shutil.rmtree(RUN, ignore_errors=True)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_session(get_session):
    """Stop any running SparkContext, then time ``get_session()`` (the
    program's own factory). The JVM survives a stop, so only the first
    call of a process pays for launching it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context  # noqa: SLF001
    if sc is not None:
        sc.stop()
    t0 = time.perf_counter()
    spark = get_session("perfbench")
    return spark, time.perf_counter() - t0


def shutdown_spark() -> None:
    """Stop the SparkContext and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context  # noqa: SLF001
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001


class Phase:
    """Jobs and stages that ran under one job group, read back from the
    status tracker. Nested phases save and restore the enclosing group."""

    _next = 0

    def __init__(self, spark, label: str):
        Phase._next += 1
        self.sc = spark.sparkContext
        self.group = f"perfbench-{os.getpid()}-{Phase._next}"
        self.label = label
        self.jobs = 0
        self.stages = 0
        self.seconds = 0.0

    def __enter__(self) -> Phase:
        self._prev = (self.sc.getLocalProperty("spark.jobGroup.id"), self.sc.getLocalProperty("spark.job.description"))
        self.sc.setJobGroup(self.group, self.label)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = time.perf_counter() - self._t0
        prev_group, prev_desc = self._prev
        if prev_group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(prev_group, prev_desc or "")
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(self.group)
        self.jobs = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            self.stages += len(info.stageIds) if info is not None else 0


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return pct(values, 50)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
