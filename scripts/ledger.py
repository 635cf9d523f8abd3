"""Per-query ledger: one row per catalog query and dataset, splitting the
query's wall time into build, plan and execute and counting what each
phase did.

    python scripts/ledger.py [--sf DIR ...] [--reps N] [--out PATH] QUERY...
    python scripts/ledger.py inflate SRC DST K

A row holds, for the fastest of ``--reps`` repetitions:

- ``build``: the builder call: driver Python plus the eager jobs it runs
  (probes, collects, ``localCheckpoint``s, parquet schema inference).
  ``jobs`` is the scheduler's job counter across the call; ``sites``
  attributes those jobs and seconds to (DataFrame method, the first
  ``syscol_spark`` file and the function there that made the call), and
  ``unattributed`` holds the jobs that ran outside every wrapped method.
  A site names a function, not a line, so edits elsewhere in the file
  leave it unchanged. ``sites`` + ``unattributed`` must add up
  to ``jobs``; ``attribution_ok`` says whether they did. ``py4j_calls``
  and ``py4j_s`` count the build's Py4J round trips and their seconds
  (a trip waits for whatever the JVM does before it replies, jobs
  included); ``py4j_sites`` attributes them to the same
  ``file::function`` sites, and ``unattributed`` holds the trips with no
  ``syscol_spark`` frame, whose count varies from run to run.
- ``plan``: Catalyst analysis, optimization and physical planning
  (``queryExecution().executedPlan()``), and the plan's shape.
- ``execute``: the result forced into the noop sink, so it never reaches
  the driver, with task time and shuffle bytes per stage. A plan that is
  one ``LocalTableScan`` already holds its rows on the driver (a
  driver-local twin's result) and is collected instead: the noop sink
  would submit a write job that no caller of such a frame pays.
- ``python_rows``: rows out of every Python plan node the query ran.
- ``routes``: each driver-local / distributed decision the build made
  (``syscol_spark/operators/route.py``): name, bound, observed rows, path.

Rows are warm: every table's schema is resolved before the first row
(``sources/tables.py`` keeps it per file version), so no row pays a
parquet schema-inference job.

Given two or more ``--sf`` directories, a row also carries ``step_ratio``:
its wall over the same query's wall at the previous directory. ``inflate``
writes a K-times copy of a dataset for scale steps beyond the fixtures.
Run the ledger alone: a concurrent Spark JVM inflates its seconds.
"""

from __future__ import annotations

import argparse
import functools
import gc
import json
import logging
import os
import re
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.common import Phase, testdata_dir  # noqa: E402

PKG = os.path.join(ROOT, "syscol_spark") + os.sep
ROUTE = os.path.join(PKG, "operators", "route.py")
COMMON = os.path.join(ROOT, "perfbench", "common.py")
ACTIONS = ("collect", "count", "toPandas", "localCheckpoint", "checkpoint", "take", "head", "first")
JOIN = re.compile(r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)\b")
PYTHON_NODE = re.compile(r"\b(\w+(?:Python|InPandas|InArrow))\b")


# --- counters ----------------------------------------------------------------


def _drain(spark) -> None:
    """Wait until the listener bus is empty: the status store behind the
    status tracker lags the scheduler, so a job can finish before the store
    has seen it start."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001


def _jobs_submitted(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()  # noqa: SLF001


class Sites:
    """Eager calls a build makes, keyed by (method, call site): the
    DataFrame actions, plus ``DataFrameReader.parquet``, where schema
    inference runs. Each outermost call runs under its own ``Phase``;
    calls nested in it (``first`` → ``head`` → ``take`` → ``collect``)
    count once, for the outermost method.

    Every Py4J round trip the build makes is counted too, keyed by the
    call site alone (eager or not: composing a DataFrame is round trips
    without jobs). Trips with no package frame on their stack, such as the
    Py4J finalizer thread's object releases, go to ``"?"``; the ledger's
    own bookkeeping (its ``Phase``s and drains) is not counted."""

    def __init__(self, spark):
        self.spark = spark
        self.calls: dict[tuple[str, str], dict] = {}
        self.py4j: dict[str, dict] = {}
        self.stages = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader

        self._targets = [(DataFrame, m) for m in ACTIONS] + [(DataFrameReader, "parquet")]

    def __enter__(self) -> Sites:
        self._saved = [(cls, m, cls.__dict__[m]) for cls, m in self._targets]
        for cls, m, fn in self._saved:
            setattr(cls, m, self._wrap(fn, m))
        self._client.send_command = self._count_py4j(self._client.send_command)
        return self

    def __exit__(self, *exc) -> None:
        del self._client.send_command  # the class's method again
        for cls, m, fn in self._saved:
            setattr(cls, m, fn)

    def _count_py4j(self, send):
        @functools.wraps(send)
        def wrapper(*args, **kwargs):
            site = _call_site()
            if site is None:
                return send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    rec = self.py4j.setdefault(site, {"calls": 0, "s": 0.0})
                    rec["calls"] += 1
                    rec["s"] += dt

        return wrapper

    def _wrap(self, fn, method: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if getattr(self._local, "busy", False):
                return fn(*args, **kwargs)
            site = _call_site()
            self._local.busy = True
            try:
                with Phase(self.spark, method) as phase:
                    out = fn(*args, **kwargs)
                    _drain(self.spark)
            finally:
                self._local.busy = False
                rec = self.calls.setdefault((method, site), {"calls": 0, "jobs": 0, "s": 0.0})
                rec["calls"] += 1
                rec["jobs"] += phase.jobs
                rec["s"] += phase.seconds
                self.stages += phase.stages
            return out

        return wrapper


class Routes(logging.Handler):
    """The route decisions (syscol_spark/operators/route.py) logged while
    the block runs, in order."""

    def __init__(self):
        super().__init__(logging.DEBUG)
        self.routes: list[dict] = []
        self._log = logging.getLogger("syscol_spark.route")

    def emit(self, record: logging.LogRecord) -> None:
        self.routes.append(record.route)

    def __enter__(self) -> Routes:
        self._level = self._log.level
        self._log.setLevel(logging.DEBUG)
        self._log.addHandler(self)
        return self

    def __exit__(self, *exc) -> None:
        self._log.removeHandler(self)
        self._log.setLevel(self._level)


def _call_site() -> str | None:
    """``file::function`` of the innermost caller inside the package (paths
    relative to ``syscol_spark/``, functions by qualified name), ``?`` when
    the call did not come from it, or None when the ledger's own
    bookkeeping (a ``Phase``, a drain) made it. A route probe counts in the
    operator that asked for it, not in ``operators/route.py``, which every
    routed operator shares."""
    frame = sys._getframe(2)  # noqa: SLF001 - skip this function and the wrapper
    while frame is not None:
        code = frame.f_code
        if code.co_filename == COMMON or code is _drain.__code__:
            return None
        if code.co_filename.startswith(PKG) and code.co_filename != ROUTE:
            return f"{code.co_filename[len(PKG):]}::{code.co_qualname}"
        frame = frame.f_back
    return "?"


def _last_execution(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    executions = store.executionsList()
    n = executions.size()
    return executions.apply(n - 1).executionId() if n else -1


def _python_rows(spark, first_execution: int) -> dict[str, int]:
    """``number of output rows`` per Python plan node kind, summed over the
    SQL executions numbered ``first_execution`` or later."""
    # perfbench/ingest.py::_python_rows, widened from EvalPython to every Python node
    _drain(spark)
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    executions = store.executionsList()
    rows: dict[str, int] = {}
    for k in range(executions.size() - 1, -1, -1):
        eid = executions.apply(k).executionId()
        if eid < first_execution:
            break
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if not PYTHON_NODE.fullmatch(node.name()):
                continue
            metrics = node.metrics()
            for i in range(metrics.size()):
                m = metrics.apply(i)
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    rows[node.name()] = rows.get(node.name(), 0) + int(v.get().replace(",", ""))
    return rows


def _stages(spark, phase: Phase) -> list[dict]:
    """Task seconds and shuffle bytes of every stage a phase ran (stages
    skipped because their shuffle output was reused are left out)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()  # noqa: SLF001
    sids = set()
    for jid in tracker.getJobIdsForGroup(phase.group):
        info = tracker.getJobInfo(jid)
        sids.update(info.stageIds if info is not None else ())
    out = []
    for sid in sorted(sids):
        try:
            data = store.stageAttempt(sid, 0, False, None, False, None)._1()  # noqa: SLF001
        except Py4JJavaError as exc:
            # past spark.ui.retainedStages the store evicts stages without a
            # completion time first: those are the skipped ones
            if "NoSuchElementException" not in str(exc):
                raise
            continue
        if data.status().toString() == "SKIPPED":
            continue
        out.append({"id": sid, "task_s": data.executorRunTime() / 1000,
                    "shuffle_read": data.shuffleReadBytes(), "shuffle_write": data.shuffleWriteBytes()})
    return out


def plan_shape(plan: str) -> dict:
    """Exchanges, join kinds, Python node kinds and parquet scans of a
    physical plan's text, and whether the plan is one ``LocalTableScan``."""
    return {
        "local": plan.startswith("LocalTableScan"),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcasts": len(re.findall(r"\bBroadcastExchange\b", plan)),
        "joins": sorted(set(JOIN.findall(plan))),
        "python_nodes": sorted(set(PYTHON_NODE.findall(plan))),
        "scans": len(re.findall(r"Scan parquet", plan)),
    }


# --- one row -----------------------------------------------------------------


def measure(spark, name: str, sf_dir: str) -> dict:
    """Build, plan and execute one catalog query once."""
    from syscol_spark.plans.catalog import QUERIES, _ensure_loaded

    _ensure_loaded()
    first_execution = _last_execution(spark) + 1
    jobs0 = _jobs_submitted(spark)
    with Sites(spark) as sites, Routes() as decisions, Phase(spark, f"{name} build") as build:
        df = QUERIES[name].builder(spark, sf_dir)
        _drain(spark)
    build_jobs = _jobs_submitted(spark) - jobs0
    with Phase(spark, f"{name} plan") as plan:
        shape = plan_shape(df._jdf.queryExecution().executedPlan().toString())  # noqa: SLF001
        _drain(spark)
    with Phase(spark, f"{name} execute") as execute:
        if shape["local"]:
            df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()
        _drain(spark)
    site_rows = [{"method": m, "site": s, "calls": r["calls"], "jobs": r["jobs"], "s": r["s"]}
                 for (m, s), r in sorted(sites.calls.items(), key=lambda kv: -kv[1]["s"])]
    site_jobs = sum(r["jobs"] for r in site_rows)
    trips = dict(sites.py4j)
    stray = trips.pop("?", {"calls": 0, "s": 0.0})
    py4j_rows = [{"site": s, **r} for s, r in sorted(trips.items(), key=lambda kv: -kv[1]["calls"])]
    return {
        "query": name,
        "sf": sf_dir,
        "wall_s": build.seconds + plan.seconds + execute.seconds,
        "build": {"s": build.seconds, "jobs": build_jobs, "stages": build.stages + sites.stages,
                  "py4j_calls": sum(r["calls"] for r in sites.py4j.values()),
                  "py4j_s": sum(r["s"] for r in sites.py4j.values())},
        "sites": site_rows,
        "py4j_sites": py4j_rows,
        "unattributed": {"jobs": build.jobs, "s": build.seconds - sum(r["s"] for r in site_rows),
                         "py4j_calls": stray["calls"], "py4j_s": stray["s"]},
        "attribution_ok": site_jobs + build.jobs == build_jobs,
        "plan": {"s": plan.seconds, "jobs": plan.jobs, "stages": plan.stages, **shape},
        "execute": {"s": execute.seconds, "jobs": execute.jobs, "stages": execute.stages,
                    "stage_detail": _stages(spark, execute)},
        "python_rows": _python_rows(spark, first_execution),
        "routes": decisions.routes,
    }


def _release(spark) -> None:
    """Drop the blocks that eager ``localCheckpoint``s leave behind, so
    repetitions do not pile them up in the driver heap."""
    gc.collect()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):  # noqa: SLF001
        jrdd.unpersist()


def ledger_row(spark, name: str, sf_dir: str, reps: int) -> dict:
    """The fastest of ``reps`` measurements, with every repetition's wall and
    job counts; a query that raises yields an ``error`` row."""
    runs = []
    for _ in range(reps):
        try:
            runs.append(measure(spark, name, sf_dir))
        except Exception as exc:  # noqa: BLE001 - a failing query is a recorded row
            traceback.print_exc()
            return {"query": name, "sf": sf_dir, "error": f"{type(exc).__name__}: {exc}"[:500]}
        finally:
            _release(spark)
    row = min(runs, key=lambda r: r["wall_s"])
    row["reps"] = [{"wall_s": r["wall_s"], "build_jobs": r["build"]["jobs"], "execute_jobs": r["execute"]["jobs"]}
                   for r in runs]
    return row


def run(spark, names: list[str], sf_dirs: list[str], reps: int, out: str | None = None) -> dict:
    """Ledger rows for every query at every directory, query by query; the
    ledger is rewritten to ``out`` after each query."""
    from syscol_spark.plans.catalog import QUERIES, _ensure_loaded

    _ensure_loaded()
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")
    # untimed: pays the session's first-use costs (JIT, code generation,
    # Python workers) and every table's schema inference outside every row
    from syscol_spark.sources.tables import load_tables

    for sf_dir in sf_dirs:
        load_tables(spark, sf_dir)
    measure(spark, names[0], sf_dirs[0])
    _release(spark)
    ledger = {"cpus": spark.sparkContext.defaultParallelism, "reps": reps, "sf": sf_dirs, "rows": []}
    for name in names:
        prev = None
        for sf_dir in sf_dirs:
            row = ledger_row(spark, name, sf_dir, reps)
            if prev is not None:
                ok = "error" not in row and "error" not in prev
                row["step_ratio"] = row["wall_s"] / prev["wall_s"] if ok else None
            prev = row
            ledger["rows"].append(row)
            _log(row)
        ledger["failures"] = sum("error" in r for r in ledger["rows"])
        if out:
            with open(out + ".tmp", "w") as fh:
                json.dump(ledger, fh, indent=1)
            os.replace(out + ".tmp", out)
    return ledger


def _log(row: dict) -> None:
    if "error" in row:
        print(f"{row['query']} @ {row['sf']}: ERROR {row['error'][:200]}", file=sys.stderr, flush=True)
        return
    b, p, e = row["build"], row["plan"], row["execute"]
    ratio = f" step {row['step_ratio']:.2f}x" if row.get("step_ratio") else ""
    print(f"{row['query']} @ {os.path.basename(row['sf'])}: wall {row['wall_s']:.2f}s = "
          f"build {b['s']:.2f}s/{b['jobs']}j + plan {p['s']:.2f}s + execute {e['s']:.2f}s/{e['jobs']}j"
          f"{ratio}{'' if row['attribution_ok'] else ' ATTRIBUTION MISMATCH'}", file=sys.stderr, flush=True)


# --- inflate -----------------------------------------------------------------

STRIDE = 100_000_000  # above every fixture key: the copies' key ranges are disjoint
# key columns offset per copy, the same offset in every table, so each copy
# joins only to itself with the base dataset's fan-out per key
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
UNCHANGED = ["region", "nation"]  # the same at every TPC-H scale factor


def _inflated(spark, src: str, table: str, k: int):
    """K copies of one table. Keys move by ``copy * STRIDE``. Document text
    gets a per-copy token bijection (every token suffixed ``x<copy>``), so
    each copy's shingle structure is the base corpus's and copies share no
    tokens. Embeddings get a per-copy Rademacher ±1 diagonal (the identity
    for copy 0): an orthogonal map that keeps cosines within a copy and
    leaves cross-copy cosines near zero. Small additive jitter instead
    would give every vector K-1 near-twins and grow pair outputs ~K²."""
    import pyspark.sql.functions as F

    df = spark.read.parquet(f"{src}/{table}.parquet")
    dtypes = dict(df.dtypes)
    out = df.select(F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__copy"), "*")
    for key in KEYS[table]:
        out = out.withColumn(key, (F.col(key) + F.col("__copy").cast("long") * F.lit(STRIDE)).cast(dtypes[key]))
    if table == "documents":
        suffixed = F.regexp_replace("text", r"(\S+)", F.concat(F.lit("$1x"), F.col("__copy").cast("string")))
        out = out.withColumn("text", suffixed).withColumn("n_chars", F.length("text").cast(dtypes["n_chars"]))
    if table == "embeddings":
        from syscol_spark.operators.similarity import rademacher_signs

        dim = len(df.first()["embedding"])
        signs = F.array(*[F.array(*map(F.lit, [1.0] * dim if c == 0 else rademacher_signs(dim, c, seed=777)))
                          for c in range(k)])
        out = out.withColumn("embedding", F.zip_with(
            "embedding", F.element_at(signs, F.col("__copy") + 1),
            lambda x, s: (x.cast("double") * s).cast("float")))
    return out.drop("__copy")


def inflate(spark, src: str, dst: str, k: int) -> None:
    """Write a K-times copy of the dataset at ``src`` to ``dst``."""
    os.makedirs(dst, exist_ok=True)
    for table in UNCHANGED:
        spark.read.parquet(f"{src}/{table}.parquet").write.mode("overwrite").parquet(f"{dst}/{table}.parquet")
    for table in KEYS:
        t0 = time.perf_counter()
        _inflated(spark, src, table, k).repartition(8).write.mode("overwrite").parquet(f"{dst}/{table}.parquet")
        print(f"inflate: {table} x{k} in {time.perf_counter() - t0:.1f}s", file=sys.stderr, flush=True)


# --- command line ------------------------------------------------------------


def main(argv: list[str]) -> int:
    from syscol_spark.session import default_parallelism, get_session

    if argv[:1] == ["inflate"]:
        ap = argparse.ArgumentParser(prog="ledger.py inflate", description="write a K-times copy of a dataset")
        ap.add_argument("src")
        ap.add_argument("dst")
        ap.add_argument("k", type=int)
        args = ap.parse_args(argv[1:])
        if args.k < 1:
            ap.error("K must be at least 1")
        inflate(get_session("ledger-inflate"), args.src, args.dst, args.k)
        return 0
    ap = argparse.ArgumentParser(prog="ledger.py", description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", action="append", help="dataset directory; repeat for scale steps (default sf0.01)")
    ap.add_argument("--reps", type=int, default=3, help="repetitions per row; the fastest is kept (default 3)")
    ap.add_argument("--out", default=os.path.join(ROOT, f"LEDGER_c{default_parallelism()}.json"))
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    args = ap.parse_args(argv)
    sf_dirs = args.sf or [os.path.join(testdata_dir(), "sf0.01")]
    ledger = run(get_session("ledger"), args.queries, sf_dirs, args.reps, args.out)
    bad = [r["query"] for r in ledger["rows"] if "error" not in r and not r["attribution_ok"]]
    print(f"ledger: {len(ledger['rows'])} rows, {ledger['failures']} failed, "
          f"{len(bad)} attribution mismatches -> {args.out}", file=sys.stderr)
    return 1 if ledger["failures"] or bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
