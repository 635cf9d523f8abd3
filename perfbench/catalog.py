"""The catalog workload: a fixed mix of catalog queries over the sf0.01
tables, one client in a closed loop, in a fixed order. A query's wall time
runs from calling its builder to holding its collected result rows. An
untimed first pass pays each plan's first-use costs (code generation, JIT,
Python workers), which otherwise move a single pass by 10-20% run to run.

Every collected result is checked, outside the timed region, against the
query's DuckDB oracle (``QUERIES[name].oracle``). Oracle rows are cached per
dataset and oracle text under the work directory.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import time

from perfbench.common import WORK, log, median, pct, start_session, testdata_dir

MIX = [
    "q01_pricing_summary",
    "q08_market_share",
    "q_pagerank",
    "q_mmr_diverse",
]
WARMUP = "q01_pricing_summary"


# --- oracle check -------------------------------------------------------------


def _normalize(rows, cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(round(r[i], 9) if isinstance(r[i], float) else r[i] for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def oracle_rows(name: str, sql: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """(sorted column names, normalized rows) of the DuckDB oracle, cached."""
    key = hashlib.sha1(f"{sf_dir}\n{sql}".encode()).hexdigest()[:16]
    path = os.path.join(WORK, "oracle", f"{name}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    import duckdb

    from syscol_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    rel = con.sql(sql)
    cols = [c.lower() for c in rel.columns]
    result = (sorted(cols), _normalize(rel.fetchall(), cols))
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(result, fh)
    os.replace(path + ".tmp", path)
    return result


def matches_oracle(cols: list[str], rows: list, name: str, sql: str, sf_dir: str) -> bool:
    cols = [c.lower() for c in cols]
    got = _normalize([tuple(r) for r in rows], cols)
    want_cols, want = oracle_rows(name, sql, sf_dir)
    if sorted(cols) != want_cols or len(got) != len(want):
        return False
    return all(_equal(x, y) for g, w in zip(got, want) for x, y in zip(g, w))


# --- the workload -------------------------------------------------------------


def run_catalog(seed: int, seconds: float, trace: bool, sf_dir: str | None = None,
                oracle_override: dict | None = None) -> dict:
    """Set-up, an untimed first pass, then timed passes for ``seconds``;
    traced, untraced and traced passes alternate for twice as long. The
    inputs are the fixed catalog tables (sf0.01 unless ``sf_dir`` says
    otherwise), so ``seed`` changes nothing."""
    sf_dir = sf_dir or os.path.join(testdata_dir(), "sf0.01")
    tracer = None
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()  # before the plan modules bind load_table
    from syscol_spark.plans.catalog import QUERIES, _ensure_loaded
    from syscol_spark.session import get_session

    _ensure_loaded()
    oracles = {q: QUERIES[q].oracle for q in MIX}
    oracles.update(oracle_override or {})

    spark, session_s = start_session(get_session)
    t0 = time.perf_counter()
    QUERIES[WARMUP].builder(spark, sf_dir).collect()
    setup_s = session_s + time.perf_counter() - t0

    checked = failed = 0

    def execute(q: str) -> float:
        """Build and collect one query; check its rows after the clock stops.
        Traced, the build, the planning and the collect are separate spans."""
        nonlocal checked, failed
        checked += 1
        t0 = time.perf_counter()
        try:
            if tracer is None or not tracer.active:
                df = QUERIES[q].builder(spark, sf_dir)
                rows = df.collect()
            else:
                with tracer.span("plans.query", query=q):
                    with tracer.span("plans.build", query=q):
                        df = QUERIES[q].builder(spark, sf_dir)
                    with tracer.span("plans.plan", query=q):
                        df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                    with tracer.span("plans.execute", query=q):
                        rows = df.collect()
        except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
            log(f"catalog: {q} raised {type(exc).__name__}: {exc}")
            failed += 1
            return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        if not matches_oracle(df.columns, rows, q, oracles[q], sf_dir):
            log(f"catalog: {q} does not match its oracle")
            failed += 1
        return wall

    def timed_passes(run_s: float, alternate: bool = False) -> tuple[list[float], list[float]]:
        """Passes over the mix for ``run_s``: one at least (two when
        alternating), another only if it should end within the run length.
        With ``alternate``, every second pass is traced. Returns the pass
        walls and the query walls."""
        pass_walls, query_walls = [], []
        t_end = time.perf_counter() + run_s
        while len(pass_walls) < 1 + alternate or time.perf_counter() + median(pass_walls) <= t_end:
            if alternate:
                tracer.active = len(pass_walls) % 2 == 1
            walls = {q: execute(q) for q in MIX}
            pass_walls.append(sum(walls.values()))
            query_walls.extend(walls.values())
        log(f"catalog: passes={len(pass_walls)} mix_wall_s={median(pass_walls):.3f} "
            f"last pass {', '.join(f'{q}={w:.2f}' for q, w in walls.items())}")
        return pass_walls, query_walls

    for q in MIX:  # untimed first pass: pays each plan's first-use costs
        execute(q)
    if tracer is None:
        pass_walls, query_walls = timed_passes(seconds)
        metrics = {
            "setup_s": (setup_s, "s"),
            "latency_p50_s": (median(query_walls), "s"),
            "latency_p90_s": (pct(query_walls, 90), "s"),
            "throughput_per_s": (len(query_walls) / sum(pass_walls), "1/s"),
        }
        layers = {}
    else:
        # untraced and traced passes alternate for twice the run length; the
        # difference of their median walls is the tracing overhead
        tracer.bind(spark)
        walls, _ = timed_passes(2 * seconds, alternate=True)
        tracer.active = False
        untraced, traced = walls[0::2], walls[1::2]
        metrics = {}
        layers = _layers(tracer, session_s, len(traced))
        layers["plans.trace_overhead_s"] = (median(traced) - median(untraced), "s")
        tracer.write(os.path.join(WORK, f"trace-catalog-{tracer.run_id}.json"))
    log(f"catalog: failed={failed}/{checked} setup_s={setup_s:.2f}")
    return {"metrics": metrics, "layers": layers, "attempted": checked, "failed": failed}


def _layers(tracer, session_s: float, passes: int) -> dict:
    """Per-layer sums over the traced passes, per pass."""
    from perfbench.trace import WRAPPED

    def per(name: str, query: str | None = None) -> dict:
        t = tracer.totals(name, query)
        return {"s": t["s"] / passes, **{k: round(t[k] / passes) for k in ("calls", "jobs", "stages")}}

    lt = per("sources.tables.load_table")
    build, plan, execute, wall = per("plans.build"), per("plans.plan"), per("plans.execute"), per("plans.query")
    layers = {
        "session.get_session_s": (session_s, "s"),
        "sources.tables.load_table_calls": (lt["calls"], "count"),
        "sources.tables.load_table_s": (lt["s"], "s"),
        "sources.tables.load_table_jobs": (lt["jobs"], "count"),
        "plans.build_s": (build["s"], "s"),
        "plans.build_jobs": (build["jobs"], "count"),
        "plans.plan_s": (plan["s"], "s"),
        "plans.execute_s": (execute["s"], "s"),
        "plans.execute_jobs": (execute["jobs"], "count"),
        "plans.execute_stages": (execute["stages"], "count"),
        "plans.wall_s": (wall["s"], "s"),
    }
    for q in MIX:
        b, p, e, w = per("plans.build", q), per("plans.plan", q), per("plans.execute", q), per("plans.query", q)
        layers[f"plans.{q}.build_s"] = (b["s"], "s")
        layers[f"plans.{q}.build_jobs"] = (b["jobs"], "count")
        layers[f"plans.{q}.plan_s"] = (p["s"], "s")
        layers[f"plans.{q}.execute_s"] = (e["s"], "s")
        layers[f"plans.{q}.execute_jobs"] = (e["jobs"], "count")
        layers[f"plans.{q}.execute_stages"] = (e["stages"], "count")
        layers[f"plans.{q}.wall_s"] = (w["s"], "s")
    for _, _, layer in WRAPPED[1:]:
        t = per(layer)
        layers[f"{layer}.call_s"] = (t["s"], "s")
        layers[f"{layer}.call_jobs"] = (t["jobs"], "count")
    log(f"catalog trace: build {build['s']:.2f}s/{build['jobs']} jobs, plan {plan['s']:.2f}s, "
        f"execute {execute['s']:.2f}s/{execute['jobs']} jobs")
    return layers
