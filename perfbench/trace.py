"""Spans around calls into the program's public functions, recorded from the
benchmark's own files.

A span holds a name, start, end, its parent span and the run id, plus the
Spark jobs and stages that ran under it. Each span runs under its own job
group; the enclosing group is restored when it ends, so a span's ``jobs``
are its own and ``jobs_total`` adds its children's. Spans stay in memory
and are written once, at the end of the run.

Wrappers are installed on module attributes before the plan modules are
imported: ``plans/*`` bind ``load_table`` at import time. Operators are
imported inside the builders, so patching their modules is enough.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import time
import uuid

from perfbench.common import Phase

# (module, attribute, layer name) of every wrapped public function; the
# operators are the eager entry points the catalog mix reaches
WRAPPED = [
    ("syscol_spark.sources.tables", "load_table", "sources.tables.load_table"),
    ("syscol_spark.operators.graph", "pagerank", "operators.graph.pagerank"),
    ("syscol_spark.operators.similarity", "knn_graph", "operators.similarity.knn_graph"),
    ("syscol_spark.operators.similarity", "mmr_topk", "operators.similarity.mmr_topk"),
]


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[dict] = []
        self._spark = None
        self._ids = itertools.count()

    def bind(self, spark) -> None:
        self._spark = spark

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def install(self) -> None:
        """Wrap every function in WRAPPED; dormant until ``active``."""
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), layer))

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    def totals(self, name: str, query: str | None = None) -> dict:
        """Calls, seconds and inclusive jobs/stages summed over the spans
        called ``name`` (of one query, if given)."""
        sel = [s for s in self.spans if s["name"] == name and (query is None or s.get("query") == query)]
        return {
            "calls": len(sel),
            "s": sum(s["end"] - s["start"] for s in sel),
            "jobs": sum(s["jobs_total"] for s in sel),
            "stages": sum(s["stages_total"] for s in sel),
        }

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t = tracer
        self.rec = {"run": tracer.run_id, "id": next(tracer._ids), "name": name,
                    "parent": tracer._stack[-1]["id"] if tracer._stack else None, **attrs}

    def __enter__(self):
        self.phase = Phase(self.t._spark, self.rec["name"]) if self.t._spark is not None else None
        if self.phase is not None:
            self.phase.__enter__()
        self.t._stack.append(self.rec)
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.t._stack.pop()
        jobs = stages = 0
        if self.phase is not None:
            self.phase.__exit__(*exc)
            jobs, stages = self.phase.jobs, self.phase.stages
        self.rec.update(jobs=jobs, stages=stages)
        children = [s for s in self.t.spans if s["parent"] == self.rec["id"]]
        self.rec["jobs_total"] = jobs + sum(c["jobs_total"] for c in children)
        self.rec["stages_total"] = stages + sum(c["stages_total"] for c in children)
        self.t.spans.append(self.rec)
