"""The engine's environment surface, pinned.

Every environment variable the package reads must be a deployment setting
(cores, driver memory, warehouse location, the collector API address). A
tuning switch read from the environment forks a capability into two
implementations that tests and benchmarks see only one side of; measured
negatives are deleted rather than kept behind such a switch. This test
fails when a new read appears, so adding one is a deliberate edit here.
The same holds for the metrics source's options and the collector's
config: the source's layout follows the session's core count, and no
per-host or thread-count setting sits beside it.
"""

from __future__ import annotations

import ast
import dataclasses
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "syscol_spark"

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_WAREHOUSE",
    "SYSCOL_API",
}


SOURCE_OPTIONS = {"hosts", "port", "namespace", "interval", "partitions"}

COLLECTOR_CONFIG_FIELDS = {
    "producer_properties", "topic", "transform", "schema_registry_url", "reporting_interval_secs",
    "namespace", "hosts", "port",
}


def _is_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    ) or (isinstance(node, ast.Name) and node.id == "environ")


def _is_getenv(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "getenv"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    ) or (isinstance(node, ast.Name) and node.id == "getenv")


def _literal(node: ast.AST | None) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "<non-literal key>"


def _env_names(tree: ast.AST) -> list[str]:
    """Names read through os.environ[...] / os.environ.get(...) /
    os.getenv(...) / `... in os.environ`. Any other use of os.environ or
    os.getenv (iteration, a computed key) is reported as unresolvable."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    names = []
    for node in ast.walk(tree):
        if _is_getenv(node):
            call = parents.get(node)
            ok = isinstance(call, ast.Call) and call.func is node and call.args
            names.append(_literal(call.args[0]) if ok else "<unresolved getenv>")
        elif _is_environ(node):
            up = parents.get(node)
            if isinstance(up, ast.Subscript) and up.value is node:
                names.append(_literal(up.slice))
            elif isinstance(up, ast.Attribute) and isinstance(parents.get(up), ast.Call):
                call = parents[up]
                names.append(_literal(call.args[0]) if call.args else "<unresolved environ>")
            elif isinstance(up, ast.Compare) and up.comparators[-1] is node:
                names.append(_literal(up.left))
            else:
                names.append("<unresolved environ>")
    return names


def test_env_reads_are_exactly_the_deployment_settings():
    files = sorted(PKG.rglob("*.py"))
    assert len(files) > 10, f"package not found under {PKG}"
    found: dict[str, list[str]] = {}
    for path in files:
        for name in _env_names(ast.parse(path.read_text(), str(path))):
            found.setdefault(name, []).append(str(path.relative_to(PKG.parent)))
    assert set(found) == DEPLOYMENT_SETTINGS, {
        n: where for n, where in found.items() if n not in DEPLOYMENT_SETTINGS
    } or f"missing: {DEPLOYMENT_SETTINGS - set(found)}"


def test_ledger_reads_no_environment():
    """scripts/ledger.py takes its queries, scales and repetitions as
    arguments; its session reads only the deployment settings above."""
    path = PKG.parent / "scripts" / "ledger.py"
    assert _env_names(ast.parse(path.read_text(), str(path))) == []


def test_env_scan_sees_every_read_form():
    src = """
import os
from os import environ, getenv
a = os.environ.get("A", "1")
b = os.environ["B"]
c = os.getenv("C")
d = "D" in os.environ
e = environ.get("E")
f = getenv("F")
g = os.environ.get(name)
"""
    assert sorted(_env_names(ast.parse(src))) == [
        "<non-literal key>", "A", "B", "C", "D", "E", "F",
    ]


def _option_keys(tree: ast.AST) -> list[str]:
    """Keys read through options.get(...) / options[...], also where
    ``options`` is an attribute (``self.options``)."""
    keys = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr == "get":
            target, key = node.func.value, node.args[0] if node.args else None
        elif isinstance(node, ast.Subscript):
            target, key = node.value, node.slice
        else:
            continue
        name = target.id if isinstance(target, ast.Name) else getattr(target, "attr", None)
        if name == "options":
            keys.append(_literal(key))
    return keys


def test_metrics_source_options_are_pinned():
    src = PKG / "sources" / "metrics_http.py"
    assert set(_option_keys(ast.parse(src.read_text(), str(src)))) == SOURCE_OPTIONS


def test_collector_config_fields_are_pinned():
    from syscol_spark.config import CollectorConfig

    assert {f.name for f in dataclasses.fields(CollectorConfig)} == COLLECTOR_CONFIG_FIELDS


def test_option_scan_sees_every_read_form():
    src = 'a = options.get("A", "1")\nb = options["B"]\nc = self.options.get("C")\nd = options.get(k)\n'
    assert sorted(_option_keys(ast.parse(src))) == ["<non-literal key>", "A", "B", "C"]
