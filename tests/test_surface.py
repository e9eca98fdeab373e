"""Every engine symbol has a non-test caller, or a reason not to.

ROADMAP aim 2: knobs that nothing reads get deleted, and so does a
feature whose only callers are tests. This test keeps that true. It
lists every top-level function, class, method and module constant of
the package, and counts a symbol as referenced when its name appears
OUTSIDE its own definition in a non-test file: the package,
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and ``scripts/``.
A reference is an ``ast.Name``, the attribute of an ``ast.Attribute``,
an import alias, or a string that is a bare identifier (perfbench's
``LAYERS`` names the methods it wraps that way).

The unreferenced set must equal ``ALLOWED`` exactly, so a new dead
symbol fails and so does a stale allowlist entry.

Matching is by name only, so it is coarse: a method named like
anything used elsewhere (``read``, ``append``, ``state``) counts as
referenced even when its own class is never touched. The check finds
names nothing mentions; it does not prove every mentioned symbol is
reached. Dunder methods are called implicitly and are not listed.

Standard library only: no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "debezium_partial_snapshotter_spark"
NON_TEST = [PKG, ROOT / "__spark_entry__.py", ROOT / "bench.py",
            ROOT / "perfbench", ROOT / "scripts"]

#: "<module>:<qualname>" -> why nothing outside tests reaches it.
ALLOWED: dict[str, str] = {
    "plans.iceberg:IcebergTable":
        "parked sink adapter; needs the Iceberg runtime jar, not shipped here",
    "sources.jdbc:JdbcSource":
        "parked source adapter; needs a JDBC driver and a live database",
    "sources.debezium:DebeziumJsonSource.kafka_stream":
        "parked Kafka feed; needs the spark-sql-kafka package and a broker",
    "streaming.windows:windowed_rollup_stream":
        "its tests also pin decode_debezium(event_time_col=); next audit",
}


def _py_files() -> list[Path]:
    out: list[Path] = []
    for p in NON_TEST:
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def _symbols(path: Path, tree: ast.Module):
    """(qualname, name, first line, last line) of each listed symbol."""
    mod = path.relative_to(PKG).with_suffix("").as_posix().replace("/", ".")
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield f"{mod}:{node.name}", node.name, node.lineno, node.end_lineno
        if isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)) and not (
                    sub.name.startswith("__") and sub.name.endswith("__")
                ):
                    yield (f"{mod}:{node.name}.{sub.name}", sub.name,
                           sub.lineno, sub.end_lineno)
        targets = (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, ast.AnnAssign) else []
        )
        for t in targets:
            if isinstance(t, ast.Name) and not t.id.startswith("__"):
                yield f"{mod}:{t.id}", t.id, node.lineno, node.end_lineno


def _references(tree: ast.Module):
    """(name, line) of every reference in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                yield alias.name.rsplit(".", 1)[-1], node.lineno
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.isidentifier()
        ):
            yield node.value, node.lineno


def unreferenced() -> set[str]:
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _py_files()}
    refs: dict[str, list[tuple[Path, int]]] = {}
    for p, tree in trees.items():
        for name, line in _references(tree):
            refs.setdefault(name, []).append((p, line))
    dead = set()
    for p, tree in trees.items():
        if PKG not in p.parents:
            continue
        for qual, name, lo, hi in _symbols(p, tree):
            if not any(
                rp != p or not lo <= line <= hi for rp, line in refs.get(name, [])
            ):
                dead.add(qual)
    return dead


def test_every_symbol_has_a_non_test_caller():
    dead = unreferenced()
    extra = sorted(dead - ALLOWED.keys())
    assert not extra, f"nothing outside tests reaches: {extra}"
    stale = sorted(ALLOWED.keys() - dead)
    assert not stale, f"stale allowlist entries: {stale}"
