"""Census of the package's top-level defs: nothing unreached stays.

A top-level def or class in the package must be reached from code that
runs outside ``tests/`` — package module code, ``bench.py``,
``__spark_entry__.py`` or perfbench's non-test modules — or be one of the
reference capabilities in ``PUBLIC_API``. Reachability is transitive: a
helper called only by an unreached def is unreached too. Anything else is
a code path no query, workload or reference capability executes, so the
test names it and fails; it also fails when a ``PUBLIC_API`` entry no
longer exists. Pure AST scan, no Spark session.

What counts as a use: ``Name`` and ``Attribute`` nodes and identifier-like
string constants (``getattr``/registry names), with ``import … as``
aliases resolved. ``__all__`` entries and a def's own body do not count.
Matching is by bare name, so a def shadowed by a same-named attribute
elsewhere can pass; the census errs towards keeping code.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "time_series_and_data_lakes_spark"

#: Reference capabilities kept as public API although no query or workload
#: calls them: "module.def" -> why (SURVEY.md §2 id or reason).
PUBLIC_API = {
    "functions.ago": "P5: the reference's relative time filter ago(15m)",
    "operators.timeseries.sequence_grid": "W1: SEQUENCE(min, max, step) grid",
    "operators.timeseries.sequence_ts": "W1: the grid in the reference's call shape",
    "operators.timeseries.interpolate_linear_ts": "W2: INTERPOLATE_LINEAR(CREATE_TIME_SERIES(...), SEQUENCE(...))",
    "operators.timeseries.interpolate_locf_ts": "W3: INTERPOLATE_LOCF(CREATE_TIME_SERIES(...), SEQUENCE(...))",
    "sources.catalog.crawl_and_register": "S10: Glue crawler catalog registration",
    "sources.csv_tables.read_headered_csv": "S11: Athena external headered CSV table",
    "sources.csv_tables.register_view": "S12: CREATE OR REPLACE VIEW",
    "sources.export.backfill": "S13/T12: historical backfill over past windows",
    "streaming.retention.expire_partitions": "S7: magnetic-store retention TTL",
    "streaming.retention.compact_partitions": "S7: small-file compaction of the narrow store",
    "session.stop_spark": "lifecycle twin of get_spark",
    "plans.count_nodes": "plan-introspection API (physical node counts)",
    "plans.pushed_filters": "plan-introspection API (scan PushedFilters)",
    "plans.hash_exchange_keys": "plan-introspection API (hash exchange keys)",
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_name(path: Path) -> str:
    rel = path.relative_to(PKG).with_suffix("")
    parts = [p for p in rel.parts if p != "__init__"]
    return ".".join(parts)


def _uses(node: ast.AST, aliases: dict[str, str]) -> set[str]:
    """Names used under ``node``, skipping ``__all__`` assignments."""
    out: set[str] = set()
    todo = [node]
    while todo:
        n = todo.pop()
        if isinstance(n, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            if any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets):
                continue
        if isinstance(n, ast.Name):
            out.add(aliases.get(n.id, n.id))
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
        todo.extend(ast.iter_child_nodes(n))
    return out


def _scan(path: Path):
    """(top-level def nodes, names used at module level, names used in
    each def's body keyed by def name)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    aliases = {
        a.asname: a.name.rsplit(".", 1)[-1]
        for n in ast.walk(tree)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
        if a.asname
    }
    defs = [n for n in tree.body if isinstance(n, _DEF)]
    top = set()
    for n in tree.body:
        if not isinstance(n, _DEF):
            top |= _uses(n, aliases)
    return defs, top, {d.name: _uses(d, aliases) for d in defs}


def census() -> tuple[list[str], list[str]]:
    """(unreached unlisted defs as ``module.def``, stale PUBLIC_API entries)."""
    bodies: dict[str, set[str]] = {}  # "module.def" -> names its body uses
    by_name: dict[str, list[str]] = {}  # def name -> its "module.def" keys
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        nodes, top, body_uses = _scan(path)
        roots |= top
        for d in nodes:
            key = f"{_module_name(path)}.{d.name}"
            bodies[key] = body_uses[d.name]
            by_name.setdefault(d.name, []).append(key)
    outside = [REPO / "bench.py", REPO / "__spark_entry__.py"] + [
        p for p in sorted((REPO / "perfbench").glob("*.py"))
        if not p.name.startswith("test_")
    ]
    for path in outside:
        _, top, body_uses = _scan(path)
        roots |= top.union(*body_uses.values())

    # a used name reaches every def of that name; a PUBLIC_API entry only
    # its own module's def
    reached: set[str] = set()
    todo = [k for n in roots for k in by_name.get(n, [])]
    todo += [k for k in PUBLIC_API if k in bodies]
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            todo.extend(k for n in bodies[key] for k in by_name.get(n, []))
    unreached = sorted(set(bodies) - reached)
    stale = sorted(set(PUBLIC_API) - set(bodies))
    return unreached, stale


def test_every_package_def_is_reached_or_public_api():
    unreached, _ = census()
    assert not unreached, (
        "top-level defs that nothing outside tests/ reaches and that are "
        "not in PUBLIC_API — delete them (with their tests) or list a "
        f"reference capability they serve: {unreached}"
    )


def test_public_api_entries_exist():
    _, stale = census()
    assert not stale, f"PUBLIC_API names defs that no longer exist: {stale}"
