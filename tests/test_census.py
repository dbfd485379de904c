"""Census of the package's top-level defs and constants: nothing
unreached stays.

A top-level def, class or UPPER_CASE constant assignment in the package
must be reached from code that runs outside ``tests/`` — package module
code, ``bench.py``, ``__spark_entry__.py`` or perfbench's non-test modules
— or be one of the reference capabilities in ``PUBLIC_API``. Reachability
is transitive: a helper called only by an unreached def, or listed only in
an unreached constant, is unreached too. Anything else is a code path or
value no query, workload or reference capability reads, so the test names
it and fails; it also fails when a ``PUBLIC_API`` entry no longer exists.
Pure AST scan, no Spark session.

What counts as a use: ``Name`` and ``Attribute`` nodes and identifier-like
string constants (``getattr``/registry names), with ``import … as``
aliases resolved. ``__all__`` entries, a def's own body and a constant's
own assignment do not count. Matching is by bare name, so a def shadowed
by a same-named attribute elsewhere can pass; the census errs towards
keeping code.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "time_series_and_data_lakes_spark"

#: Reference capabilities kept as public API although no query or workload
#: reads them: "module.name" -> why (SURVEY.md §2 id or reason).
PUBLIC_API = {
    "functions.ago": "P5: the reference's relative time filter ago(15m)",
    "operators.timeseries.sequence_grid": "W1: SEQUENCE(min, max, step) grid",
    "operators.timeseries.sequence_ts": "W1: the grid in the reference's call shape",
    "operators.timeseries.interpolate_linear_ts": "W2: INTERPOLATE_LINEAR(CREATE_TIME_SERIES(...), SEQUENCE(...))",
    "operators.timeseries.interpolate_locf_ts": "W3: INTERPOLATE_LOCF(CREATE_TIME_SERIES(...), SEQUENCE(...))",
    "sources.catalog.crawl_and_register": "S10: Glue crawler catalog registration",
    "sources.csv_tables.read_headered_csv": "S11: Athena external headered CSV table",
    "sources.csv_tables.register_view": "S12: CREATE OR REPLACE VIEW",
    "sources.csv_tables.CUSTOMER_DATA_SCHEMA": "S11: the customer_data table's declared columns",
    "sources.csv_tables.SENSOR_MAPPING_SCHEMA": "S11: the sensor_mapping table's declared columns",
    "sources.export.backfill": "S13/T12: historical backfill over past windows",
    "streaming.retention.expire_partitions": "S7: magnetic-store retention TTL",
    "streaming.retention.compact_partitions": "S7: small-file compaction of the narrow store",
    "session.stop_spark": "lifecycle twin of get_spark",
    "plans.count_nodes": "plan-introspection API (physical node counts)",
    "plans.pushed_filters": "plan-introspection API (scan PushedFilters)",
    "plans.hash_exchange_keys": "plan-introspection API (hash exchange keys)",
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*")


def _constant_names(node: ast.stmt) -> list[str]:
    """The UPPER_CASE names a top-level ``X = …`` / ``X: t = …`` binds;
    empty for any other statement or target shape."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    if all(isinstance(t, ast.Name) and _CONSTANT.fullmatch(t.id) for t in targets):
        return [t.id for t in targets]
    return []


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
    """(names used at module level outside top-level defs and constants,
    names each def's body or constant's value uses keyed by its name)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    aliases = {
        a.asname: a.name.rsplit(".", 1)[-1]
        for n in ast.walk(tree)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
        if a.asname
    }
    bodies: dict[str, set[str]] = {}
    top = set()
    for n in tree.body:
        if isinstance(n, _DEF):
            bodies[n.name] = _uses(n, aliases)
        elif names := _constant_names(n):
            for name in names:
                bodies.setdefault(name, set()).update(_uses(n.value, aliases))
        else:
            top |= _uses(n, aliases)
    return top, bodies


def census() -> tuple[list[str], list[str]]:
    """(unreached unlisted defs and constants as ``module.name``, stale
    PUBLIC_API entries)."""
    bodies: dict[str, set[str]] = {}  # "module.name" -> names its body uses
    by_name: dict[str, list[str]] = {}  # bare name -> its "module.name" keys
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        top, body_uses = _scan(path)
        roots |= top
        for name in body_uses:
            key = f"{_module_name(path)}.{name}"
            bodies[key] = body_uses[name]
            by_name.setdefault(name, []).append(key)
    outside = [REPO / "bench.py", REPO / "__spark_entry__.py"] + [
        p for p in sorted((REPO / "perfbench").glob("*.py"))
        if not p.name.startswith("test_")
    ]
    for path in outside:
        top, body_uses = _scan(path)
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
        "top-level defs and constants that nothing outside tests/ reaches "
        "and that are not in PUBLIC_API — delete them (with their tests) or list a "
        f"reference capability they serve: {unreached}"
    )


def test_public_api_entries_exist():
    _, stale = census()
    assert not stale, f"PUBLIC_API names defs that no longer exist: {stale}"
