"""Plan inspection helpers — make physical-plan properties assertable.

The engine's scale posture lives in physical plan properties (broadcasts
instead of sort-merge joins, filters inside ``PushedFilters``, one exchange
where one suffices). These helpers read them programmatically so tests —
and users tuning their own queries — can gate on the plan rather than
eyeball ``explain()`` output. Every ✔ claim in SCALE.md is asserted through
these (``tests/test_plans.py``).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The ``explain("formatted")`` text of ``df``'s physical plan: a node
    tree followed by per-node detail sections ``(N) <NodeName>``."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def count_nodes(plan: str | DataFrame, name: str) -> int:
    """Number of physical nodes named ``name``, counted by their detail
    header ``(N) <name>`` (the tree section would double-count)."""
    if isinstance(plan, DataFrame):
        plan = formatted_plan(plan)
    return len(re.findall(rf"^\(\d+\) {name}\b", plan, flags=re.M))


def pushed_filters(plan: str | DataFrame) -> list[str]:
    """Every ``PushedFilters`` list in the plan's scans, one string per scan
    — empty brackets mean the scan reads unfiltered. The closing bracket is
    the first ``]`` followed by end-of-line or a ``, Field:`` label: a bare
    lazy match would truncate inside an ``In(col, [a,b])`` pushdown's own
    brackets, while a bare greedy one would absorb any bracketed field a
    single-line scan rendering prints after PushedFilters."""
    if isinstance(plan, DataFrame):
        plan = formatted_plan(plan)
    return re.findall(
        r"PushedFilters: \[(.*?)\](?=\s*$|, \w+:)", plan, flags=re.M
    )


def plan_fingerprint(plan: str | DataFrame) -> str:
    """Stable 12-hex-char fingerprint of a physical plan's SHAPE.

    Canonicalizes the ``explain("formatted")`` text by stripping every
    run-varying token — expression ids (``col#123``), node/plan ids,
    codegen stage ids, cached-relation object addresses — so the same
    logical query compiled in two different sessions (or rounds) hashes
    identically, while any real plan change (an extra exchange, a join
    strategy flip, a lost pushed filter) changes the hash.

    Purpose (round-5 verdict item 2): ``bench.py`` records this next to
    each query's timing, making the noise-vs-regression adjudication
    mechanical — three straight rounds produced phantom slowdowns from
    shared-host scheduler stalls (q17/q21 in r5, f2/g2 in r4) that each
    cost a manual plan-diff audit. Rule: timing moved but ``plan_hash``
    unchanged ⇒ host noise; ``plan_hash`` changed ⇒ a real plan change
    to audit.
    """

    if isinstance(plan, DataFrame):
        plan = formatted_plan(plan)
    canon = plan
    canon = re.sub(r"#\d+", "#", canon)              # expression ids
    canon = re.sub(r"^\(\d+\)", "()", canon, flags=re.M)  # node numbers
    canon = re.sub(r"\[plan_id=\d+\]", "", canon)    # exchange/subquery ids
    canon = re.sub(r"\[id=#?\d*\]", "", canon)
    canon = re.sub(r"subquery\d+", "subquery", canon)
    canon = re.sub(r"cte\d+", "cte", canon)
    canon = re.sub(r"codegen id : \d+", "codegen", canon)
    canon = re.sub(r"0x[0-9a-f]+", "0x", canon)      # object addresses
    # localCheckpoint/cache scans print their run-varying RDD id
    # (MapPartitionsRDD[115] at localCheckpoint at ...) — found as the
    # one nondeterministic hash in a bench-twice compare (dedup_components)
    canon = re.sub(r"RDD\[\d+\]", "RDD[]", canon)
    # HOF lambda variables print with a SESSION-GLOBAL counter suffix
    # (`lambda x_3#` in a fresh session, `lambda x_417#` after other
    # queries ran) — un-canonicalized, a lambda-count change in ANY
    # earlier query cascades phantom "plan changes" onto every later
    # fingerprint in the bench loop (found when ten unrelated hashes
    # drifted together in round 7; bench order being fixed had masked it)
    canon = re.sub(r"\b(lambda \w+?)_\d+#", r"\1_#", canon)
    # InMemoryFileIndex elides long path lists nondeterministically
    canon = re.sub(r"\[[^\]]*\.\.\. \d+ entries\]", "[paths]", canon)
    # Scan locations are DATA-DIRECTORY text, not plan shape: hashing the
    # paths would flag a phantom "plan change" for every query the moment
    # the bench data moves (a relocated/symlinked sf dir), defeating the
    # adjudication rule. Blank the whole bracket on Location lines (short
    # path lists print verbatim, bypassing the elision rule above), then
    # any stray scheme-qualified URI elsewhere (streaming sources, sinks).
    canon = re.sub(
        r"^(Location: \w+(?:\([^)]*\))?) ?\[[^\]]*\]",
        r"\1 [paths]",
        canon,
        flags=re.M,
    )
    canon = re.sub(r"\b(?:file|hdfs|s3a?n?|abfss?|gs|wasbs?):/[^\s,\]\)]*", "<path>", canon)
    # Partition counts follow the host's core count (shuffle.partitions,
    # spread_small's round-robin), not the plan's shape: blank them so one
    # tree hashes the same on every host. partition_widths() reports them.
    for start, end in reversed(_width_spans(canon)):
        canon = canon[:start] + "N" + canon[end:]
    return hashlib.md5(canon.encode()).hexdigest()[:12]


def _call_args(plan: str, name: str):
    """(offset, text) of the argument list of every ``name(...)`` call in
    ``plan``. Paren-balanced: keys are often expression-wrapped —
    hashpartitioning(knownfloatingpointnormalized(normalizenanandzero(v#5)),
    k#1, 200) — so a [^)]* regex would truncate at the first ')' and drop
    trailing arguments."""
    for m in re.finditer(rf"\b(?:{name})\(", plan):
        depth, i = 1, m.end()
        while i < len(plan) and depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        yield m.end(), plan[m.end() : i - 1]


def _width_spans(plan: str) -> list[tuple[int, int]]:
    """(start, end) of the partition count, the last argument, of every
    hash, range and round-robin partitioning in ``plan``."""
    spans = []
    kinds = "hashpartitioning|rangepartitioning|RoundRobinPartitioning"
    for at, args in _call_args(plan, kinds):
        n = re.search(r"(\d+)\s*$", args)
        if n:
            spans.append((at + n.start(1), at + n.end(1)))
    return spans


def partition_widths(plan: str | DataFrame) -> list[int]:
    """The partition count of every hash, range and round-robin
    partitioning in the plan, in order of appearance: what
    :func:`plan_fingerprint` blanks, so a deliberate width change stays
    visible next to the hash."""
    if isinstance(plan, DataFrame):
        plan = formatted_plan(plan)
    return [int(plan[a:b]) for a, b in _width_spans(plan)]


def hash_exchange_keys(plan: str | DataFrame) -> list[tuple[str, ...]]:
    """The FULL key tuple of every ``hashpartitioning`` exchange in the
    plan, in order of appearance. A single-group regex like
    ``hashpartitioning\\((\\w+)#`` sees only the first column, so a
    regression that turns a one-key exchange into a compound-key one
    (``hashpartitioning(sensor_id#1, run#2, 200)``) slips through; this
    parses the whole argument list and drops the trailing partition
    count."""
    if isinstance(plan, DataFrame):
        plan = formatted_plan(plan)
    out: list[tuple[str, ...]] = []
    for _, args in _call_args(plan, "hashpartitioning"):
        cols = tuple(c.group(1) for c in re.finditer(r"(\w+)#\d+", args))
        if cols:
            out.append(cols)
    return out
