"""Text analysis operators for training-data pipelines: token statistics,
heuristic language ID, quality scoring, and document fingerprinting over the
``documents`` table.

All pure column expressions (codegen, no UDFs, no shuffles beyond the final
aggregation a caller adds), each with an exact DuckDB-oracle formulation:
arithmetic uses fixed-association folds and integer ratios so values are
bit-identical across engines.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.operators.dedup import (
    h64,
    let,
    shingles_col,
    tokens_col,
)

# Tiny per-language stopword lists for the n-gram/stopword-ratio heuristic.
# Chosen from high-frequency function words; the heuristic's value here is
# the distributed-scoring shape, not linguistic accuracy.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "a", "of", "and", "is", "to", "in", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


# Letter runs | digit runs | single non-alphanumeric marks: a GPT-2-style
# pre-tokenization, minus the lookahead/contraction constructs, so the same
# pattern runs under both Java regex (Spark) and RE2 (DuckDB). The three
# branches match disjoint character classes, so alternation-order semantics
# cannot differ between engines.
BPE_SPLIT_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_token_count(text: Column) -> Column:
    """Subword-pre-tokenizer token count (BPE-ish): counts the non-overlapping
    matches of :data:`BPE_SPLIT_RE` — the unit a BPE vocabulary would split
    further. Pure JVM regexp, no UDF."""
    return F.regexp_count(text, F.lit(BPE_SPLIT_RE))


def predicted_lang(text: Column) -> Column:
    """First language (code order) attaining the maximum stopword ratio —
    a deterministic argmax whose CASE-chain form is written identically in
    the DuckDB oracle.

    Null text propagates NULL (it used to fall through every null CASE
    condition to the last code — a concrete 'zh' label on a missing
    document skews per-language corpus statistics). The tokenization and
    the per-language ratios are let-bound so each is computed once per
    row: HOF projections run interpreted with no subexpression
    elimination, and the naive form re-tokenized the text ~15x per row
    (greatest + every CASE arm) on corpus-wide scans."""
    langs = sorted(LANG_STOPWORDS)

    def ratio(toks: Column, stopwords: list[str]) -> Column:
        sw = F.array(*[F.lit(s) for s in stopwords])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / F.size(toks)

    def pick(scores: Column) -> Column:
        m = F.greatest(*[scores[f"s_{lang}"] for lang in langs])
        out = F.when(scores[f"s_{langs[0]}"] == m, F.lit(langs[0]))
        for lang in langs[1:-1]:
            out = out.when(scores[f"s_{lang}"] == m, F.lit(lang))
        return out.otherwise(F.lit(langs[-1]))

    def with_toks(toks: Column) -> Column:
        return let(
            F.struct(
                *[
                    ratio(toks, LANG_STOPWORDS[lang]).alias(f"s_{lang}")
                    for lang in langs
                ]
            ),
            pick,
        )

    return F.when(text.isNull(), F.lit(None).cast("string")).otherwise(
        let(tokens_col(text), with_toks)
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + mean token length
    band + non-alnum ratio penalty. Fixed-association arithmetic.

    Empty text scores 0.0 by definition — the clean-character ratio would
    otherwise divide by zero, which ANSI mode turns into a job-killing
    error on the first empty document of a raw corpus."""
    n_chars = F.length(text)
    n_toks = token_count(text)
    mean_tok = n_chars / n_toks
    # share of characters that are letters/digits/space
    clean = F.length(F.regexp_replace(text, "[^a-z0-9 ]", ""))
    clean_ratio = clean / n_chars
    length_band = F.when((n_chars >= 100) & (n_chars <= 2000), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    tok_band = F.when((mean_tok >= 3.0) & (mean_tok <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return F.when(n_chars == 0, F.lit(0.0)).otherwise(
        length_band * 0.4 + tok_band * 0.3 + clean_ratio * 0.3
    )


def fingerprint(text: Column, shingle_n: int = 3) -> Column:
    """Min-shingle-hash document fingerprint (winnowing-lite): stable under
    small edits away from the minimal shingle; bigint, md5-derived."""
    return F.array_min(F.transform(shingles_col(text, shingle_n), lambda s: h64(s, 0)))


#: Mersenne prime 2^31-1: keeps the polynomial fold's intermediate
#: acc*base + h under 2^40, safely inside ANSI bigint arithmetic
ROLLING_MOD = 2_147_483_647
ROLLING_BASE = 257


def rolling_hash(text: Column) -> Column:
    """Polynomial (Rabin-Karp) rolling hash of the token-hash sequence:
    ``H = fold(acc·B + h_i mod M)`` — one O(n) left fold per document, all
    codegen. The whole-document form of the rolling-window hash family."""
    toks = tokens_col(text)
    return F.aggregate(
        F.transform(toks, lambda t: F.pmod(h64(t), F.lit(ROLLING_MOD))),
        F.lit(0).cast("bigint"),
        lambda acc, h: F.pmod(acc * ROLLING_BASE + h, F.lit(ROLLING_MOD)),
    )


def winnow_fingerprints(text: Column, k: int = 3, window: int = 4) -> Column:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    the MOSS algorithm): hash every k-gram, then keep the minimum hash of
    each sliding window of ``window`` k-gram hashes; the distinct sorted
    minima are the document's fingerprint set. Guarantees any shared run of
    ``window + k - 1`` tokens between two documents shares a fingerprint.

    Pure array expressions; docs shorter than ``k`` tokens fingerprint to an
    empty array (explode drops them)."""
    def mins_of(kh: Column) -> Column:
        # let-bound: HOF projections run interpreted without subexpression
        # elimination, so every branch referencing kh would otherwise
        # recompute the full k-gram hash array
        m = F.size(kh)
        return (
            F.when(m == 0, F.array().cast("array<bigint>"))
            .when(m <= window, F.array(F.array_min(kh)))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), m - (window - 1)),
                    lambda j: F.array_min(F.slice(kh, j, window)),
                )
            )
        )

    def fingerprints(toks: Column) -> Column:
        n = F.size(toks)
        kgrams = F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        kh = F.transform(kgrams, lambda g: F.pmod(h64(g), F.lit(ROLLING_MOD)))
        return let(kh, mins_of)

    return F.array_sort(F.array_distinct(let(tokens_col(text), fingerprints)))


def bm25_topk(
    docs,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """BM25 relevance ranking of documents against a fixed term set — the
    full-text retrieval verb a curation pipeline uses for topic filtering
    ("pull the top-N docs about X into the mixture").

    Engineering shape: per-term term frequencies are array-HOF counts over
    the tokenized text (no explode, no posting-list shuffle — each doc is
    scored in place), corpus statistics (doc count, total length, per-term
    document frequencies) come from ONE auxiliary aggregation broadcast as
    a single row, and the score is a fixed-order sum of per-term
    contributions. Only docs containing at least one query term survive,
    then a global top-k.

    Determinism contract (what makes this hash-oracle-able): idf uses the
    RATIONAL form ``(N - df + 0.5) / (df + 0.5)`` instead of the customary
    ``ln`` of it — ``ln`` is evaluated by each engine's libm and is not
    bit-portable, while the rational form is plain IEEE arithmetic. This
    makes the scorer a documented BM25 VARIANT, not a rescaling: ln is
    monotone per term, but the cross-term SUM weights rare terms far more
    heavily under the rational form (idf ratios compound instead of
    adding), and common terms (df > N/2) keep a small positive weight
    where log-idf would go negative — multi-term rankings can differ from
    textbook BM25. The trade is deliberate: single-term rankings are
    identical, the variant is stated here, and cross-engine bit-equality
    is what the oracle gate needs. All tf/df/length inputs are integers;
    the float expression tree (including the term-order sum) is identical
    on both engines.

    At 100 TB: two scans of the corpus (statistics + scoring — the
    statistics pass prunes to tokenized lengths only), a 1-row broadcast,
    and a top-k exchange of only surviving docs.
    """
    terms = [t.lower() for t in query_terms]
    toks = tokens_col(F.lower(F.col(text_col)))

    def tf(term: str) -> Column:
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        *[tf(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )

    def contribution(i: int) -> Column:
        tf_i = F.col(f"tf_{i}").cast("double")
        idf = (
            F.col("n_docs").cast("double") - F.col(f"df_{i}").cast("double") + F.lit(0.5)
        ) / (F.col(f"df_{i}").cast("double") + F.lit(0.5))
        norm = F.lit(k1) * (
            F.lit(1.0)
            - F.lit(b)
            + F.lit(b)
            * F.col("dl").cast("double")
            * F.col("n_docs").cast("double")
            / F.col("sum_dl").cast("double")
        )
        return F.when(
            F.col(f"tf_{i}") > 0,
            idf * (tf_i * F.lit(k1 + 1.0)) / (tf_i + norm),
        ).otherwise(F.lit(0.0))


    score = functools.reduce(
        lambda acc, c: acc + c, [contribution(i) for i in range(len(terms))]
    )
    any_hit = functools.reduce(
        lambda acc, c: acc | c, [F.col(f"tf_{i}") > 0 for i in range(len(terms))]
    )
    return (
        base.crossJoin(F.broadcast(stats))
        .filter(any_hit)
        .withColumn("score", score)
        .orderBy(F.desc("score"), F.asc_nulls_last(id_col))
        .limit(k)
        .select(id_col, "score")
    )


def repetition_stats(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", arXiv:2112.11446 §A1.1 — the
    duplicate-token and top-n-gram-fraction document filters): per
    document, the fraction of repeated tokens and the share of characters
    claimed by the single most frequent word bigram. High values flag
    boilerplate/spam documents a corpus filter drops before training.

    Output: ``(id, n_toks, n_distinct_toks, rep_token_frac, top_bigram,
    top_bigram_n, top_bigram_char_frac)``; documents with fewer than two
    tokens carry NULL bigram columns.

    Engineering shape: the distinct-token stats are per-row array HOFs (no
    shuffle); the top-bigram search explodes bigrams and aggregates per
    (doc, bigram) — one hash exchange keyed by document id, partial
    map-side combine, no all-pairs work. The char fraction multiplies
    integers and divides once, capped at 1.0 (overlapping occurrences can
    claim a character twice — same caveat as the Gopher paper), so values
    are bit-identical in the DuckDB oracle.
    """
    toks = tokens_col(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("__n_chars"),
        toks.alias("__toks"),
    )
    stats = base.select(
        id_col,
        "__n_chars",
        F.size("__toks").cast("bigint").alias("n_toks"),
        F.size(F.array_distinct("__toks")).cast("bigint").alias("n_distinct_toks"),
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("__toks") - 1),
        lambda i: F.concat_ws(" ", F.slice("__toks", i, 2)),
    )
    grams = base.filter(F.size("__toks") >= 2).select(
        id_col, F.explode(bigrams).alias("bigram")
    )
    # Keep the row_number() formulation deliberately (r11 negative result):
    # an argmax rewrite as min(struct(-n, bigram)) was measured and
    # REVERTED — struct-typed min is not hash-aggregable, so it planned as
    # Sort + SortAggregate twice, while this window gets Spark 4's
    # WindowGroupLimit pushdown: a map-side top-1 per doc BELOW the
    # exchange (only ~1 row per (doc, map partition) crosses the wire),
    # which is already the minimal shuffle for a per-doc argmax.
    w = Window.partitionBy(id_col).orderBy(F.desc("n"), F.asc("bigram"))
    top = (
        grams.groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col("bigram").alias("top_bigram"),
            F.col("n").alias("top_bigram_n"),
        )
    )
    return stats.join(top, on=id_col, how="left").select(
        id_col,
        "n_toks",
        "n_distinct_toks",
        ((F.col("n_toks") - F.col("n_distinct_toks")) / F.col("n_toks")).alias(
            "rep_token_frac"
        ),
        "top_bigram",
        "top_bigram_n",
        # guard the NULL case explicitly: F.least SKIPS nulls, so a
        # <2-token doc would otherwise score 1.0 (maximal boilerplate)
        # instead of the documented NULL
        F.when(
            F.col("top_bigram_n").isNull(), F.lit(None).cast("double")
        ).otherwise(
            F.least(
                F.lit(1.0),
                (F.col("top_bigram_n") * F.length("top_bigram")) / F.col("__n_chars"),
            )
        ).alias("top_bigram_char_frac"),
    )
