"""Extension query catalog: the LLM-training-data-pipeline operators
(dedup, similarity search, text analysis) as driver-contract queries with
DuckDB oracles (BASELINE.json north star; SURVEY.md §7 phase 6).

Every oracle SQL here is generated to mirror the Spark expression tree
token-for-token where floats are involved (same fold association, same hash
derivation, same literals), so value hashes match bit-exactly — the
determinism contract is documented in each operator module.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.operators import dedup as D
from time_series_and_data_lakes_spark.operators.dedup import (
    MERSENNE_61,
    minhash_params,
    spread_small,
    tokens_col,
)
from time_series_and_data_lakes_spark.operators.graph import connected_components
from time_series_and_data_lakes_spark.sources.stats import parquet_footer_rows
from time_series_and_data_lakes_spark.operators.text import bm25_topk
from time_series_and_data_lakes_spark.operators import similarity as S
from time_series_and_data_lakes_spark.operators import text as X
from time_series_and_data_lakes_spark.operators.similarity import (
    pq_encode,
    pq_topk,
    quantize_embedding,
)
from time_series_and_data_lakes_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    audio_stats,
    avi_encode,
    bmp_encode,
    decode_media,
    extract_frames,
    frame_sample,
    pack_fake_payload,
    pixel_stats,
    ppm_encode,
    resample_audio,
    resize_media,
    wav_encode,
)

# shared SQL fragments ------------------------------------------------------

_H64 = "('0x' || substr(md5({seed} || ':' || {s}), 1, 15))::BIGINT"


def _h64_sql(s: str, seed: int | str = 0) -> str:
    return _H64.format(seed=f"'{seed}'", s=s)


_TOKS = "string_split(text, ' ')"
_SHINGLES = (
    "list_distinct(list_transform(generate_series(0, len(toks) - 3), "
    "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))"
)
_FOLD_SUM = "list_reduce({lst}, (acc, x) -> acc + x)"


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    prods = f"list_transform(generate_series(1, {dim}), i -> {a}[i] * {b}[i])"
    return _FOLD_SUM.format(lst=prods)


def _cosine_sql(a: str, b: str, dim: int = 64) -> str:
    return (
        f"{_dot_sql(a, b, dim)} / "
        f"(sqrt({_dot_sql(a, a, dim)}) * sqrt({_dot_sql(b, b, dim)}))"
    )


def _load_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spread_small(spark.read.parquet(f"{sf_dir}/documents.parquet"))


# Rows per task for the multimodal Python codec chains (below): sized so a
# task's Arrow batches amortize the per-stage Python worker round trip
# (~0.2 s even for a near-empty task — the r10 host fact) while staying a
# fraction of spark.sql.execution.arrow.maxRecordsPerBatch (10k) so a task
# still streams multiple batches.
_PY_ROWS_PER_TASK = 2048


def _media_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents loader for the multimodal fixture builders, whose plans are
    chains of 2-3 ``mapInPandas`` stages. ``spread_small``'s core-count
    spread is the wrong sizing for those: every task of every Python stage
    pays a worker round trip even when near-empty, so a 32-way spread of a
    5k-row fixture costs 64-96 handshakes for microseconds of work each
    (r10's one real regression: multimodal_decode_stats 0.81 -> 2.60 s at 32
    cores while running 0.43 s at 8). Bound the task count by DATA VOLUME
    instead: ceil(n_rows / _PY_ROWS_PER_TASK), capped at defaultParallelism,
    with n_rows from parquet footer metadata (no Spark job — same contract
    as the ago() anchor). Never coalesces a wider scan down (at 100 TB the
    scan's own splits already size tasks by bytes; this only guards the
    small-input regime), and falls back to spread_small when footer
    metadata is unavailable."""
    path = f"{sf_dir}/documents.parquet"
    df = spark.read.parquet(path)
    n_rows = parquet_footer_rows(path)
    if n_rows is None:
        return spread_small(df)
    target = max(1, min(
        spark.sparkContext.defaultParallelism,
        -(-n_rows // _PY_ROWS_PER_TASK),
    ))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # require_vectors at INGRESS (r10): every embeddings catalog query
    # raises a shared named error on a NULL or non-finite vector — see
    # operators.similarity.require_vectors for why ingress-only.
    return S.require_vectors(
        spread_small(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    )


# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_load_docs(spark, sf_dir))


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_dedup(_load_docs(spark, sf_dir), threshold=0.8)


def _minhash_oracle(num_hashes: int = 8, bands: int = 4, threshold: float = 0.8) -> str:
    r = num_hashes // bands
    mins = ", ".join(
        f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {MERSENNE_61}))"
        for a, b in minhash_params(num_hashes)
    )
    band_sigs = ", ".join(
        "md5('{b}|' || {parts})".format(
            b=b,
            parts=" || ',' || ".join(f"mh[{b * r + i + 1}]::VARCHAR" for i in range(r)),
        )
        for b in range(bands)
    )
    base_hash = _h64_sql("s", 0)
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
), hashed AS (
  SELECT doc_id, sh, list_transform(sh, s -> {base_hash} % 2147483648) AS hs FROM sh
), sig AS (
  SELECT doc_id, sh, [{mins}] AS mh FROM hashed
), bands AS (
  SELECT doc_id, unnest([{band_sigs}]) AS band_sig FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_sig = b.band_sig AND a.doc_id < b.doc_id
), verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
         len(sa.sh) AS na, len(sb.sh) AS nb
  FROM cand c
  JOIN sh sa ON c.doc_a = sa.doc_id
  JOIN sh sb ON c.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, inter / (na + nb - inter) AS jaccard
FROM verified WHERE inter / (na + nb - inter) >= {threshold}
"""


DEDUP_MINHASH_ORACLE = _minhash_oracle()


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate *groups*: MinHash-LSH pairs fed through distributed
    connected components (large-star/small-star, `operators/graph.py`) —
    every doc in a dup cluster labeled with the cluster's min doc_id. The
    DuckDB oracle computes the same fixpoint with a recursive CTE."""

    pairs = D.minhash_lsh_dedup(_load_docs(spark, sf_dir), threshold=0.8).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(
        pairs,
        "doc_a",
        "doc_b",
        # the verify path already emits deduplicated strict doc_a < doc_b
        # pairs (dropDuplicates + the a < b filter): skip the ingress
        # edge-set dedup exchange
        assume_distinct=True,
    )
    # No final orderBy: a global presentation sort over the full label set
    # is a range-partitioning exchange that buys nothing at scale (the
    # driver's correctness hash is order-insensitive; a writer that needs
    # sorted output sorts within its own partitioning).
    return labels.select(
        F.col("node").alias("doc_id"), F.col("component").alias("component_id")
    ).withColumn(
        "component_size", F.count("*").over(Window.partitionBy("component_id"))
    )


# Shared recursive fixpoint over a `pairs` CTE — the SQL twin of
# operators/graph.py::connected_components, used by every oracle that
# labels dup clusters (a second hand-copy of this block once risked the
# two formulations silently diverging).
_COMPONENTS_CTES = """sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
labels AS (
  SELECT a AS doc_id, least(a, min(b)) AS component_id FROM reach GROUP BY a
)"""


def _components_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
{_COMPONENTS_CTES}
SELECT doc_id, component_id,
       count(*) OVER (PARTITION BY component_id) AS component_size
FROM labels
"""


DEDUP_COMPONENTS_ORACLE = _components_oracle()


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard similarity join (inverted index), threshold 0.5 —
    ground truth for the MinHash/SimHash approximations.

    ``max_df=5`` stop-lists stock shingles so a phrase occurring in 10^6
    docs cannot create a ~10^12-pair bucket (the df² blowup AQE can split
    but not cap). Production sets max_df to the tolerable per-shingle pair
    count (a shingle with df docs yields df²/2 candidate pairs); 5 is
    scale-proportionate for the sf0.01/sf0.1 corpora (max observed df 7/25).
    Pruned shingles still count toward union sizes, so reported jaccard is
    a documented lower bound; ``max_df=None`` keeps the join exact."""
    return D.ngram_jaccard_pairs(_load_docs(spark, sf_dir), threshold=0.5, max_df=5)


def _ngram_jaccard_oracle(threshold: float = 0.5, max_df: int | None = None) -> str:
    # Mirrors operators/dedup.py:ngram_jaccard_pairs exactly: df counted on
    # the UNpruned posting list, stop-list applied to both join sides via
    # anti join, per-doc sizes from the unpruned shingle sets.
    if max_df is None:
        post_cte = "post AS (\n  SELECT doc_id, unnest(sh) AS shingle FROM sh\n)"
    else:
        post_cte = f"""post0 AS (
  SELECT doc_id, unnest(sh) AS shingle FROM sh
), stop AS (
  SELECT shingle FROM post0 GROUP BY shingle HAVING count(*) > {max_df}
), post AS (
  SELECT p.doc_id, p.shingle FROM post0 p ANTI JOIN stop s ON p.shingle = s.shingle
)"""
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
), sz AS (
  SELECT doc_id, len(sh) AS n FROM sh
), {post_cte}, common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common / (sa.n + sb.n - common) AS jaccard
FROM common
JOIN sz sa ON common.doc_a = sa.doc_id
JOIN sz sb ON common.doc_b = sb.doc_id
WHERE common / (sa.n + sb.n - common) >= {threshold}
"""


DEDUP_NGRAM_JACCARD_ORACLE = _ngram_jaccard_oracle(max_df=5)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 48 bits: more discriminative on a shared-vocabulary corpus (32-bit
    # fingerprints collide broadly there), still safely inside bigint.
    out = D.simhash_dedup(_load_docs(spark, sf_dir), n_bits=48, max_hamming=2)
    return out.withColumn("hamming", F.col("hamming").cast("bigint"))


def _simhash_oracle(n_bits: int = 32, max_hamming: int = 3, n_bands: int = 4) -> str:
    bpb = n_bits // n_bands
    mask = (1 << bpb) - 1
    band_keys = ", ".join(
        f"('{i}' || '|' || ((sim >> {i * bpb}) & {mask})::VARCHAR)" for i in range(n_bands)
    )
    tok_hash = _h64_sql("t", 0)
    return f"""
WITH ht AS (
  -- null text is no document: the Spark simhash stage null-propagates
  -- (no signature, no candidates), while an unfiltered oracle would give
  -- every null doc sim = 0 (each bit's NULL fold lands in the ELSE arm)
  -- and pair them all with hamming 0.
  SELECT doc_id, list_transform({_TOKS}, t -> {tok_hash}) AS hs
  FROM documents WHERE text IS NOT NULL
), sim AS (
  SELECT doc_id, {_FOLD_SUM.format(lst=f'''list_transform(generate_series(0, {n_bits - 1}), b ->
    CASE WHEN {_FOLD_SUM.format(lst="list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)")} >= 0
         THEN (1::BIGINT << b) ELSE 0::BIGINT END)''')} AS sim
  FROM ht
), bands AS (
  SELECT doc_id, sim, unnest([{band_keys}]) AS band_key FROM sim
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
"""


DEDUP_SIMHASH_ORACLE = _simhash_oracle(n_bits=48, max_hamming=2)


def dedup_retention_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup composition as ONE gated query: MinHash-LSH pairs
    → connected components → representative selection (keep a doc unless
    it sits in a dup cluster under another representative) → per-source
    retention counts. The report a curation run publishes after its dedup
    stage; composes three driver-green stages and stays exactly
    oracle-able because each stage is."""

    docs = _load_docs(spark, sf_dir)
    pairs = D.minhash_lsh_dedup(docs, threshold=0.8).select("doc_a", "doc_b")
    labels = connected_components(
        pairs,
        "doc_a",
        "doc_b",
        # the verify path already emits deduplicated strict doc_a < doc_b
        # pairs (dropDuplicates + the a < b filter): skip the ingress
        # edge-set dedup exchange
        assume_distinct=True,
    )
    dropped = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return (
        docs.join(dropped.withColumn("__dropped", F.lit(1)), on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("__dropped"), F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum(F.coalesce(F.col("__dropped"), F.lit(0))))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


def _dedup_retention_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
{_COMPONENTS_CTES},
dropped AS (
  SELECT doc_id FROM labels WHERE doc_id <> component_id
)
SELECT d.source, count(*) AS n_docs,
       sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_dropped,
       (count(*) - sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
         AS n_kept
FROM documents d LEFT JOIN dropped dr USING (doc_id)
GROUP BY d.source
"""


DEDUP_RETENTION_ORACLE = _dedup_retention_oracle()


def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality audit as a gated query: MinHash-LSH pairs
    versus the exact Jaccard join at the SAME threshold — the
    precision/recall readout a pipeline publishes before trusting a
    sketch at scale. (Precision is 1.0 by construction — the LSH verify
    stage already filters candidates by exact Jaccard — so the metric
    that matters is banding recall.) The two 1-row aggregates join as
    broadcast anchors; all counts integer-exact, ratios rational."""
    docs = _load_docs(spark, sf_dir)
    approx = D.minhash_lsh_dedup(docs, threshold=0.8).select("doc_a", "doc_b")
    return _pair_eval(docs, approx)


def _pair_eval(docs: DataFrame, approx: DataFrame) -> DataFrame:
    """Shared audit shape for the sketch-vs-exact evaluations: recall /
    precision of ``approx`` against the exact Jaccard >= 0.8 join, as
    three broadcast 1-row aggregates (integer counts, rational ratios)."""
    exact = D.ngram_jaccard_pairs(docs, threshold=0.8, max_df=None).select(
        "doc_a", "doc_b"
    )
    hit = approx.join(exact, on=["doc_a", "doc_b"], how="inner")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(F.broadcast(approx.agg(F.count(F.lit(1)).alias("n_approx"))))
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_hit"))))
        .select(
            "n_exact",
            "n_approx",
            "n_hit",
            # zero ground-truth/approx pairs: ratio NULL, not an ANSI error
            F.try_divide("n_hit", "n_exact").alias("recall"),
            F.try_divide("n_hit", "n_approx").alias("precision"),
        )
    )


def _eval_oracle(approx_sql: str) -> str:
    """SQL twin of :func:`_pair_eval`, parameterized on the sketch CTE."""
    return f"""
WITH approx AS ({approx_sql}),
exact AS ({_ngram_jaccard_oracle(threshold=0.8, max_df=None)}),
hit AS (
  SELECT a.doc_a, a.doc_b FROM approx a
  JOIN exact e ON a.doc_a = e.doc_a AND a.doc_b = e.doc_b
)
SELECT (SELECT count(*) FROM exact)::BIGINT AS n_exact,
       (SELECT count(*) FROM approx)::BIGINT AS n_approx,
       (SELECT count(*) FROM hit)::BIGINT AS n_hit,
       (SELECT count(*) FROM hit) / nullif((SELECT count(*) FROM exact), 0) AS recall,
       (SELECT count(*) FROM hit) / nullif((SELECT count(*) FROM approx), 0) AS precision
"""


DEDUP_MINHASH_EVAL_ORACLE = _eval_oracle(_minhash_oracle())


def dedup_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash audit against exact Jaccard >= 0.8 ground truth — unlike
    the MinHash audit, BOTH metrics are non-trivial here: SimHash has no
    exact-verify stage, so fingerprint collisions can emit non-duplicate
    pairs (precision < 1) and 2-bit Hamming at 48 bits can miss true
    pairs (recall < 1). The per-method audit pair (MinHash + SimHash)
    is how a pipeline picks its sketch before scaling it."""
    docs = _load_docs(spark, sf_dir)
    approx = D.simhash_dedup(docs, n_bits=48, max_hamming=2).select(
        "doc_a", "doc_b"
    )
    return _pair_eval(docs, approx)


DEDUP_SIMHASH_EVAL_ORACLE = _eval_oracle(_simhash_oracle(n_bits=48, max_hamming=2))


_CONTAINMENT_THRESHOLD = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment near-dup join (|A∩B|/|A| — catches short docs
    embedded in longer ones that symmetric Jaccard misses). Unpruned
    (max_df=None) at this corpus scale; production sets max_df exactly as
    dedup_ngram_jaccard documents."""
    return D.ngram_containment_pairs(
        _load_docs(spark, sf_dir), threshold=_CONTAINMENT_THRESHOLD
    )


DEDUP_CONTAINMENT_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
), post AS (
  SELECT doc_id, unnest(sh) AS shingle FROM sh
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sized AS (
  SELECT doc_a, doc_b, common, sa.n AS na, sb.n AS nb FROM common
  JOIN (SELECT doc_id, len(sh) AS n FROM sh) sa ON doc_a = sa.doc_id
  JOIN (SELECT doc_id, len(sh) AS n FROM sh) sb ON doc_b = sb.doc_id
), directed AS (
  SELECT doc_a AS contained_id, doc_b AS container_id,
         common / na AS containment FROM sized
  UNION ALL
  SELECT doc_b AS contained_id, doc_a AS container_id,
         common / nb AS containment FROM sized
)
SELECT contained_id, container_id, containment
FROM directed WHERE containment >= {_CONTAINMENT_THRESHOLD}
"""


_EDIT_MAX_DISTANCE = 10
_EDIT_MIN_COMMON = 3


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.edit_distance_pairs(
        _load_docs(spark, sf_dir),
        max_distance=_EDIT_MAX_DISTANCE,
        min_common=_EDIT_MIN_COMMON,
    )


DEDUP_EDIT_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, text, {_SHINGLES} AS sh
  FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
), post AS (
  SELECT doc_id, unnest(sh) AS shingle FROM sh
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {_EDIT_MIN_COMMON}
)
SELECT doc_a, doc_b,
       levenshtein(sa.text, sb.text)::BIGINT AS edit_distance
FROM cand
JOIN sh sa ON doc_a = sa.doc_id
JOIN sh sb ON doc_b = sb.doc_id
WHERE levenshtein(sa.text, sb.text) <= {_EDIT_MAX_DISTANCE}
"""


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load_docs(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        X.token_count(t).cast("bigint").alias("n_tokens"),
        X.bpe_token_count(t).cast("bigint").alias("n_bpe_tokens"),
        F.length(t).cast("bigint").alias("n_chars"),
        (F.length(t) / X.token_count(t)).alias("mean_token_len"),
    )


TEXT_STATS_ORACLE = f"""
SELECT doc_id,
       len({_TOKS}) AS n_tokens,
       len(regexp_extract_all(text, '{X.BPE_SPLIT_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars,
       length(text) / len({_TOKS}) AS mean_token_len
FROM documents
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load_docs(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        X.predicted_lang(t).alias("predicted_lang"),
    )


def _quality_case_sql(toks_expr: str) -> str:
    """SQL twin of ``operators/text.py::quality_score``, parameterized on
    the token-list expression — THE shared fragment: three oracles
    (text_quality, the funnel, the deciles) carry this formula, and a
    hand-copy once drifted."""
    return f"""CASE WHEN length(text) = 0 THEN 0.0 ELSE
  (CASE WHEN length(text) >= 100 AND length(text) <= 2000 THEN 1.0 ELSE 0.5 END) * 0.4
  + (CASE WHEN length(text) / len({toks_expr}) >= 3.0
          AND length(text) / len({toks_expr}) <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.3
  + (length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) / length(text)) * 0.3
  END"""


def _lang_score_cols(toks: str = "toks") -> list[str]:
    """Per-language stopword-ratio SELECT items — the SQL twin of the
    ratios in ``operators/text.py::predicted_lang``, shared by the lang-id and funnel
    oracles (whose lang copy once lost the null-text guard)."""
    cols = []
    for lang in sorted(X.LANG_STOPWORDS):
        words = ", ".join(f"'{w}'" for w in X.LANG_STOPWORDS[lang])
        cols.append(
            f"len(list_filter({toks}, t -> list_contains([{words}], t)))"
            f" / len({toks}) AS s_{lang}"
        )
    return cols


def _lang_oracle() -> str:
    langs = sorted(X.LANG_STOPWORDS)
    score_cols = _lang_score_cols()
    m = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    # null text -> NULL label (the operator null-propagates; without the
    # guard both engines' null CASE conditions would fall through to the
    # last code, labeling missing documents 'zh')
    case = "CASE WHEN tnull THEN NULL " + " ".join(
        f"WHEN s_{lang} = m THEN '{lang}'" for lang in langs[:-1]
    ) + f" ELSE '{langs[-1]}' END"
    return f"""
WITH sc AS (
  SELECT doc_id, lang, text IS NULL AS tnull, {', '.join(score_cols)}
  FROM (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents)
), mx AS (
  SELECT doc_id, lang, {m} AS m, * EXCLUDE (doc_id, lang) FROM sc
)
SELECT doc_id, lang, {case} AS predicted_lang FROM mx
"""


TEXT_LANG_ORACLE = _lang_oracle()


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load_docs(spark, sf_dir)
    return docs.select("doc_id", X.quality_score(F.col("text")).alias("quality"))


TEXT_QUALITY_ORACLE = f"""
SELECT doc_id,
  {_quality_case_sql(_TOKS)} AS quality
FROM documents
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp_md5"),
        X.fingerprint(F.col("text")).alias("fp_minshingle"),
    )


TEXT_FINGERPRINT_ORACLE = f"""
SELECT doc_id, md5(text) AS fp_md5,
       list_min(list_transform(sh, s -> {_h64_sql('s', 0)})) AS fp_minshingle
FROM (SELECT doc_id, text, {_SHINGLES} AS sh
      FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents))
"""


def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprinting: a whole-document Rabin-Karp polynomial
    hash plus winnowing fingerprints (min hash per sliding window of k-gram
    hashes — Schleimer et al., SIGMOD 2003), exploded to one row per
    retained fingerprint."""
    docs = _load_docs(spark, sf_dir)
    # explode_OUTER + post-filter, not plain explode: the inferred
    # non-empty-array predicate would otherwise be rewritten on the text
    # column and pushed below the repartition exchange, re-running the
    # winnow HOF single-threaded pre-shuffle (see ngram_decontaminate).
    return (
        docs.select(
            "doc_id",
            X.rolling_hash(F.col("text")).alias("rolling_hash"),
            F.explode_outer(
                X.winnow_fingerprints(F.col("text"), k=3, window=4)
            ).alias("fingerprint"),
        )
        .filter(F.col("fingerprint").isNotNull())
        # no presentation sort: a global range exchange over the full
        # fingerprint set buys nothing (correctness hash is order-blind)
    )


TEXT_WINNOW_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
roll AS (
  SELECT doc_id,
         list_reduce(list_transform(toks, t -> ({_h64_sql('t', 0)}) % 2147483647),
                     (acc, h) -> (acc * 257 + h) % 2147483647) AS rolling_hash,
         toks
  FROM t
), kg AS (
  SELECT doc_id, rolling_hash,
    CASE WHEN len(toks) >= 3
      THEN list_transform(generate_series(1, len(toks) - 2),
                          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      ELSE []::VARCHAR[] END AS kgrams
  FROM roll
), kh AS (
  SELECT doc_id, rolling_hash,
         list_transform(kgrams, g -> ({_h64_sql('g', 0)}) % 2147483647) AS kh
  FROM kg
), mins AS (
  SELECT doc_id, rolling_hash,
    CASE WHEN len(kh) = 0 THEN []::BIGINT[]
         WHEN len(kh) <= 4 THEN [list_min(kh)]
         ELSE list_transform(generate_series(1, len(kh) - 3),
                             j -> list_min(kh[j:j+3]))
    END AS mins
  FROM kh
)
SELECT doc_id, rolling_hash,
       unnest(list_sort(list_distinct(mins))) AS fingerprint
FROM mins
ORDER BY doc_id, fingerprint
"""


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

_N_QUERIES = 20
_TOP_K = 5


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_embeddings(spark, sf_dir)
    out = S.cosine_topk(emb, emb.filter(F.col("vec_id") < _N_QUERIES), k=_TOP_K)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


ANN_TOPK_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < {_N_QUERIES}
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cosine_sql('qv', 'c.v')} AS score
  FROM v c, q WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {_TOP_K}
"""

_N_CENTROIDS = 16
_N_PROBE = 4


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (SURVEY §7 phase 6 scale path): deterministic
    centroid set (vec_id < _N_CENTROIDS stands in for k-means so the oracle
    can replicate the quantizer), nearest-centroid inverted lists, n_probe
    lists searched per query."""
    emb = _load_embeddings(spark, sf_dir)
    out = S.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < _N_QUERIES),
        centroids=emb.filter(F.col("vec_id") < _N_CENTROIDS),
        k=_TOP_K,
        n_probe=_N_PROBE,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _ivf_oracle() -> str:
    dot_vc = _dot_sql("n.v", "c.cv")
    dot_qc = _dot_sql("q.v", "c.cv")
    dot_qa = _dot_sql("p.qv", "a.v")
    return f"""
WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt({_dot_sql('v', 'v')}) AS nrm FROM v0
), cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < {_N_CENTROIDS}
), assigned AS (
  SELECT vec_id, v, nrm, cid AS list_id FROM (
    SELECT n.vec_id, n.v, n.nrm, c.cid,
           row_number() OVER (PARTITION BY n.vec_id
             ORDER BY {dot_vc} / (n.nrm * c.cn) DESC, c.cid) AS rn
    FROM n, cent c
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, qn, cid AS list_id FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {dot_qc} / (q.nrm * c.cn) DESC, c.cid) AS rn
    FROM n q, cent c WHERE q.vec_id < {_N_QUERIES}
  ) WHERE rn <= {_N_PROBE}
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {dot_qa} / (p.qn * a.nrm) AS score
  FROM assigned a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {_TOP_K}
"""


ANN_IVF_ORACLE = _ivf_oracle()

_KMEANS_ITERS = 2
_EMB_DIM = 64


def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED coarse quantizer: 2 Lloyd iterations
    (operators/similarity.py::kmeans_centroids — exact-decimal means, so
    training is bit-deterministic) seeded from the lowest-id vectors, then
    the same n_probe inverted-list search. The oracle replays the identical
    2 iterations in SQL — an iterative algorithm under the full value gate."""
    emb = _load_embeddings(spark, sf_dir)
    cent = S.kmeans_centroids(
        emb,
        emb.filter(F.col("vec_id") < _N_CENTROIDS),
        iters=_KMEANS_ITERS,
    )
    out = S.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < _N_QUERIES),
        centroids=cent,
        k=_TOP_K,
        n_probe=_N_PROBE,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _kmeans_ivf_oracle(iters: int = _KMEANS_ITERS, dim: int = _EMB_DIM) -> str:
    sums = ", ".join(
        f"sum(CAST(a.v[{i + 1}] AS DECIMAL(27,12))) AS s{i}" for i in range(dim)
    )
    avg_list = (
        "[" + ", ".join(f"CAST(s{i} AS DOUBLE) / n_members" for i in range(dim)) + "]"
    )
    # `rid`: row-unique key for the per-ROW argmax — the model is a function
    # of the vector MULTISET, not the ids; PARTITION BY vec_id collapsed all
    # NULL-id vectors into one partition, dropping all but one from the
    # training means (r10 dirty-sweep find). Spark's argmax is per row.
    ctes = [
        "v0 AS (SELECT vec_id, row_number() OVER () AS rid,"
        " list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)",
        f"n AS (SELECT vec_id, rid, v, sqrt({_dot_sql('v', 'v')}) AS nrm FROM v0)",
        f"c0 AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < {_N_CENTROIDS})",
    ]
    prev = "c0"
    dot_vc = _dot_sql("n.v", "c.cv")
    for it in range(1, iters + 1):
        ctes.append(
            f"{prev}n AS (SELECT cid, cv, sqrt({_dot_sql('cv', 'cv')}) AS cn"
            f" FROM {prev})"
        )
        ctes.append(
            f"""a{it} AS (
  SELECT vec_id, v, list_id FROM (
    SELECT n.vec_id, n.v, c.cid AS list_id,
           row_number() OVER (PARTITION BY n.rid
             ORDER BY {dot_vc} / (n.nrm * c.cn) DESC, c.cid) AS rn
    FROM n, {prev}n c) WHERE rn = 1)"""
        )
        ctes.append(
            f"s{it} AS (SELECT list_id AS cid, count(*) AS n_members, {sums}"
            f" FROM a{it} a GROUP BY 1)"
        )
        ctes.append(f"u{it} AS (SELECT cid, {avg_list} AS ncv FROM s{it})")
        ctes.append(
            f"c{it} AS (SELECT c.cid, coalesce(u.ncv, c.cv) AS cv"
            f" FROM {prev} c LEFT JOIN u{it} u ON c.cid = u.cid)"
        )
        prev = f"c{it}"
    dot_qc = _dot_sql("q.v", "c.cv")
    dot_qa = _dot_sql("p.qv", "a.v")
    ctes.append(
        f"cent AS (SELECT cid, cv, sqrt({_dot_sql('cv', 'cv')}) AS cn FROM {prev})"
    )
    ctes.append(
        f"""assigned AS (
  SELECT vec_id, v, nrm, list_id FROM (
    SELECT n.vec_id, n.v, n.nrm, c.cid AS list_id,
           row_number() OVER (PARTITION BY n.rid
             ORDER BY {dot_vc} / (n.nrm * c.cn) DESC, c.cid) AS rn
    FROM n, cent c) WHERE rn = 1)"""
    )
    ctes.append(
        f"""probes AS (
  SELECT query_id, qv, qn, list_id FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, c.cid AS list_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {dot_qc} / (q.nrm * c.cn) DESC, c.cid) AS rn
    FROM n q, cent c WHERE q.vec_id < {_N_QUERIES}
  ) WHERE rn <= {_N_PROBE})"""
    )
    ctes.append(
        f"""scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {dot_qa} / (p.qn * a.nrm) AS score
  FROM assigned a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id)"""
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {_TOP_K}
"""


ANN_IVF_KMEANS_ORACLE = _kmeans_ivf_oracle()

_N_PLANES = 8
_DIM = 64
# The fixture embeddings are near-orthogonal (max pairwise cosine ~0.51), so
# the pair threshold is set where bucket-biased candidates actually land.
_COS_THRESHOLD = 0.25


def ann_lsh_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_embeddings(spark, sf_dir)
    return S.lsh_bucket_pairs(
        emb, n_planes=_N_PLANES, dim=_DIM, threshold=_COS_THRESHOLD
    )


def _lsh_pairs_oracle(threshold: float = _COS_THRESHOLD) -> str:
    weights = S.plane_weights(_N_PLANES, _DIM)
    proj_terms = []
    for p, w in enumerate(weights):
        w_lit = "[" + ", ".join(str(x) for x in w) + "]"
        proj = _FOLD_SUM.format(
            lst=f"list_transform(generate_series(1, {_DIM}), i -> v[i] * ({w_lit})[i])"
        )
        proj_terms.append(
            f"(CASE WHEN {proj} >= 0 THEN {2**p}::BIGINT ELSE 0::BIGINT END)"
        )
    bucket = " + ".join(proj_terms)
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), bk AS (
  SELECT vec_id, v, 0::BIGINT + {bucket} AS bucket FROM v
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cosine_sql('a.v', 'b.v')} AS score
FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_cosine_sql('a.v', 'b.v')} >= {threshold}
"""


ANN_LSH_PAIRS_ORACLE = _lsh_pairs_oracle()


# --------------------------------------------------------------------------
# Multimodal: synthesize binary payloads from the documents table (header
# fields are pure functions of doc_id/text), push them through the real
# binary-column plumbing (mapInPandas decode), and verify the decoded
# metadata against the same arithmetic in DuckDB — the codec is the stub,
# the Spark-side pipeline is fully exercised and value-gated.
# --------------------------------------------------------------------------


def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _fake_media(spark, sf_dir)
    return decode_media(media).select(
        F.col("media_id").alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_frames").cast("bigint").alias("n_frames"),
        "n_bytes",
    )


MULTIMODAL_ORACLE = """
SELECT doc_id,
       100 + doc_id % 1820 AS width,
       100 + doc_id % 980 AS height,
       1 + doc_id % 30 AS n_frames,
       10 + octet_length(encode(text)) AS n_bytes
FROM documents
WHERE text IS NOT NULL AND doc_id IS NOT NULL  -- null -> no media row
"""


def _fake_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → media rows with stub-codec payloads (header fields are
    pure functions of doc_id, so frame/metadata outputs stay oracle-able)."""

    docs = _media_docs(spark, sf_dir).select("doc_id", "text")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "media_type": ["video"] * len(pdf),
                    "payload": [
                        # null text/doc_id: NULL payload -> row dropped
                        None
                        if t is None or pd.isna(d)
                        else pack_fake_payload(
                            int(100 + d % 1820), int(100 + d % 980), int(1 + d % 30),
                            t.encode("utf-8"),
                        )
                        for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                    "meta": [{"source": "docs", "codec": "tsdl-fake"}] * len(pdf),
                }
            )

    return docs.mapInPandas(build, schema=MEDIA_SCHEMA)


_FRAME_EVERY_N = 2


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding mapInPandas shape: one output row per sampled frame
    (every _FRAME_EVERY_N-th of 1 + doc_id % 30 stub frames)."""
    out = frame_sample(_fake_media(spark, sf_dir), every_n=_FRAME_EVERY_N)
    return out.select(
        F.col("media_id").alias("doc_id"),
        F.col("frame_index").cast("bigint").alias("frame_index"),
    )


FRAME_SAMPLE_ORACLE = f"""
SELECT doc_id, unnest(range(0, 1 + doc_id % 30, {_FRAME_EVERY_N})) AS frame_index
FROM documents
WHERE text IS NOT NULL AND doc_id IS NOT NULL  -- null -> no media row
"""


_RESIZE_MAX_W, _RESIZE_MAX_H = 640, 480


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize → decode chain: aspect-fit header rewrite in integer
    arithmetic (operators/multimodal.py::resize_media), dimensions verified
    against the same arithmetic in DuckDB; body bytes pass through."""
    resized = resize_media(
        _fake_media(spark, sf_dir), max_width=_RESIZE_MAX_W, max_height=_RESIZE_MAX_H
    )
    return decode_media(resized).select(
        F.col("media_id").alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "n_bytes",
    )


MULTIMODAL_RESIZE_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, 100 + doc_id % 1820 AS w, 100 + doc_id % 980 AS h,
         octet_length(encode(text)) AS blen
  FROM documents
  WHERE text IS NOT NULL AND doc_id IS NOT NULL  -- null -> no media row
)
SELECT doc_id,
  CASE WHEN w <= {_RESIZE_MAX_W} AND h <= {_RESIZE_MAX_H} THEN w
       WHEN w * {_RESIZE_MAX_H} <= h * {_RESIZE_MAX_W} THEN (w * {_RESIZE_MAX_H}) // h
       ELSE {_RESIZE_MAX_W} END AS width,
  CASE WHEN w <= {_RESIZE_MAX_W} AND h <= {_RESIZE_MAX_H} THEN h
       WHEN w * {_RESIZE_MAX_H} <= h * {_RESIZE_MAX_W} THEN {_RESIZE_MAX_H}
       ELSE (h * {_RESIZE_MAX_W}) // w END AS height,
  10 + blen AS n_bytes
FROM dims
"""


_BM25_TERMS = ["spark", "vector", "join", "stream"]
_BM25_K, _BM25_K1, _BM25_B = 20, 1.2, 0.75


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 topic retrieval over the documents table — rational-idf variant
    (ln-free, so scores are bit-portable; ranking identical, see
    operators/text.py::bm25_topk). Corpus statistics come from one
    broadcast aggregation row; scoring is per-doc array-HOF counts, no
    posting-list shuffle."""
    return bm25_topk(
        _load_docs(spark, sf_dir), _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    )


def _bm25_oracle(k: int = _BM25_K) -> str:
    k1, b = _BM25_K1, _BM25_B
    tfs = ",\n         ".join(
        f"len(list_filter(string_split(lower(text), ' '), x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    # identical IEEE trees to the Spark side: rational idf, then
    # idf * (tf * (k1+1)) / (tf + k1*(1 - b + b*dl*n/sum_dl)), summed in
    # term order (left-assoc +)
    contribs = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5))"
        f" * (CAST(tf_{i} AS DOUBLE) * {k1 + 1.0!r})"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1!r} * (1.0 - {b!r} + {b!r} * CAST(dl AS DOUBLE)"
        f" * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))"
        f" ELSE 0.0 END)"
        for i in range(len(_BM25_TERMS))
    )
    any_hit = " OR ".join(f"tf_{i} > 0" for i in range(len(_BM25_TERMS)))
    return f"""
WITH base AS (
  SELECT doc_id,
         len(string_split(lower(text), ' ')) AS dl,
         {tfs}
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
         {dfs}
  FROM base
)
SELECT doc_id, {contribs} AS score
FROM base, stats
WHERE {any_hit}
ORDER BY score DESC, doc_id
LIMIT {k}
"""


TEXT_BM25_ORACLE = _bm25_oracle()


# --------------------------------------------------------------------------
# Hybrid retrieval: BM25 ∪ embedding ANN fused with Reciprocal Rank Fusion
# (Cormack/Clarke/Buettcher 2009 — the standard lexical+semantic fusion)
# --------------------------------------------------------------------------

_RRF_C = 60          # the canonical RRF constant
_RRF_DEPTH = 50      # per-ranker candidate depth
_RRF_TOPK = 10
_RRF_QUERY_VEC = 0   # vec_id standing in for the encoded query


def text_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: the BM25 lexical ranking and the embedding cosine
    ranking (document 0's vector standing in for the encoded query) are
    fused by Reciprocal Rank Fusion — ``score = Σ 1/(60 + rank)`` over the
    rankers that returned the doc. Rank-based fusion needs no score
    calibration between rankers, and the fused score is a sum of exact
    rationals of small integers, so it is bit-portable by construction.

    Shape: both rankings end in ``depth``-row frames, so the fusion join,
    window, and top-k all run on ranker-output cardinality, never corpus
    cardinality."""

    docs = _load_docs(spark, sf_dir)
    emb = _load_embeddings(spark, sf_dir)
    lex = bm25_topk(docs, _BM25_TERMS, k=_RRF_DEPTH, k1=_BM25_K1, b=_BM25_B)
    lex_ranked = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc_nulls_last("doc_id")))
        .cast("bigint")
        .alias("lex_rank"),
    )
    sem = S.cosine_topk(
        emb, emb.filter(F.col("vec_id") == _RRF_QUERY_VEC), k=_RRF_DEPTH
    )
    sem_ranked = sem.select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("bigint").alias("sem_rank"),
    )
    fused = (
        lex_ranked.join(sem_ranked, on="doc_id", how="full_outer")
        .withColumn(
            "rrf_score",
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("sem_rank")), F.lit(0.0)),
        )
        .orderBy(F.desc("rrf_score"), F.asc_nulls_last("doc_id"))
        .limit(_RRF_TOPK)
    )
    return fused.select("doc_id", "lex_rank", "sem_rank", "rrf_score")


def _rrf_oracle() -> str:
    return f"""
WITH lex AS ({_bm25_oracle(k=_RRF_DEPTH)}),
lex_ranked AS (
  SELECT doc_id,
         (row_number() OVER (ORDER BY score DESC, doc_id))::BIGINT AS lex_rank
  FROM lex
), v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt({_dot_sql('v', 'v')}) AS nrm FROM v
), q AS (
  SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = {_RRF_QUERY_VEC}
), sem_ranked AS (
  SELECT vec_id AS doc_id, rank::BIGINT AS sem_rank FROM (
    SELECT c.vec_id,
           row_number() OVER (
             ORDER BY {_dot_sql('q.qv', 'c.v')} / (q.qn * c.nrm) DESC, c.vec_id
           ) AS rank
    FROM n c, q WHERE c.vec_id <> {_RRF_QUERY_VEC}
  ) WHERE rank <= {_RRF_DEPTH}
)
SELECT doc_id, lex_rank, sem_rank,
       coalesce(1.0 / ({_RRF_C} + lex_rank), 0.0)
         + coalesce(1.0 / ({_RRF_C} + sem_rank), 0.0) AS rrf_score
FROM lex_ranked FULL OUTER JOIN sem_ranked USING (doc_id)
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_TOPK}
"""


TEXT_RRF_ORACLE = _rrf_oracle()


# Real-pixel resize gate: small formula images so the DuckDB oracle can
# replay every output pixel over a generate_series grid. Dims 4..16 x 4..14
# straddle the 10x7 fit box, so both the identity and the resample paths run.
_PIX_MAX_W, _PIX_MAX_H = 10, 7


def _pixel_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → media rows carrying REAL encoded rasters (even doc_id →
    24-bpp BMP, odd → binary P6 PPM). Pixel (y, x, c) of doc d is
    ``(d*7 + x*5 + y*3 + c) % 256`` — a pure function of the id, so the
    decode→resize→encode chain is value-checkable end to end."""

    docs = _media_docs(spark, sf_dir).select("doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for d in pdf["doc_id"]:
                if pd.isna(d):  # null doc_id: no stub raster -> failed-crawl row
                    payloads.append(None)
                    metas.append({"source": "docs", "codec": "bmp"})
                    continue
                d = int(d)
                w, h = 4 + d % 13, 4 + d % 11
                xs, ys, cs = np.arange(w), np.arange(h), np.arange(3)
                arr = (
                    (d * 7 + xs[None, :, None] * 5 + ys[:, None, None] * 3 + cs[None, None, :]) % 256
                ).astype(np.uint8)
                codec = "bmp" if d % 2 == 0 else "ppm"
                payloads.append(bmp_encode(arr) if codec == "bmp" else ppm_encode(arr))
                metas.append({"source": "docs", "codec": codec})
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "media_type": ["image"] * len(pdf),
                    "payload": payloads,
                    "meta": metas,
                }
            )

    return docs.mapInPandas(build, schema=MEDIA_SCHEMA)


def multimodal_resize_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel transcode gate: encode formula rasters (BMP + PPM), resize
    through the integer nearest-neighbor resampler
    (operators/multimodal.py::resize_media → nn_resize), decode the resized
    payload back, and read out dimensions + the uint8 pixel sum + encoded
    byte length. The oracle replays the pixel formula over the resampled
    index grid in SQL, so every byte of decode/resample/re-encode is
    value-gated — no codec library involved."""
    resized = resize_media(
        _pixel_media(spark, sf_dir), max_width=_PIX_MAX_W, max_height=_PIX_MAX_H
    )
    return pixel_stats(resized).select(
        F.col("media_id").alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "pixel_sum",
        "n_bytes",
    )


MULTIMODAL_RESIZE_PIXELS_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h
  FROM documents WHERE doc_id IS NOT NULL  -- null id -> no media row
), fit AS (
  SELECT doc_id, w, h,
    CASE WHEN w <= {_PIX_MAX_W} AND h <= {_PIX_MAX_H} THEN w
         WHEN w * {_PIX_MAX_H} <= h * {_PIX_MAX_W} THEN (w * {_PIX_MAX_H}) // h
         ELSE {_PIX_MAX_W} END AS nw,
    CASE WHEN w <= {_PIX_MAX_W} AND h <= {_PIX_MAX_H} THEN h
         WHEN w * {_PIX_MAX_H} <= h * {_PIX_MAX_W} THEN {_PIX_MAX_H}
         ELSE (h * {_PIX_MAX_W}) // w END AS nh
  FROM dims
), px AS (
  SELECT f.doc_id,
         (f.doc_id * 7 + ((dx.x * f.w) // f.nw) * 5
          + ((dy.y * f.h) // f.nh) * 3 + c.c) % 256 AS val
  FROM fit f
  JOIN range(0, {_PIX_MAX_W}) AS dx(x) ON dx.x < f.nw
  JOIN range(0, {_PIX_MAX_H}) AS dy(y) ON dy.y < f.nh
  JOIN range(0, 3) AS c(c) ON TRUE
), sums AS (
  SELECT doc_id, CAST(sum(val) AS BIGINT) AS pixel_sum FROM px GROUP BY doc_id
)
SELECT f.doc_id, f.nw AS width, f.nh AS height, s.pixel_sum,
  CASE WHEN f.doc_id % 2 = 0
       THEN 54 + f.nh * ((f.nw * 3 + 3) // 4 * 4)
       ELSE 9 + length(CAST(f.nw AS VARCHAR)) + length(CAST(f.nh AS VARCHAR))
            + 3 * f.nw * f.nh END AS n_bytes
FROM fit f JOIN sums s USING (doc_id)
"""


# PQ/ADC gate: pluggable codebooks (sub-slices of the _PQ_CODES lowest
# vec_ids — the same stand-in contract ann_ivf_topk uses for its centroid
# set) so the oracle replays encode + ADC without replaying training.
_PQ_M, _PQ_CODES, _PQ_SUBDIM = 8, 16, 8
_PQ_NQ, _PQ_TOPK = 10, 10


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k, value-gated end to end: encode every
    vector as 8 codebook indices (argmin over codebook literals, one
    no-shuffle scan), then rank by asymmetric distance — each query's 8x16
    lookup table is computed on the broadcast side BEFORE the join, so
    scoring a pair is 8 array lookups + adds. The 16-row collect here
    resolves MODEL PARAMETERS (codebooks, O(M*k*sub_dim) floats embedded as
    plan literals — same contract as plane_weights), not data
    movement; the corpus itself never touches the driver."""
    emb = _load_embeddings(spark, sf_dir)
    # NULL ids sort LAST (engine convention): seed = smallest NON-NULL ids
    seed = emb.orderBy(F.asc_nulls_last("vec_id")).limit(_PQ_CODES).collect()
    if any(r["embedding"] is None for r in seed):
        # degenerate model inputs are a named ValueError (r10 find)
        raise ValueError(
            "null embedding: PQ codebooks cannot train on NULL vectors — "
            "drop or impute such rows before the op"
        )
    rows = sorted((r["vec_id"], [float(x) for x in r["embedding"]]) for r in seed)
    codebooks = [
        [v[m * _PQ_SUBDIM : (m + 1) * _PQ_SUBDIM] for _, v in rows]
        for m in range(_PQ_M)
    ]
    out = pq_topk(
        emb.filter(F.col("vec_id") < _PQ_NQ),
        pq_encode(emb, codebooks),
        codebooks,
        k=_PQ_TOPK,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _pq_d2_sql(a: str, b: str, m: str, sub_dim: int = _PQ_SUBDIM) -> str:
    """Squared euclidean distance of subspace ``m`` (a SQL expression) —
    the same sequential-left-fold IEEE association as the Spark side's
    ``pq_encode`` (0.0 + first term is exact, so omitting the initial
    accumulator is bit-identical)."""
    sq = (
        f"list_transform(generate_series(1, {sub_dim}), "
        f"i -> ({a}[{m} * {sub_dim} + i] - {b}[{m} * {sub_dim} + i])"
        f" * ({a}[{m} * {sub_dim} + i] - {b}[{m} * {sub_dim} + i]))"
    )
    return _FOLD_SUM.format(lst=sq)


ANN_PQ_ADC_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
  FROM (SELECT vec_id, v FROM v ORDER BY vec_id NULLS LAST LIMIT {_PQ_CODES})
), dists AS (
  SELECT n.vec_id AS nid, mm.m AS m, cb.c AS c,
         {_pq_d2_sql('n.v', 'cb.v', 'mm.m')} AS d
  FROM v n
  JOIN range(0, {_PQ_M}) AS mm(m) ON TRUE
  JOIN cb ON TRUE
), codes AS (
  SELECT nid, m, c FROM (
    SELECT nid, m, c,
           row_number() OVER (PARTITION BY nid, m ORDER BY d, c) AS rn
    FROM dists
  ) WHERE rn = 1
), adc AS (
  SELECT l.nid AS query_id, cd.nid AS neighbor_id,
         list_reduce(list(l.d ORDER BY l.m), (acc, x) -> acc + x) AS adc_dist2
  FROM codes cd
  JOIN dists l ON l.nid < {_PQ_NQ} AND l.m = cd.m AND l.c = cd.c
  WHERE cd.nid <> l.nid
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist2, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist2, neighbor_id) AS rank
  FROM adc
) WHERE rank <= {_PQ_TOPK}
"""


def ann_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization readout: scale, integer code checksum,
    and the max dequantization error — one corpus scan of pure array HOFs
    (`operators/similarity.py::quantize_embedding`). The floor(+0.5)
    rounding makes codes bit-identical cross-engine, so the full value
    gate applies to a storage-compression transform."""
    emb = _load_embeddings(spark, sf_dir)
    s, codes = quantize_embedding(F.col("embedding"))
    levels = F.lit(127.0)
    return (
        emb.select("vec_id", s.alias("scale"), codes.alias("__c"),
                   S.as_double(F.col("embedding")).alias("__v"))
        .select(
            "vec_id",
            "scale",
            F.aggregate(
                "__c", F.lit(0).cast("bigint"), lambda acc, x: acc + x
            ).alias("code_sum"),
            F.array_max(
                F.zip_with(
                    "__v", "__c",
                    lambda x, c: F.abs(x - c * F.col("scale") / levels),
                )
            ).alias("max_abs_err"),
        )
        # no presentation sort (see text_winnow_fingerprint)
    )


def _quantize_oracle(dim: int = 64) -> str:
    code = "CASE WHEN s = 0.0 THEN CAST(0 AS BIGINT) ELSE CAST(floor(x * 127.0 / s + 0.5) AS BIGINT) END"
    return f"""
WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), sc AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s FROM v0
), q AS (
  SELECT vec_id, v, s,
         list_transform(v, x -> {code}) AS c
  FROM sc
)
SELECT vec_id, s AS scale,
       list_reduce(list_prepend(CAST(0 AS BIGINT), c), (acc, x) -> acc + x) AS code_sum,
       list_max(list_transform(generate_series(1, {dim}),
                i -> abs(v[i] - c[i] * s / 127.0))) AS max_abs_err
FROM q
ORDER BY vec_id
"""


ANN_QUANTIZE_ORACLE = _quantize_oracle(dim=_EMB_DIM)


# --------------------------------------------------------------------------
# Gopher-style repetition signals (operators/text.py::repetition_stats)
# --------------------------------------------------------------------------


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.repetition_stats(_load_docs(spark, sf_dir))


TEXT_REPETITION_ORACLE = f"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars, {_TOKS} AS toks FROM documents
), stats AS (
  SELECT doc_id, n_chars, len(toks)::BIGINT AS n_toks,
         len(list_distinct(toks))::BIGINT AS n_distinct_toks
  FROM base
), grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> concat_ws(' ', toks[i], toks[i+1]))) AS bigram
  FROM base WHERE len(toks) >= 2
), top AS (
  SELECT doc_id, bigram AS top_bigram, n AS top_bigram_n FROM (
    SELECT doc_id, bigram, count(*) AS n,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, bigram) AS rn
    FROM grams GROUP BY doc_id, bigram
  ) WHERE rn = 1
)
SELECT s.doc_id, s.n_toks, s.n_distinct_toks,
       (s.n_toks - s.n_distinct_toks) / s.n_toks AS rep_token_frac,
       t.top_bigram, t.top_bigram_n,
       CASE WHEN t.top_bigram_n IS NULL THEN NULL
            ELSE least(1.0, (t.top_bigram_n * length(t.top_bigram)) / s.n_chars)
       END AS top_bigram_char_frac
FROM stats s LEFT JOIN top t USING (doc_id)
"""


_TFIDF_K = 3


def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-3 TF-IDF terms of every
    document — the tagging/faceting pass a corpus browser or weak-labeler
    runs. Rational idf (the BM25 form, ln-free so scores are bit-portable;
    ranking unchanged), tf from the token-keyed posting aggregation, and a
    per-doc top-k window. Scale shape: one token-keyed exchange builds tf
    and df together (df is a broadcast-sized vocabulary aggregate), then
    one doc-keyed rank window — no all-pairs work anywhere."""

    docs = _load_docs(spark, sf_dir)
    post = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    tf = post.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = post.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    scored = (
        tf.join(dfreq, on="token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf").cast("double") * idf)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select(
            "doc_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.col("token").alias("keyword"),
            F.col("tf").cast("bigint").alias("tf"),
            "score",
        )
    )


TEXT_TFIDF_ORACLE = f"""
WITH post AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM post GROUP BY doc_id, token
), dfreq AS (
  SELECT token, count(*) AS df
  FROM (SELECT DISTINCT doc_id, token FROM post) GROUP BY token
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         tf.tf::DOUBLE * ((n.n_docs::DOUBLE - dfreq.df::DOUBLE + 0.5)
                          / (dfreq.df::DOUBLE + 0.5)) AS score
  FROM tf JOIN dfreq USING (token), n
)
SELECT doc_id, rank::BIGINT AS rank, token AS keyword, tf::BIGINT AS tf, score
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token) AS rank
  FROM scored
) WHERE rank <= {_TFIDF_K}
"""


# --------------------------------------------------------------------------
# Corpus vocabulary report: top tokens by total occurrences + doc frequency
# (the token-stats pass a tokenizer-training / stopword-curation job runs)
# --------------------------------------------------------------------------

_TOP_TOKENS_K = 50


def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K tokens with occurrence and document-frequency counts.
    One exchange keyed by token (explode feeds a partially-aggregated
    hash agg; the distinct-doc count two-phases over (token, doc_id) with
    map-side combine), then a K-row top-k — the vocabulary never sits on
    one executor and the corpus is scanned once."""
    docs = _load_docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), F.asc("token"))
        .limit(_TOP_TOKENS_K)
    )


TEXT_TOP_TOKENS_ORACLE = f"""
SELECT token, count(*)::BIGINT AS n_total,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
GROUP BY token
ORDER BY n_total DESC, token
LIMIT {_TOP_TOKENS_K}
"""


# --------------------------------------------------------------------------
# Audio: REAL WAV/PCM codec gates — payloads synthesized as a pure integer
# function of doc_id, pushed through encode → (decimate) → decode → stats,
# every output value replayed arithmetically by the oracle
# --------------------------------------------------------------------------

_AUDIO_DECIMATE = 4


def _fake_wav_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → WAV media rows: mono 16-bit PCM where sample i of doc d
    is ``((d*31 + i*7) % 65536) - 32768``, n = 1000 + d % 500, rate =
    8000 + (d % 3) * 4000 — deterministic, so the stats are SQL-replayable
    while the codec work (RIFF encode/parse) is entirely real."""

    docs = _media_docs(spark, sf_dir).select("doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                if pd.isna(d):  # null doc_id: no stub signal -> failed-crawl row
                    payloads.append(None)
                    continue
                d = int(d)
                n = 1000 + d % 500
                i = np.arange(n, dtype=np.int64)
                v = ((d * 31 + i * 7) % 65536) - 32768
                payloads.append(wav_encode(v, 8000 + (d % 3) * 4000))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "media_type": ["audio"] * len(pdf),
                    "payload": payloads,
                    "meta": [{"source": "docs", "codec": "wav"}] * len(pdf),
                }
            )

    return docs.mapInPandas(build, schema=MEDIA_SCHEMA)


def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = audio_stats(_fake_wav_media(spark, sf_dir))
    return out.select(
        F.col("media_id").alias("doc_id"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.col("peak").cast("bigint").alias("peak"),
        "rms",
    )


AUDIO_STATS_ORACLE = """
WITH samp AS (
  SELECT doc_id, unnest(generate_series(0, 1000 + doc_id % 500 - 1)) AS i
  FROM documents WHERE doc_id IS NOT NULL  -- null id -> no media row
), v AS (
  SELECT doc_id, ((doc_id * 31 + i * 7) % 65536) - 32768 AS v FROM samp
)
SELECT doc_id,
       (8000 + (doc_id % 3) * 4000)::BIGINT AS sample_rate,
       1::BIGINT AS n_channels,
       count(*)::BIGINT AS n_samples,
       max(abs(v))::BIGINT AS peak,
       sqrt((sum(v * v))::DOUBLE / count(*)) AS rms
FROM v GROUP BY doc_id
"""


def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimate → decode → stats chain: the resampled payloads are REAL
    re-encoded WAV bytes; the oracle replays the index arithmetic
    (sample 4i of the original signal, ceil(n/4) samples, rate/4)."""
    media = _fake_wav_media(spark, sf_dir)
    out = audio_stats(resample_audio(media, factor=_AUDIO_DECIMATE))
    return out.select(
        F.col("media_id").alias("doc_id"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.col("peak").cast("bigint").alias("peak"),
        "rms",
    )


AUDIO_RESAMPLE_ORACLE = f"""
WITH samp AS (
  SELECT doc_id,
         unnest(generate_series(0, (1000 + doc_id % 500 + {_AUDIO_DECIMATE - 1})
                                   // {_AUDIO_DECIMATE} - 1)) AS i
  FROM documents WHERE doc_id IS NOT NULL  -- null id -> no media row
), v AS (
  SELECT doc_id,
         ((doc_id * 31 + (i * {_AUDIO_DECIMATE}) * 7) % 65536) - 32768 AS v
  FROM samp
)
SELECT doc_id,
       ((8000 + (doc_id % 3) * 4000) // {_AUDIO_DECIMATE})::BIGINT AS sample_rate,
       count(*)::BIGINT AS n_samples,
       max(abs(v))::BIGINT AS peak,
       sqrt((sum(v * v))::DOUBLE / count(*)) AS rms
FROM v GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Video: REAL AVI codec gate — synthesized uncompressed AVI payloads pushed
# through encode → frame extraction → BMP re-encode → pixel stats, every
# output pixel sum replayed arithmetically by the oracle
# --------------------------------------------------------------------------

_VID_W, _VID_H = 8, 6
_VID_EVERY_N = 2


def _fake_avi_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → AVI media rows: 1 + doc_id % 5 frames of 8×6 RGB where
    pixel (k, y, x, c) of doc d is ``(d*7 + k*13 + y*5 + x*3 + c) % 256``
    — deterministic pixels, REAL container encoding."""

    docs = _media_docs(spark, sf_dir).select("doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                if pd.isna(d):  # null doc_id: no stub frames -> failed-crawl row
                    payloads.append(None)
                    continue
                d = int(d)
                n = 1 + d % 5
                k = np.arange(n)[:, None, None, None]
                y = np.arange(_VID_H)[None, :, None, None]
                x = np.arange(_VID_W)[None, None, :, None]
                c = np.arange(3)[None, None, None, :]
                frames = ((d * 7 + k * 13 + y * 5 + x * 3 + c) % 256).astype(
                    np.uint8
                )
                payloads.append(avi_encode(frames, fps=10))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "media_type": ["video"] * len(pdf),
                    "payload": payloads,
                    "meta": [{"source": "docs", "codec": "avi"}] * len(pdf),
                }
            )

    return docs.mapInPandas(build, schema=MEDIA_SCHEMA)


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real video path end to end: AVI encode → chunk-walking decode →
    every-2nd-frame extraction re-encoded as BMP → pixel statistics. Any
    wrong byte anywhere in the two container codecs or the raster
    round-trip shifts a pixel sum and fails the hash."""
    media = _fake_avi_media(spark, sf_dir)
    out = pixel_stats(
        extract_frames(media, every_n=_VID_EVERY_N), extra_cols=("frame_index",)
    )
    return out.select(
        F.col("media_id").alias("doc_id"),
        F.col("frame_index").cast("bigint").alias("frame_index"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "pixel_sum",
    )


VIDEO_FRAMES_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         unnest(range(0, 1 + doc_id % 5, {_VID_EVERY_N})) AS frame_index
  FROM documents WHERE doc_id IS NOT NULL  -- null id -> no media row
), px AS (
  SELECT f.doc_id, f.frame_index,
         ((f.doc_id * 7 + f.frame_index * 13 + y.y * 5 + x.x * 3 + c.c) % 256)
           AS v
  FROM f
  JOIN range(0, {_VID_H}) y(y) ON TRUE
  JOIN range(0, {_VID_W}) x(x) ON TRUE
  JOIN range(0, 3) c(c) ON TRUE
)
SELECT doc_id, frame_index,
       {_VID_W}::BIGINT AS width, {_VID_H}::BIGINT AS height,
       sum(v)::BIGINT AS pixel_sum
FROM px GROUP BY doc_id, frame_index
"""


# Single source of truth: (name, program, oracle) — the paired-dict form
# this replaces let a query be registered without its oracle twin.
_CATALOG: list[tuple[str, Callable[[SparkSession, str], DataFrame], str]] = [
    ("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE),
    ("dedup_minhash_lsh", dedup_minhash_lsh, DEDUP_MINHASH_ORACLE),
    ("dedup_components", dedup_components, DEDUP_COMPONENTS_ORACLE),
    ("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_ORACLE),
    ("dedup_simhash", dedup_simhash, DEDUP_SIMHASH_ORACLE),
    ("dedup_containment", dedup_containment, DEDUP_CONTAINMENT_ORACLE),
    ("dedup_edit_distance", dedup_edit_distance, DEDUP_EDIT_ORACLE),
    ("dedup_retention_report", dedup_retention_report, DEDUP_RETENTION_ORACLE),
    ("dedup_minhash_eval", dedup_minhash_eval, DEDUP_MINHASH_EVAL_ORACLE),
    ("dedup_simhash_eval", dedup_simhash_eval, DEDUP_SIMHASH_EVAL_ORACLE),
    ("text_stats", text_stats, TEXT_STATS_ORACLE),
    ("text_lang_id", text_lang_id, TEXT_LANG_ORACLE),
    ("text_quality", text_quality, TEXT_QUALITY_ORACLE),
    ("text_fingerprint", text_fingerprint, TEXT_FINGERPRINT_ORACLE),
    ("text_winnow_fingerprint", text_winnow_fingerprint, TEXT_WINNOW_ORACLE),
    ("text_bm25_topk", text_bm25_topk, TEXT_BM25_ORACLE),
    ("text_repetition_stats", text_repetition_stats, TEXT_REPETITION_ORACLE),
    ("text_top_tokens", text_top_tokens, TEXT_TOP_TOKENS_ORACLE),
    ("text_tfidf_keywords", text_tfidf_keywords, TEXT_TFIDF_ORACLE),
    ("text_rrf_hybrid_topk", text_rrf_hybrid_topk, TEXT_RRF_ORACLE),
    ("ann_cosine_topk", ann_cosine_topk, ANN_TOPK_ORACLE),
    ("ann_ivf_topk", ann_ivf_topk, ANN_IVF_ORACLE),
    ("ann_ivf_kmeans_topk", ann_ivf_kmeans_topk, ANN_IVF_KMEANS_ORACLE),
    ("ann_lsh_dup_pairs", ann_lsh_dup_pairs, ANN_LSH_PAIRS_ORACLE),
    ("ann_pq_adc_topk", ann_pq_adc_topk, ANN_PQ_ADC_ORACLE),
    ("ann_quantize_int8", ann_quantize_int8, ANN_QUANTIZE_ORACLE),
    ("multimodal_decode_stats", multimodal_decode_stats, MULTIMODAL_ORACLE),
    ("multimodal_frame_sample", multimodal_frame_sample, FRAME_SAMPLE_ORACLE),
    ("multimodal_resize", multimodal_resize, MULTIMODAL_RESIZE_ORACLE),
    ("multimodal_resize_pixels", multimodal_resize_pixels, MULTIMODAL_RESIZE_PIXELS_ORACLE),
    ("multimodal_audio_stats", multimodal_audio_stats, AUDIO_STATS_ORACLE),
    ("multimodal_audio_resample", multimodal_audio_resample, AUDIO_RESAMPLE_ORACLE),
    ("multimodal_video_frames", multimodal_video_frames, VIDEO_FRAMES_ORACLE),
]

EXT_QUERIES = {n: f for n, f, _ in _CATALOG}
EXT_ORACLES = {n: s for n, _, s in _CATALOG}
