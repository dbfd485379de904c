"""Similarity search over embedding columns (``array<float>``).

Two paths over the ``embeddings`` table:

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the corpus, dot/norm via array higher-order functions (pure
  JVM, codegen), rank per query. The baseline and the rerank primitive.
- :func:`lsh_bucket_pairs` — the scale path: deterministic random-hyperplane
  signatures bucket the corpus; only same-bucket pairs are scored. Turns the
  O(n²) pair space into O(sum of bucket²); AQE skew-join absorbs hot buckets.

Determinism contract: hyperplane weights are md5-derived ±1 per (plane, dim)
(:func:`...operators.dedup.h64` parity), and cosine is evaluated as one
fixed-association IEEE expression tree (sequential fold over the dims), so
scores and bucket ids are bit-identical in the DuckDB oracle.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from time_series_and_data_lakes_spark.operators.checkpointing import truncate_lineage
from time_series_and_data_lakes_spark.operators.dedup import let


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _has_nonfinite(v: Column) -> Column:
    return F.exists(v, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))


def require_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Loud vector-ingress validation: a NULL vector in ``vec_col`` — or
    one carrying a NaN/±Inf element (r10 non-finite sweep: quantization
    and codebook training have no cross-engine-definable output on them,
    and cosine would rank NaN silently) — raises a NAMED error. Apply
    where data ENTERS a query program (the catalog wraps its embeddings
    loader) — NOT inside operators below a null-dropping filter:
    Catalyst's inferred join constraints evaluate derived expressions
    BELOW user filters, so an in-op guard falsely fired on already-dropped
    rows (r10 find, reproduced with codegen off). To drop such rows
    instead, filter them out before the op."""
    v = F.col(vec_col)
    null_msg = F.lit(
        "null embedding: cosine/quantization is undefined for a NULL"
        " vector — drop or impute such rows before the op"
    )
    nf_msg = F.lit(
        "non-finite embedding element: NaN/Inf makes cosine and quantization"
        " undefined — drop or impute such rows before the op"
    )
    return df.withColumn(
        vec_col,
        F.when(v.isNull(), F.raise_error(null_msg))
        .when(_has_nonfinite(v), F.raise_error(nf_msg))
        .otherwise(v),
    )


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold of a·b — deterministic association."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(v: Column) -> Column:
    """``sqrt(v·v)`` — factor the self-norm out per vector *before* a pair
    join so each interpreted-HOF dot product runs once per row, not once per
    pair (3x less HOF work; bit-identical, since ``sqrt(dot(v,v))`` is the
    same IEEE expression tree wherever it is evaluated)."""
    return F.sqrt(dot(v, v))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-pairs excluded).

    The query side is broadcast — at 100 TB the corpus streams through the
    scan while each task scores its partition against the in-memory queries;
    the only shuffle is the final per-query top-k (tiny). Ties break on
    neighbor id for determinism.

    Zero-norm vectors are the caller's responsibility: cosine is undefined
    for them and ANSI mode fails loudly on the division rather than
    emitting NaN/inf rankings — filter or re-embed degenerate rows first.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the scale path for ANN.

    Every corpus vector is assigned to its nearest centroid (one narrow
    pass — the centroid list is aggregated to a single broadcast row, so
    assignment is a map with no shuffle); each query probes only its
    ``n_probe`` nearest centroids' lists. Search cost drops from O(N) to
    ~O(N * n_probe / n_centroids) per query while the scan stays a single
    pass at 100 TB. ``centroids`` is pluggable (k-means in production; any
    deterministic subset for oracle-gated tests).

    Ties break deterministically: assignment to the smallest centroid id,
    ranking by neighbor id — and cosine is the same fixed-association fold
    as :func:`cosine_topk`, so results are bit-reproducible cross-engine.
    """
    cent = centroids.select(
        F.col(id_col).alias("cid"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    # One row holding every centroid, ordered by cid: broadcast to make
    # nearest-centroid assignment a pure projection.
    cent_row = F.broadcast(
        cent.agg(
            F.array_sort(
                F.collect_list(F.struct("cid", "cv", "cn"))
            ).alias("cents")
        )
    )

    def scores(v, n):
        # struct ordering does the argmax: max score, ties -> max negcid
        # (= smallest cid).
        return lambda c: F.struct(
            (dot(v, c["cv"]) / (n * c["cn"])).alias("s"),
            (-c["cid"]).alias("negcid"),
        )

    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
        )
        .withColumn("cn", norm(F.col("cv")))
        .crossJoin(cent_row)
        .withColumn(
            "list_id",
            -F.array_max(
                F.transform(F.col("cents"), scores(F.col("cv"), F.col("cn")))
            )["negcid"],
        )
        .drop("cents")
    )
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
        )
        .withColumn("qn", norm(F.col("qv")))
        .crossJoin(cent_row)
        .withColumn(
            "probe",
            F.explode(
                F.slice(
                    F.reverse(
                        F.array_sort(
                            F.transform(
                                F.col("cents"), scores(F.col("qv"), F.col("qn"))
                            )
                        )
                    ),
                    1,
                    n_probe,
                )
            ),
        )
        .select("query_id", "qv", "qn", (-F.col("probe")["negcid"]).alias("list_id"))
    )
    scored = (
        c.join(F.broadcast(probes), on="list_id", how="inner")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


#: exact sums for centroid means — what makes the trained quantizer
#: bit-deterministic (and therefore oracle-able) under distributed summation
KMEANS_SUM_DECIMAL = "decimal(27,12)"


def kmeans_centroids(
    corpus: DataFrame,
    init: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Lloyd's k-means trainer for the IVF coarse quantizer (the production
    replacement for :func:`ivf_topk`'s pluggable centroid set).

    Per iteration: (1) nearest-centroid assignment by cosine as a pure
    projection against the one-row broadcast centroid list — the corpus is
    scanned, never shuffled for assignment; (2) per-cluster elementwise
    means via a NARROW (cid, pos) aggregation over posexploded elements,
    then a k-row regroup that reassembles the centroid arrays. Both
    exchanges carry map-side-combined partials (k x dim rows), and the
    narrow shape generates two aggregate columns instead of ``dim`` wide
    decimal aggregates — measured 1.6x faster end-to-end than the wide
    formulation purely from codegen size, with bit-identical output. Sums
    are exact DECIMAL, so the trained centroids are bit-identical under
    any summation order — the property the SQL oracle gate relies on.
    Empty clusters keep their previous centroid. ``init`` must be
    deterministic for reproducible training (tests use lowest ids).

    At 100 TB: cost is iters × (one corpus scan + one k×dim-sized shuffle);
    driver holds nothing — centroids move between iterations as a broadcast.
    ``checkpoint_dir`` switches per-iteration lineage truncation from
    ``localCheckpoint`` to the executor-loss-resilient reliable store
    (:func:`.checkpointing.truncate_lineage`).
    """
    n = corpus.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    cent = init.select(
        F.col(id_col).alias("cid"), as_double(F.col(vec_col)).alias("cv")
    )

    def scores(v, nn):
        return lambda c: F.struct(
            (dot(v, c["cv"]) / (nn * c["cn"])).alias("s"),
            (-c["cid"]).alias("negcid"),
        )

    for _ in range(iters):
        cent_n = cent.withColumn("cn", norm(F.col("cv")))
        cent_row = F.broadcast(
            cent_n.agg(
                F.array_sort(F.collect_list(F.struct("cid", "cv", "cn"))).alias("cents")
            )
        )
        assigned = (
            n.crossJoin(cent_row)
            .withColumn(
                "list_id",
                -F.array_max(
                    F.transform(F.col("cents"), scores(F.col("v"), F.col("nrm")))
                )["negcid"],
            )
            .select("list_id", "v")
        )
        exploded = assigned.select(
            "list_id", F.posexplode_outer("v").alias("pos", "x")
        )
        sums = exploded.groupBy(F.col("list_id").alias("cid"), "pos").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("x").cast(KMEANS_SUM_DECIMAL)).alias("sv"),
        )
        new = sums.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sv", "cnt"))),
                lambda t: t["sv"].cast("double") / t["cnt"],
            ).alias("ncv")
        )
        cent = truncate_lineage(
            cent.join(new, "cid", "left").select(
                "cid", F.coalesce("ncv", "cv").alias("cv")
            ),
            # k rows; truncating lineage per iteration keeps the next
            # iteration's plan constant-size — without it the assignment
            # expression nests the whole previous iteration and analysis/
            # codegen cost grows superlinearly in iters (measured 1.5 s for
            # 1 iter but 4.3 s for 2 at sf0.1). Same discipline as
            # operators/graph.py connected components; checkpoint_dir opts
            # into the executor-loss-resilient reliable store. eager=False:
            # the k-row blocks materialize inside the next iteration's (or
            # the caller's) own jobs — no dedicated job per iteration.
            checkpoint_dir,
            eager=False,
        )
    return cent.select(F.col("cid").alias(id_col), F.col("cv").alias(vec_col))


def plane_weights(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane weights from md5 parity of 'plane{p}:{d}'
    — computed once at plan-build time and embedded as literals in both the
    Spark plan and the DuckDB oracle SQL, so the engines share planes by
    construction (and no per-row hashing happens at execution)."""

    return [
        [
            1.0
            if int(hashlib.md5(f"plane{p}:{d}".encode()).hexdigest()[:15], 16) & 1
            else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_signature(vec: Column, weights: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit p is the sign of w_p·v.

    A vector whose length differs from the plane dimension raises instead
    of hashing: zip_with pads the shorter side with nulls, every
    projection goes null, and EVERY such vector would land in bucket 0 —
    silently turning the bucket join into the all-pairs quadratic it
    exists to avoid. A NULL vector raises its own named error: without
    the explicit branch it fell into the length-mismatch raise with a
    NULL-concatenated (blank) message."""
    dim = len(weights[0])
    sig = F.lit(0).cast("bigint")
    for p, w in enumerate(weights):
        w_lit = F.array(*[F.lit(x) for x in w])
        proj = dot(vec, w_lit)
        sig = sig + F.when(proj >= 0, F.lit(2**p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return F.when(
        vec.isNull(),
        F.raise_error(
            F.lit(
                "hyperplane_signature: null embedding — filter or impute "
                "null vectors before LSH bucketing"
            )
        ).cast("bigint"),
    ).when(F.size(vec) == dim, sig).otherwise(
        F.raise_error(
            F.concat(
                F.lit("hyperplane_signature: vector length "),
                F.size(vec).cast("string"),
                F.lit(f" != plane dim {dim} — pass the embeddings' real dim"),
            )
        )
    )


def lsh_bucket_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-duplicate pairs: same-bucket candidates scored with
    exact cosine, kept when >= threshold. Returns (id_a, id_b, score).

    NULL embeddings are dropped EXPLICITLY before bucketing: they can
    never pair (cosine with nothing), and without the filter their fate
    depended on whether the optimizer's inferred isnotnull(bucket)
    join-key filter happened to prune them before the signature's
    null-raise evaluated."""
    weights = plane_weights(n_planes, dim)
    base = (
        corpus.select(
            F.col(id_col).alias("vid"),
            as_double(F.col(vec_col)).alias("v"),
        )
        .filter(F.col("v").isNotNull())
        .withColumn("bucket", hyperplane_signature(F.col("v"), weights))
        .withColumn("nrm", norm(F.col("v")))
    )
    a = base.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "bucket"
    )
    b = base.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "bucket"
    )
    return (
        a.join(b, on="bucket", how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "score", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def quantize_embedding(vec: Column, bits: int = 8) -> tuple[Column, Column]:
    """Symmetric per-vector integer quantization for embedding storage:
    ``scale = max|x_i|``, ``code_i = floor(x_i * L / scale + 0.5)`` with
    ``L = 2^(bits-1) - 1`` — int8 codes cut vector-store bytes 4x against
    float32 while brute-force/IVF scoring keeps working on dequantized
    values (error <= scale/(2L) per element).

    Returns ``(scale, codes)`` column pair. Pure array HOFs (codegen, no
    UDF, no shuffle); the floor(+0.5) form is used instead of round() so
    the oracle SQL reproduces ties bit-exactly on both engines. Zero
    vectors quantize to all-zero codes with scale 0.
    """

    levels = (1 << (bits - 1)) - 1
    v = as_double(vec)
    s = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # let-bind the scale: HOF lambdas run interpreted with no subexpression
    # elimination, so referencing `s` directly inside the per-element
    # lambda would recompute the array_max twice per element (O(dim^2)
    # per row) — the exact pitfall operators/dedup.py::let documents.
    codes = let(
        s,
        lambda sb: F.transform(
            v,
            lambda x: F.when(sb == F.lit(0.0), F.lit(0).cast("bigint")).otherwise(
                F.floor(x * F.lit(float(levels)) / sb + F.lit(0.5))
            ),
        ),
    )
    return s, codes


# --------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance search — the memory-side
# scale lever of the ANN family. IVF cuts the SCAN (probe a few lists); PQ
# cuts the BYTES (a 64-dim float32 vector becomes M small codes) and scores
# against compressed codes via per-query lookup tables. At 100 TB the two
# compose: IVF-partition the corpus, PQ-encode each list, ADC-score probed
# lists only. (Jégou et al., "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011 — public literature.)
# --------------------------------------------------------------------------


def _require_codebooks(codebooks: list[list[list[float]]]) -> None:
    """Reject a degenerate PQ model (no subspaces, or a subspace with no
    centroids) before any plan is built — the symptom otherwise is a bare
    IndexError deep in the encode/LUT numpy code."""
    if not codebooks or any(not cb or not cb[0] for cb in codebooks):
        raise ValueError(
            "degenerate PQ codebooks: expected M non-empty centroid lists, "
            f"got shapes {[len(cb) for cb in codebooks] or '[]'}"
        )


def _pq_lut_frame(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-query ADC lookup tables as ``(query_id, lut)`` — the
    M × n_codes squared distances from each query subvector to every
    codebook centroid, computed in ONE vectorized Arrow pass over the
    (tiny) query side rather than as M × n_codes distance column trees:
    the expression form costs thousands of py4j round trips just to BUILD
    (measured ~4 s of driver time per invocation at M=8, k=16 — the same
    construction trap pq_encode documents), while the numpy form is an
    explicit left fold over the sub-dims with the SQL oracle's exact IEEE
    association (acc = 0.0; acc += diff² per dim), so LUT values — and
    therefore ADC scores — match the SQL oracle bit for bit."""

    _require_codebooks(codebooks)
    m_subspaces = len(codebooks)
    sub_dim = len(codebooks[0][0])
    cb = np.array(codebooks, dtype=np.float64)  # (M, k, sub_dim)
    lut_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("lut", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )

    def build_lut(batches):
        for pdf in batches:
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            ).reshape(len(pdf), m_subspaces * sub_dim)
            luts = np.empty((len(pdf), m_subspaces, cb.shape[1]))
            for m in range(m_subspaces):
                sub = mat[:, m * sub_dim : (m + 1) * sub_dim]
                acc = np.zeros((len(pdf), cb.shape[1]))
                for i in range(sub_dim):
                    diff = sub[:, i : i + 1] - cb[m, :, i][None, :]
                    acc = acc + diff * diff
                luts[:, m, :] = acc
            yield pd.DataFrame(
                {
                    "query_id": pdf[id_col],
                    "lut": [[list(row) for row in l] for l in luts],
                }
            )

    # coalesce(1): the query side is broadcast-small by contract (tens of
    # rows), but it inherits the corpus frame's partitioning (spread_small's
    # 32-way round robin) — and EVERY partition of a MapInPandas stage pays
    # a Python-worker round trip even when empty (measured ~0.2 s/stage of
    # pure handshake on empty/near-empty tasks). One partition, one round
    # trip; no shuffle (coalesce narrows).
    return queries.select(F.col(id_col), F.col(vec_col)).coalesce(1).mapInPandas(
        build_lut, schema=lut_schema
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``codes: array<int>`` — per subspace, the
    index of the nearest codebook centroid (squared-euclidean; first-lowest
    index wins ties). One fused Arrow batch pass: M × n_codes distances per
    row is the same interpreted-HOF-pipeline trap as the minhash signature
    stage (measured ~7 s at sf0.1 as column expressions vs well under a
    second vectorized), so the distances run as numpy batch arithmetic with
    an EXPLICIT left fold over the sub-dims — the same IEEE association as
    the SQL oracle's sequential aggregate, so codes (and therefore ADC
    results) match the SQL oracle bit for bit.
    One corpus scan, no shuffle; ``np.argmin`` returns the first minimum,
    matching the lowest-index tie-break.

    Every input column except ``vec_col`` passes through unchanged (so an
    IVF list assignment computed upstream rides along — no extra join)."""

    _require_codebooks(codebooks)
    m_subspaces = len(codebooks)
    sub_dim = len(codebooks[0][0])
    cb = np.array(codebooks, dtype=np.float64)  # (M, k, sub_dim)
    keep = [f for f in corpus.schema.fields if f.name != vec_col]
    out_schema = T.StructType(
        keep + [T.StructField("codes", T.ArrayType(T.IntegerType()))]
    )

    def encode(batches):
        for pdf in batches:
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            ).reshape(len(pdf), m_subspaces * sub_dim)
            codes = np.empty((len(pdf), m_subspaces), dtype=np.int32)
            for m in range(m_subspaces):
                sub = mat[:, m * sub_dim : (m + 1) * sub_dim]  # (n, sub_dim)
                # (n, k) distances via explicit left fold over sub-dims:
                # acc starts at 0.0, + term per dim — the oracle's association
                acc = np.zeros((len(pdf), cb.shape[1]))
                for i in range(sub_dim):
                    diff = sub[:, i : i + 1] - cb[m, :, i][None, :]
                    acc = acc + diff * diff
                codes[:, m] = np.argmin(acc, axis=1)  # first min wins ties
            out = pdf[[f.name for f in keep]].copy()
            out["codes"] = [list(map(int, c)) for c in codes]
            yield out

    return corpus.mapInPandas(encode, schema=out_schema)


def pq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): each query
    precomputes an M × n_codes lookup table of squared distances to every
    codebook centroid ONCE (on the tiny broadcast query side, before the
    join), and scoring a corpus row is just M table lookups + adds over its
    ``codes`` — no per-pair vector arithmetic at all. Distance ascending,
    ties on neighbor id. Returns (query_id, neighbor_id, adc_dist2, rank).

    At 100 TB: the encoded corpus (M ints/row) streams through one scan;
    the only shuffle is the per-query top-k window — same skeleton as
    :func:`cosine_topk`, ~dim/M× less join-side compute and ~16x less
    corpus I/O than scanning raw float32 vectors.

    ``queries`` contract (ADVICE r10): the query side must be
    broadcast-small (tens-to-thousands of rows) AND cheap to compute — the
    LUT pass collapses it to one task (``coalesce(1)`` narrows, pulling any
    narrow pipeline above it onto one core). A caller with a heavy query
    pipeline (decode/UDF chains) should materialize it first.
    """
    m_subspaces = len(codebooks)
    q = _pq_lut_frame(queries, codebooks, id_col, vec_col)
    scored = (
        encoded.withColumnRenamed(id_col, "neighbor_id")
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "adc_dist2",
            # left-to-right subspace fold — the same association order as
            # the per-subspace reference sum, so ADC is bit-reproducible
            functools.reduce(
                lambda acc, term: acc + term,
                [
                    F.element_at(
                        F.element_at("lut", m + 1),
                        F.element_at("codes", m + 1) + 1,
                    )
                    for m in range(m_subspaces)
                ],
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist2", "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup — semantic deduplication of an embedding corpus (Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication", arXiv:2303.09540): cluster the embeddings,
    then mark as duplicates the vectors whose cosine similarity to a
    lower-id vector *in the same cluster* reaches ``threshold``. Matches
    the paper's released formulation (upper-triangular similarity matrix
    per cluster, drop a row when its max same-cluster similarity to an
    earlier row crosses 1-eps).

    Returns one row per DROPPED vector: ``(vec_id, cluster_id, kept_id,
    score)`` where ``kept_id`` is the smallest lower-id in-cluster
    duplicate and ``score`` its cosine — the audit-trail shape (who was
    removed, on whose account) a curation pipeline logs.

    Scale shape (what makes this 100 TB-safe, exactly the SemDeDup
    argument): nearest-centroid assignment is a pure projection against a
    one-row broadcast centroid list (the corpus is never shuffled to be
    assigned); the only exchange hash-partitions by ``cluster_id``; the
    quadratic pair join runs per cluster, so cost is sum-of-cluster-sizes
    squared, bounded by choosing k ~ N/target_cluster_size — never the
    global all-pairs square. AQE's skew-join split absorbs an oversized
    cluster. ``centroids`` is pluggable (:func:`kmeans_centroids` in
    production; any deterministic subset for oracle-gated tests).

    Determinism contract: assignment argmax breaks score ties on the
    smallest centroid id; cosine is the fixed-association fold of
    :func:`cosine_topk`; the kept/dropped decision compares vector ids —
    so the result is bit-reproducible cross-engine and oracle-able.
    """
    cent = centroids.select(
        F.col(id_col).alias("cid"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    cent_row = F.broadcast(
        cent.agg(F.array_sort(F.collect_list(F.struct("cid", "cv", "cn"))).alias("cents"))
    )

    def scores(v, n):
        # struct ordering does the argmax: max score, ties -> max negcid
        # (= smallest cid), same contract as ivf_topk's assignment.
        return lambda c: F.struct(
            (dot(v, c["cv"]) / (n * c["cn"])).alias("s"),
            (-c["cid"]).alias("negcid"),
        )

    assigned = (
        corpus.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"))
        .withColumn("nrm", norm(F.col("v")))
        .crossJoin(cent_row)
        .withColumn(
            "cluster_id",
            -F.array_max(F.transform(F.col("cents"), scores(F.col("v"), F.col("nrm"))))[
                "negcid"
            ],
        )
        .drop("cents")
    )
    keep = assigned.select(
        "cluster_id",
        F.col("vid").alias("kept_id"),
        F.col("v").alias("kv"),
        F.col("nrm").alias("kn"),
    )
    drop = assigned.select(
        "cluster_id",
        F.col("vid").alias(id_col),
        F.col("v").alias("dv"),
        F.col("nrm").alias("dn"),
    )
    pairs = (
        keep.join(drop, on="cluster_id", how="inner")
        .filter(F.col("kept_id") < F.col(id_col))
        .withColumn("score", dot(F.col("kv"), F.col("dv")) / (F.col("kn") * F.col("dn")))
        .filter(F.col("score") >= threshold)
    )
    w = Window.partitionBy(id_col).orderBy(F.asc("kept_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "cluster_id", "kept_id", "score")
    )
