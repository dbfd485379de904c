"""Document deduplication for large-scale training-data pipelines.

Four techniques over the ``documents`` table, each designed for the 100 TB
path and each with a DuckDB-oracle-exact formulation:

- exact:   content-hash group-by (one shuffle on a 128-bit key)
- MinHash+LSH: shingle → per-doc minhash signature (computed with array
  higher-order functions — NO explode/shuffle per shingle) → band → bucket
  join for candidates → exact-Jaccard verify on candidates only
- SimHash: token-hash bit-vote fingerprint → byte-band bucket join →
  Hamming filter (``bit_count(xor)``)
- embedding cosine: see :mod:`...operators.similarity`

Determinism contract: every hash is the md5-derived 60-bit integer
``conv(substr(md5(seed || ':' || s), 1, 15), 16, 10)`` which DuckDB
reproduces as ``('0x' || substr(md5(seed || ':' || s), 1, 15))::BIGINT``, so
signatures, buckets, and similarity scores are bit-identical across engines.

Scale notes: signatures are per-row array expressions (whole-stage codegen,
no Python, no shuffle); the only exchanges are the band-bucket join (skewed
buckets handled by AQE skew-join) and the candidate-verify join. Candidate
count — not corpus² — bounds the quadratic stage, which is the point of LSH.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: spread_small ceiling: above this input size the scan's own split math
#: (maxPartitionBytes) is authoritative and a round-robin of raw rows before
#: any aggregation is the wrong trade (guide §2.3 — aggregate before you
#: shuffle). Local fixtures are KB-MB scale, so this never fires locally.
_SPREAD_MAX_BYTES = 1 << 30


def spread_small(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the scan yields fewer partitions than cores —
    small reference files otherwise serialize heavy per-row expressions onto
    one core. No-op (no added shuffle) on properly-sized inputs at scale.

    Guarded twice (r11 added the bytes bound): by partition count (a
    properly-split scan is never touched) AND by input bytes — on a large
    cluster a mid-size table (say 10 GB in 80 partitions on 8000 cores)
    passes the count guard, but round-robinning 10 GB of raw rows ahead of
    an aggregation shuffles the full payload for nothing. File lengths come
    from the session's Hadoop ``FileSystem``, so the guard holds for any
    scheme (``file:``, ``s3a://``, ``hdfs://``). Unknown input size
    (non-file sources) keeps the small-reference-file assumption."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    try:
        size = _input_bytes(spark, df.inputFiles())
    except Exception:
        size = None
    if size is not None and size > _SPREAD_MAX_BYTES:
        return df
    return df.repartition(target)


def _input_bytes(spark, paths: list[str]) -> int:
    """Total length of ``paths``, resolved per path through the Hadoop
    ``FileSystem`` its scheme maps to."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for p in paths:
        path = hpath(p)
        total += path.getFileSystem(conf).getFileStatus(path).getLen()
    return total


def h64(col: Column, seed: int | str = 0) -> Column:
    """Deterministic 60-bit hash, identical in Spark and DuckDB (see module
    docstring). Positive range [0, 2^60), safe for bigint arithmetic."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("bigint")


def let(bound: Column, fn) -> Column:
    """Evaluate ``fn`` with ``bound`` computed exactly once per row, via
    higher-order-function lambda binding (transform over a 1-element array).

    Catalyst's CollapseProject inlines sub-expressions into every reference,
    and HOF-bearing projections run interpreted (no codegen, no subexpression
    elimination) — so an expression referenced k times is computed k times.
    A signature referenced by every band turns O(hashes) work into
    O(bands x rows x hashes). Lambda-binding restores let-semantics."""
    return F.element_at(F.transform(F.array(bound), fn), 1)


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (single-space corpus; regex-free so both
    engines split identically)."""
    return F.split(text, " ")


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column (no explode)."""
    toks = tokens_col(text)
    make = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )
    return F.array_distinct(F.when(F.size(toks) >= n, make).otherwise(F.array()))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: md5 content hash → representative (min id) + copy count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) for the universal-hash family
    ``h_j(x) = (a_j * (x % 2^31) + b_j) % (2^61 - 1)`` — md5-derived at
    plan-build time and embedded as literals in both engines. Bounds keep
    every intermediate < 2^62, safe under ANSI bigint arithmetic."""

    def _c(tag: str, lo: int, hi: int) -> int:
        return lo + int(hashlib.md5(tag.encode()).hexdigest()[:15], 16) % (hi - lo)

    return [
        (_c(f"mh_a{j}", 1, 1 << 30), _c(f"mh_b{j}", 0, 1 << 30))
        for j in range(num_hashes)
    ]


MERSENNE_61 = (1 << 61) - 1


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs: LSH-banded candidates, verified with exact
    Jaccard over the shingle sets. Returns (doc_a, doc_b, jaccard >= thr)."""
    if num_hashes % bands:
        # trailing minhashes would be computed but never land in a band —
        # silently changing the LSH sensitivity curve from the requested
        # configuration
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    # Signatures are the expensive stage and are consumed three times (both
    # bucket-join sides + verify) — compute them in ONE fused Arrow pass
    # (shingle -> md5 -> universal-hash minima -> band md5s, all C-speed in
    # Python; the interpreted-JVM expression pipeline for the same work is
    # ~10x slower) and materialize once. Byte-identical to the JVM column
    # formulation and the SQL oracle. spread_small guards against tiny
    # inputs collapsing onto one core.

    params = minhash_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.int64)
    B = np.array([b for _, b in params], dtype=np.int64)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sh_out, band_out = [], []
            for text in pdf["__text"]:
                # null text yields no shingles and no bands — the doc can
                # never be a candidate, same as the JVM shingles_col path
                # (at corpus scale null documents exist; .split on None
                # otherwise kills the task)
                toks = text.split(" ") if text is not None else []
                shs = (
                    list({" ".join(toks[i : i + shingle_n]) for i in range(len(toks) - shingle_n + 1)})
                    if len(toks) >= shingle_n
                    else []
                )
                sh_out.append(shs)
                if not shs:
                    band_out.append([])
                    continue
                x = np.fromiter(
                    (
                        int(hashlib.md5(b"0:" + s.encode("utf-8")).hexdigest()[:15], 16)
                        % (1 << 31)
                        for s in shs
                    ),
                    dtype=np.int64,
                    count=len(shs),
                )
                mh = ((A[:, None] * x[None, :] + B[:, None]) % MERSENNE_61).min(axis=1)
                band_out.append(
                    [
                        hashlib.md5(
                            (
                                f"{b}|"
                                + ",".join(
                                    str(mh[b * rows_per_band + r]) for r in range(rows_per_band)
                                )
                            ).encode()
                        ).hexdigest()
                        for b in range(bands)
                    ]
                )
            yield pd.DataFrame(
                {"doc_id": pdf["__id"], "sh": sh_out, "bands": band_out}
            )

    import pyspark.sql.types as T

    sigs = (
        spread_small(df)
        .select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .mapInPandas(
            build,
            schema=T.StructType(
                [
                    T.StructField("doc_id", df.schema[id_col].dataType),
                    T.StructField("sh", T.ArrayType(T.StringType())),
                    T.StructField("bands", T.ArrayType(T.StringType())),
                ]
            ),
        )
        .persist()
    )
    # Candidate generation stays slim: ids + band signature only, so the
    # bucket self-join shuffles no arrays.
    buckets = sigs.select("doc_id", F.explode("bands").alias("band_sig"))
    cands = (
        buckets.alias("a")
        .join(buckets.alias("b"), on="band_sig", how="inner")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Verify-stage width (r11): the dedup exchange's output is a few bytes
    # per pair, so AQE's byte-based coalescing lands the exact-Jaccard
    # verify — heavy array_intersect work per row once the shingle arrays
    # are joined in below — on 1-2 tasks. Re-spread the DEDUPED pairs (ids
    # only, the smallest frame in the query) so the verify runs at cluster
    # width; user-numbered repartitions are exempt from AQE coalescing,
    # which is the point.
    cands = cands.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # Verify only the candidates: shingle arrays join in here, bounded by the
    # candidate count, not corpus².
    sh = sigs.select("doc_id", "sh")
    pairs = (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # guard the (empty, empty) candidate case: ANSI mode makes 0/0 throw
    jaccard = F.when(union > 0, inter / union).otherwise(F.lit(None))
    return (
        pairs.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via an inverted index — the
    ground-truth counterpart to the MinHash/SimHash approximations.

    Plan: shingle arrays once (codegen, no Python) → slim posting list
    (id, shingle) → self-join on shingle → count common shingles per pair
    (one map-side-combinable groupBy) → join per-doc sizes → exact
    ``|A∩B| / (|A|+|B|-|A∩B|)``. Finds every pair with jaccard >= threshold
    (any such pair shares a shingle, so the inverted index loses nothing).

    Scale: shuffle volume is the total posting count, not corpus². The
    hazard is shingle-frequency skew (stock phrases appearing in millions of
    docs → quadratic bucket blowup); ``max_df`` stop-lists shingles whose
    document frequency exceeds it *in both index sides symmetrically*. With
    ``max_df`` set the join becomes the standard DF-pruned approximation
    (common shingles no longer generate candidates, but still count toward
    union sizes, so reported jaccard is a lower bound); ``None`` keeps it
    exact and leans on AQE skew-join splitting.

    Caching contract: with ``persist=True`` (default) the shingle base and
    the pruned posting list are ``persist()``-ed and stay cached until the
    caller clears them — the result is lazy, so this function cannot
    unpersist them itself. Batch sessions that ``clearCache()`` between
    queries (bench.py, the driver gate) get the intended behavior free;
    long-lived sessions should either clear the cache after consuming the
    result or pass ``persist=False`` to trade repeated sub-plan
    re-computation for zero cache footprint.
    """
    # The shingle table feeds four consumers (both join sides + both size
    # lookups); without materialization each one re-scans the text and
    # re-builds the arrays. Persist the slim (id, shingles) projection once
    # (MEMORY_AND_DISK default — spills rather than OOMs at scale), exactly
    # as minhash_lsh_dedup does with its signature table.
    base = spread_small(df).select(
        F.col(id_col).alias("doc_id"),
        shingles_col(F.col(text_col), shingle_n).alias("sh"),
    )
    if persist:
        base = base.persist()
    sizes = base.select("doc_id", F.size("sh").alias("n"))
    post = base.select("doc_id", F.explode("sh").alias("shingle"))
    if max_df is not None:
        df_counts = post.groupBy("shingle").agg(F.count("*").alias("df"))
        post = post.join(
            F.broadcast(df_counts.filter(F.col("df") > max_df)),
            "shingle",
            "left_anti",
        )
        if persist:
            # Both sides of the self-join consume the pruned posting list;
            # without materialization each side re-runs the df aggregation
            # and the anti join (measured 2.7x slower at sf0.1). See the
            # caching contract in the docstring — an eager unpersist here
            # would run before the lazy result consumed it.
            post = post.persist()
    common = (
        post.alias("a")
        .join(post.alias("b"), on="shingle", how="inner")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    pairs = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def simhash_col(text: Column, n_bits: int = 32) -> Column:
    """Token-frequency SimHash: per bit, vote +1/-1 by the token-hash bit,
    then pack the sign bits. Word-order invariant by construction.

    Token hashing (md5) stays JVM-side; the n_bits x tokens bit-vote
    accumulation runs as a vectorized numpy Pandas UDF over the hash
    arrays — pure integer arithmetic, so results are identical to the SQL
    formulation the oracle uses, at ~10x the interpreted-HOF throughput
    (48 per-bit array folds per row was the bench's hottest line)."""

    @F.pandas_udf("bigint")
    def pack(texts: pd.Series) -> pd.Series:
        bits = np.arange(n_bits, dtype=np.int64)
        out = np.zeros(len(texts), dtype=np.int64)
        isnull = np.zeros(len(texts), dtype=bool)
        for i, text in enumerate(texts):
            if text is None:
                # null text -> null simhash (null-propagating, like every
                # JVM expression; .split on None otherwise kills the task
                # on a corpus with null documents)
                isnull[i] = True
                continue
            toks = text.split(" ")
            a = np.fromiter(
                (
                    int(hashlib.md5(b"0:" + t.encode("utf-8")).hexdigest()[:15], 16)
                    for t in toks
                ),
                dtype=np.int64,
                count=len(toks),
            )
            votes = (((a[:, None] >> bits) & 1) * 2 - 1).sum(axis=0)
            out[i] = int(((votes >= 0).astype(np.int64) << bits).sum())
        # masked int64 extension array: stays a zero-copy Arrow transfer
        # (an object series would box every value)
        return pd.Series(pd.arrays.IntegerArray(out, isnull))

    return pack(text)


def simhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: byte-band bucket join (pigeonhole:
    <= max_hamming differing bits with n_bands > max_hamming bands means at
    least one band collides), then exact Hamming filter."""
    if n_bands <= max_hamming:
        # the pigeonhole guarantee needs more bands than allowed bit flips;
        # violated, the bucket join silently MISSES near-duplicate pairs
        # whose differing bits spread one-per-band (an assert here would
        # vanish under python -O)
        raise ValueError(
            f"n_bands ({n_bands}) must exceed max_hamming ({max_hamming}) "
            "or the band join misses legitimate near-duplicates"
        )
    bits_per_band = n_bits // n_bands
    mask = (1 << bits_per_band) - 1
    base = (
        spread_small(df)
        # null text -> null simhash -> not a near-dup candidate (matches
        # the minhash path, where null text yields no bands). Filter the
        # TEXT, before the UDF: sim is null iff text is null, and a
        # sim-level isNotNull gets predicate-pushed below the projection,
        # DUPLICATING the Arrow eval (two stacked ArrowEvalPython nodes =
        # every signature computed twice — measured 2x on the bench).
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            simhash_col(F.col(text_col), n_bits).alias("sim"),
        )
        .persist()
    )
    # numeric band key (r10): (band_index << bits_per_band) | band_bits is
    # a bijective re-encoding of the old "i|bits" string — identical
    # collision structure, but the self-join hashes/compares a bigint
    # instead of building + hashing a concat string per row (the band
    # probe was the query's hottest JVM stage)
    bands = base.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    (
                        F.shiftright("sim", i * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        + F.lit(i * (mask + 1))
                    ).cast("bigint")
                    for i in range(n_bands)
                ]
            )
        ).alias("band_key"),
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), F.col("sim").alias("sim_a"), "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), F.col("sim").alias("sim_b"), "band_key")
    # Hamming-filter BEFORE the dropDuplicates exchange (r10): hamming is a
    # pure function of (sim_a, sim_b), identical for every band-collision
    # copy of a pair, so filter-then-dedup is exactly dedup-then-filter —
    # but the dedup exchange then carries only the near-duplicate pairs
    # instead of every band collision (measured 30.9 MB -> ~KB at sf0.1;
    # at corpus scale band collisions dwarf true near-dups, so this is the
    # shuffle-fewer-bytes lever, not a fixture trick).
    return (
        a.join(b, on="band_key", how="inner")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Directed near-duplicate CONTAINMENT join: emit ``(contained_id,
    container_id, containment)`` where ``containment = |A∩B| / |A|`` ≥
    ``threshold`` — the asymmetric cousin of Jaccard that catches a short
    document living inside a longer one (quoted articles, boilerplate
    wrappers, concatenated shards), which symmetric Jaccard misses because
    the union is dominated by the long side.

    Same inverted-index skeleton, scale posture, ``max_df`` skew cap, and
    caching contract as :func:`ngram_jaccard_pairs`; each undirected
    candidate pair yields up to two directed rows (A-in-B, B-in-A).
    Single-shingle exact containment of trivial docs is still containment
    1.0 by definition — filter short docs upstream if that is noise.
    """
    base = spread_small(df).select(
        F.col(id_col).alias("doc_id"),
        shingles_col(F.col(text_col), shingle_n).alias("sh"),
    )
    if persist:
        base = base.persist()
    sizes = base.select("doc_id", F.size("sh").alias("n"))
    post = base.select("doc_id", F.explode("sh").alias("shingle"))
    if max_df is not None:
        df_counts = post.groupBy("shingle").agg(F.count("*").alias("df"))
        post = post.join(
            F.broadcast(df_counts.filter(F.col("df") > max_df)),
            "shingle",
            "left_anti",
        )
        if persist:
            post = post.persist()
    common = (
        post.alias("a")
        .join(post.alias("b"), on="shingle", how="inner")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sized = common.join(
        sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"),
        "doc_a",
    ).join(
        sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"),
        "doc_b",
    )
    fwd = sized.select(
        F.col("doc_a").alias("contained_id"),
        F.col("doc_b").alias("container_id"),
        (F.col("common") / F.col("na")).alias("containment"),
    )
    rev = sized.select(
        F.col("doc_b").alias("contained_id"),
        F.col("doc_a").alias("container_id"),
        (F.col("common") / F.col("nb")).alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_distance: int = 10,
    min_common: int = 3,
    persist: bool = True,
) -> DataFrame:
    """Edit-distance similarity join: pairs with ``levenshtein(a, b) <=
    max_distance`` — the character-level near-dup verify for OCR noise,
    typo variants, and template fills that token-set measures blur over.

    Levenshtein is O(len²) per pair, so it NEVER runs all-pairs: shared
    word-shingle blocking generates candidates and a count filter
    (``min_common`` shared shingles — an edit touches at most
    ``shingle_n`` word shingles per word changed, so near-identical docs
    share many) prunes them before the quadratic verify (PassJoin/Ed-Join
    family, public literature). At this corpus the filter cuts 11.5k
    shared-shingle candidates to ~130 verifications. Same caching
    contract as :func:`ngram_jaccard_pairs`; integer distances make the
    oracle comparison exact by construction.

    Recall bound (be honest about the filter): one edited WORD destroys
    at most ``shingle_n`` shingles, so a pair within ``max_distance``
    whose docs have at least ``min_common + shingle_n * ceil(
    max_distance / 2)`` shingles (i.e. are not very short) is ALWAYS
    found; pairs of very short documents can share fewer than
    ``min_common`` shingles and be missed — run short docs through a
    dedicated length-banded pass (cheap: they are short) if that tail
    matters. The catalog gate mirrors the same blocking, so the oracle
    pins the implemented semantics, and the property test pins the bound.
    """
    base = spread_small(df).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        shingles_col(F.col(text_col), shingle_n).alias("sh"),
    )
    if persist:
        base = base.persist()
    post = base.select("doc_id", F.explode("sh").alias("shingle"))
    cand = (
        post.alias("a")
        .join(post.alias("b"), on="shingle", how="inner")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    texts = base.select("doc_id", "text")
    verified = (
        cand.join(
            texts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("text", "ta"),
            "doc_a",
        )
        .join(
            texts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("text", "tb"),
            "doc_b",
        )
        .withColumn("edit_distance", F.levenshtein("ta", "tb").cast("bigint"))
        .filter(F.col("edit_distance") <= max_distance)
    )
    return verified.select("doc_a", "doc_b", "edit_distance")
