"""Tests: operators under maximal key skew."""

from __future__ import annotations


def test_semantic_dedup_survives_one_giant_cluster(spark):
    # Skew stress: centroids chosen so nearly every vector lands in ONE
    # cluster (the SemDeDup hazard case — per-cluster pair work goes
    # quadratic in that cluster). The operator must still complete and
    # agree with brute force; at real scale AQE splits the hot cluster,
    # here we pin correctness under maximal skew.
    import math
    import random

    from pyspark.sql import functions as F

    from time_series_and_data_lakes_spark.operators.similarity import semantic_dedup

    rng = random.Random(41)
    dim, n = 6, 120
    # all vectors near +e0, so centroid 0 absorbs ~everything; centroid 1
    # is far away (-e0)
    vecs = {}
    vecs[0] = [1.0] + [0.0] * (dim - 1)
    vecs[1] = [-1.0] + [0.0] * (dim - 1)
    for i in range(2, n):
        vecs[i] = [1.0] + [rng.uniform(-0.3, 0.3) for _ in range(dim - 1)]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    cents = {0: vecs[0], 1: vecs[1]}
    assign = {i: min(cents, key=lambda c: (-cos(vecs[i], cents[c]), c)) for i in vecs}
    giant = sum(1 for i in assign if assign[i] == 0)
    assert giant >= n - 1  # the skew premise holds

    thr = 0.95
    want = {}
    for i in vecs:
        lower = [
            j
            for j in vecs
            if j < i and assign[j] == assign[i] and cos(vecs[j], vecs[i]) >= thr
        ]
        if lower:
            want[i] = min(lower)

    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["kept_id"]
        for r in semantic_dedup(
            df, df.filter(F.col("vec_id") < 2), threshold=thr
        ).collect()
    }
    assert got == want and len(want) > 20  # heavy dedup inside the giant cluster
