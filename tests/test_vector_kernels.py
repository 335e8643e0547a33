"""The shared numpy kernels of pipelines/similarity.py, exercised where
the fixtures cannot reach them: Arrow batches that split an LSH bucket
(fixture partitions fit one batch), and an all-zero vector (every
fixture vector has norm ≈ 1)."""

from __future__ import annotations

import numpy as np
import pandas as pd


def _groups(batches):
    from kafka_overwatch_spark.pipelines.similarity import _bucket_groups

    return [
        (int(g["tbl"].iloc[0]), int(g["bucket"].iloc[0]), list(g["vec_id"]))
        for g in _bucket_groups(iter(batches), ["tbl", "bucket"])
    ]


def test_bucket_groups_hold_back_straddling_bucket():
    """Groups are the same however the sorted rows are cut into
    batches: a bucket split across 2 batches, one split across 3 with
    an empty batch between, and singletons dropped either way."""
    keys = [(0, 1)] + [(0, 4)] * 3 + [(0, 9)] * 5 + [(1, 4)] + [(1, 7)] * 2
    full = pd.DataFrame(
        {
            "vec_id": np.arange(len(keys), dtype=np.int64),
            "tbl": np.array([t for t, _ in keys], dtype=np.int64),
            "bucket": np.array([b for _, b in keys], dtype=np.int64),
        }
    )
    expected = [(0, 4, [1, 2, 3]), (0, 9, [4, 5, 6, 7, 8]), (1, 7, [10, 11])]
    assert _groups([full]) == expected
    empty = full.iloc[0:0]
    cuts = [
        # (0, 4) across 2 batches, (0, 9) across 3 with an empty between
        [full.iloc[:3], full.iloc[3:5], empty, full.iloc[5:7], full.iloc[7:]],
        # every row its own batch, empty batches interleaved
        [b for i in range(len(full)) for b in (full.iloc[i : i + 1], empty)],
    ]
    for batches in cuts:
        assert _groups(batches) == expected


def test_zero_vector_scores_zero(spark):
    """An all-zero vector has cosine 0.0 to every query on both the
    exact and the PQ path (the floored normalize), not a NaN that
    surfaces as null and ranks last."""
    from kafka_overwatch_spark.pipelines.similarity import (
        EMB_DIM,
        ann_pq_topk,
        brute_force_topk_vectorized,
    )

    mat = np.random.default_rng(7).standard_normal((41, EMB_DIM))
    mat[40] = 0.0
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )
    for result in (
        brute_force_topk_vectorized(emb, k=41),
        ann_pq_topk(emb, k=41),
    ):
        zero = [r for r in result.collect() if r["vec_id"] == 40]
        assert len(zero) == 10  # one row per default query 0..9
        assert all(r["cosine"] == 0.0 for r in zero)
