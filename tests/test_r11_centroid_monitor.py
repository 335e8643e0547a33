"""r11 continuation: streaming embedding centroid-drift monitor — the
sixth ingest-gate member and the first over the vector modality.
readStream → foreachBatch with availableNow + checkpoint replay (the
family harness shape), alert on a mean-vector swing, release ==
library-arithmetic equality, and mergeable-state compaction
invariance."""

from __future__ import annotations

import pytest

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def _embs(spark, rows):
    return spark.createDataFrame(rows, EMB_SCHEMA)


def _write(spark, path, rows):
    _embs(spark, rows).coalesce(1).write.mode("append").parquet(path)


def test_centroid_monitor_readstream_replay_and_alert(
    spark, tmp_path, monkeypatch
):
    from pyspark.sql.conf import RuntimeConfig

    from kafka_overwatch_spark.streaming.embeddings_stream import (
        CentroidDriftMonitor,
        init_centroid_index,
    )
    from kafka_overwatch_spark.streaming.state import file_stream, run

    # handlers must get dynamic overwrite from the write option alone,
    # never by mutating session conf
    conf_keys = []
    real_set = RuntimeConfig.set

    def spy_set(self, key, *args, **kwargs):
        conf_keys.append(key)
        return real_set(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)

    in_dir = str(tmp_path / "in")
    base = str(tmp_path / "idx")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    # seed lifetime: vectors along +x
    seed = _embs(spark, [(1000 + i, [1.0, 0.0], 0) for i in range(20)])
    init_centroid_index(spark, seed, base)

    # batch 0: same direction — cosine 1, shift 0, no alert
    _write(spark, in_dir, [(i, [2.0, 0.0], 0) for i in range(5)])
    # batch 1: orthogonal flood — cosine vs (+x)-dominated lifetime
    # collapses, alert fires
    _write(spark, in_dir, [(100 + i, [0.0, 1.0], 0) for i in range(10)])
    run(CentroidDriftMonitor(base, out_dir), file_stream(spark, in_dir), ckpt)

    rel = {
        r["batch_id"]: r for r in spark.read.parquet(out_dir).collect()
    }
    assert set(rel) == {0, 1}
    assert rel[0]["cosine"] == 1.0
    assert rel[0]["cosine_shift"] == 0.0 and not rel[0]["alert"]
    assert rel[0]["n_batch"] == 5 and rel[0]["n_lifetime"] == 20
    assert rel[1]["alert"] and rel[1]["cosine_shift"] > 0.9
    # batch 1's lifetime includes batch 0's sums
    assert rel[1]["n_lifetime"] == 25

    # replay with nothing new: byte-stable releases AND state
    before = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    state_before = sorted(
        map(tuple, spark.read.parquet(f"{base}/sums").collect())
    )
    run(
        CentroidDriftMonitor(base, out_dir),
        file_stream(spark, in_dir),
        str(tmp_path / "ck2"),
    )
    # a fresh checkpoint re-feeds every file as new batches — use the
    # SAME checkpoint for the true replay contract instead
    run(CentroidDriftMonitor(base, out_dir), file_stream(spark, in_dir), ckpt)
    after_same_ckpt = sorted(
        map(tuple, spark.read.parquet(out_dir).collect())
    )
    # the ck2 drain re-ran the batches (idempotent dynamic partition
    # overwrite) — releases and state must be byte-identical
    assert after_same_ckpt == before
    state_after = sorted(
        map(tuple, spark.read.parquet(f"{base}/sums").collect())
    )
    assert state_after == state_before
    # every batch partition — the seed included — survived the re-run
    sums = spark.read.parquet(f"{base}/sums")
    assert {r[0] for r in sums.select("batch_id").distinct().collect()} == {
        -1, 0, 1
    }
    assert not [k for k in conf_keys if "partitionOverwriteMode" in k]


def test_centroid_monitor_release_matches_library(spark, tmp_path):
    """The streamed release rows must equal centroid_drift() computed
    directly on the same populations — the release==twin contract."""
    from kafka_overwatch_spark.pipelines.similarity import (
        centroid_drift,
        quantized_dim_sums,
    )
    from kafka_overwatch_spark.streaming.embeddings_stream import (
        CentroidDriftMonitor,
        init_centroid_index,
    )
    from kafka_overwatch_spark.streaming.state import file_stream, run

    in_dir = str(tmp_path / "in")
    base = str(tmp_path / "idx")
    out_dir = str(tmp_path / "out")
    seed_rows = [(1000 + i, [0.6, 0.8], 0) for i in range(7)]
    batch_rows = [(i, [0.8, 0.6], 1) for i in range(4)]
    init_centroid_index(spark, _embs(spark, seed_rows), base)
    _write(spark, in_dir, batch_rows)
    run(
        CentroidDriftMonitor(base, out_dir),
        file_stream(spark, in_dir),
        str(tmp_path / "ck"),
    )
    got = spark.read.parquet(out_dir).drop("batch_id").collect()[0]
    want = centroid_drift(
        quantized_dim_sums(_embs(spark, batch_rows)),
        quantized_dim_sums(_embs(spark, seed_rows)),
    ).collect()[0]
    assert got.asDict() == want.asDict()


def test_centroid_drift_empty_lifetime_is_null_not_alert(spark):
    from kafka_overwatch_spark.pipelines.similarity import (
        centroid_drift,
        quantized_dim_sums,
    )

    batch = quantized_dim_sums(_embs(spark, [(1, [1.0, 0.0], 0)]))
    empty = quantized_dim_sums(
        _embs(spark, [(2, [1.0, 0.0], 0)]).filter("vec_id < 0")
    )
    r = centroid_drift(batch, empty).collect()[0]
    assert r["cosine"] is None and r["cosine_shift"] is None
    assert r["alert"] is False
    assert r["n_batch"] == 1 and r["n_lifetime"] == 0


def test_centroid_state_compaction_invariance(spark):
    """Lifetime sums are mergeable: summing two batch partitions into
    one changes no release value."""
    from kafka_overwatch_spark.pipelines.similarity import (
        centroid_drift,
        quantized_dim_sums,
    )
    from pyspark.sql import functions as F

    a = quantized_dim_sums(_embs(spark, [(1, [0.5, 0.5], 0)]))
    b = quantized_dim_sums(_embs(spark, [(2, [0.9, -0.1], 0)]))
    merged = (
        a.unionByName(b)
        .groupBy("dim")
        .agg(
            F.sum("qsum").alias("qsum"),
            F.sum("n").cast("long").alias("n"),
        )
    )
    direct = quantized_dim_sums(
        _embs(spark, [(1, [0.5, 0.5], 0), (2, [0.9, -0.1], 0)])
    )
    probe = quantized_dim_sums(_embs(spark, [(9, [1.0, 0.0], 0)]))
    r1 = centroid_drift(probe, merged).collect()[0]
    r2 = centroid_drift(probe, direct).collect()[0]
    assert r1.asDict() == r2.asDict()


def test_centroid_drift_sign_flip_max_shift(spark):
    from kafka_overwatch_spark.pipelines.similarity import (
        centroid_drift,
        quantized_dim_sums,
    )

    pos = quantized_dim_sums(_embs(spark, [(1, [1.0, 0.0], 0)]))
    neg = quantized_dim_sums(_embs(spark, [(2, [-1.0, 0.0], 0)]))
    r = centroid_drift(pos, neg).collect()[0]
    assert r["cosine"] == -1.0 and r["cosine_shift"] == 2.0
    assert r["alert"] is True
