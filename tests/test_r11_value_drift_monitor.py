"""r11: streaming per-type value-distribution KS-drift monitor —
readStream → foreachBatch with availableNow + checkpoint replay,
alert semantics on a distribution shift, release == batch-twin
equality (arithmetic gated by the events_ks_drift oracle)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

EVENT_COLS = (
    "event_id long, user_id long, ts timestamp, event_type string, "
    "value double"
)


def _events(spark, rows, start_id=0):
    return spark.createDataFrame(
        [
            (start_id + i, 1, dt.datetime(2024, 1, 1, 9), t, v)
            for i, (t, v) in enumerate(rows)
        ],
        EVENT_COLS,
    ).withColumn("props", F.lit(None).cast("string")).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def _write(spark, path, rows, start_id):
    _events(spark, rows, start_id).coalesce(1).write.mode(
        "append"
    ).parquet(path)


BASE_VALS = [float(v) for v in (1, 2, 3, 4, 5) * 8]  # 40 baseline rows


def test_value_drift_monitor_readstream(spark, tmp_path):
    from kafka_overwatch_spark.streaming.events_stream import (
        ValueDriftMonitor,
        event_stream,
        init_ks_index,
    )
    from kafka_overwatch_spark.streaming.state import run

    in_dir = str(tmp_path / "in")
    base = str(tmp_path / "idx")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    seed = _events(
        spark, [("click", v) for v in BASE_VALS], start_id=10_000
    )
    init_ks_index(spark, seed, base)

    # batch 0: same distribution — small D, no alert; batch 1: every
    # value shifted far right — D = 1, scaled well past 1.358
    _write(spark, in_dir, [("click", v) for v in BASE_VALS], 0)
    _write(
        spark, in_dir, [("click", 100.0 + v) for v in BASE_VALS], 1000
    )
    run(ValueDriftMonitor(base, out_dir), event_stream(spark, in_dir), ckpt)

    rel = {
        r["batch_id"]: r for r in spark.read.parquet(out_dir).collect()
    }
    assert set(rel) == {0, 1}
    assert rel[0]["d_stat"] == 0.0 and not rel[0]["alert"]
    assert rel[1]["d_stat"] == 1.0 and rel[1]["alert"]
    # batch 1's lifetime includes batch 0's merged counts
    assert rel[1]["n_lifetime"] == rel[0]["n_lifetime"] + rel[0]["n_batch"]

    # replay with nothing new: byte-stable releases AND index
    before = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    idx_before = sorted(
        map(tuple, spark.read.parquet(f"{base}/counts").collect())
    )
    run(ValueDriftMonitor(base, out_dir), event_stream(spark, in_dir), ckpt)
    assert before == sorted(
        map(tuple, spark.read.parquet(out_dir).collect())
    )
    assert idx_before == sorted(
        map(tuple, spark.read.parquet(f"{base}/counts").collect())
    )


def test_value_drift_release_equals_batch_twin(spark, tmp_path):
    from kafka_overwatch_spark.operators.relational import (
        ks_drift_counts,
    )
    from kafka_overwatch_spark.streaming.events_stream import (
        ValueDriftMonitor,
        event_stream,
        init_ks_index,
    )
    from kafka_overwatch_spark.streaming.state import run

    in_dir = str(tmp_path / "in")
    base = str(tmp_path / "idx")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    seed_rows = [("click", v) for v in BASE_VALS] + [
        ("view", v * 2) for v in BASE_VALS
    ]
    batch_rows = [("click", v + 0.5) for v in BASE_VALS[:20]] + [
        ("view", v) for v in BASE_VALS[:10]
    ]
    seed = _events(spark, seed_rows, start_id=10_000)
    init_ks_index(spark, seed, base)
    _write(spark, in_dir, batch_rows, 0)
    run(ValueDriftMonitor(base, out_dir), event_stream(spark, in_dir), ckpt)

    counts = lambda df: (  # noqa: E731
        df.filter(F.col("value").isNotNull())
        .groupBy("event_type", "value")
        .agg(F.count("*").alias("cnt"))
    )
    want = sorted(
        map(
            tuple,
            ks_drift_counts(
                counts(_events(spark, batch_rows, 0)), counts(seed)
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out_dir).drop("batch_id").collect(),
        )
    )
    assert got == want and len(got) == 2
