"""r10: the two r9 data-quality monitors driven through a REAL
readStream → foreachBatch pipeline (availableNow trigger + checkpoint
replay), not direct-callable invocation — the VERDICT r9 "what's
wrong #1" gate. Mirrors the harness shape test_events_stream.py uses
for the ε-DP release."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def _write_events(spark, path, vals, start_id):
    from tests.test_r8_operators import EVENT_COLS

    (
        spark.createDataFrame(
            [
                (start_id + i, 1, dt.datetime(2024, 1, 1, 9), "click", v)
                for i, v in enumerate(vals)
            ],
            EVENT_COLS,
        )
        .withColumn("props", F.lit(None).cast("string"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1)
        .write.mode("append")
        .parquet(path)
    )


def test_benford_monitor_through_readstream(spark, tmp_path):
    """readStream(events) → foreachBatch(BenfordMonitor): two files
    drain as two micro-batches (maxFilesPerTrigger=1); the lifetime
    rollup over the RELEASED counts equals the batch audit over the
    concatenated feed; a checkpoint replay with no new files is a
    no-op; a third file appends exactly one more batch."""
    from kafka_overwatch_spark.operators.relational import benford_audit
    from kafka_overwatch_spark.streaming.events_stream import (
        BenfordMonitor,
        benford_lifetime,
        event_stream,
    )
    from kafka_overwatch_spark.streaming.state import run

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    a = [1.23, 1.9, 14.0, 2.5, 3.1, 1.02]
    b = [9.5, 0.92, 23.0, 1.7]
    _write_events(spark, in_dir, a, 0)
    _write_events(spark, in_dir, b, 100)
    run(BenfordMonitor(out_dir), event_stream(spark, in_dir), ckpt)

    rel = spark.read.parquet(out_dir)
    assert {r["batch_id"] for r in rel.select("batch_id").distinct().collect()} == {0, 1}

    static = spark.read.parquet(in_dir)
    want = {
        r["digit"]: r for r in benford_audit(static).collect()
    }
    got = {r["digit"]: r for r in benford_lifetime(spark, out_dir).collect()}
    assert set(got) == set(want)
    for d in want:
        assert got[d]["n"] == want[d]["n"]
        assert got[d]["share"] == want[d]["share"]
        assert got[d]["excess"] == want[d]["excess"]

    # checkpoint replay with nothing new: releases byte-stable
    before = sorted(map(tuple, rel.collect()))
    run(BenfordMonitor(out_dir), event_stream(spark, in_dir), ckpt)
    after = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    assert before == after

    # one more file -> exactly one more batch, lifetime still exact
    c = [5.5, 6.01, 1.1]
    _write_events(spark, in_dir, c, 200)
    run(BenfordMonitor(out_dir), event_stream(spark, in_dir), ckpt)
    rel2 = spark.read.parquet(out_dir)
    assert rel2.select("batch_id").distinct().count() == 3
    static2 = spark.read.parquet(in_dir)
    want2 = {r["digit"]: r["n"] for r in benford_audit(static2).collect()}
    got2 = {
        r["digit"]: r["n"]
        for r in benford_lifetime(spark, out_dir).collect()
    }
    assert got2 == want2


def test_quality_drift_monitor_through_readstream(spark, tmp_path):
    """readStream(documents) → foreachBatch(QualityDriftMonitor):
    the released per-batch summaries recompose the exact lifetime
    document count and mean; the first batch's CUSUM is 0 by
    construction; checkpoint replay is a no-op."""
    from kafka_overwatch_spark.pipelines.text import quality_columns
    from kafka_overwatch_spark.streaming.documents_stream import (
        QualityDriftMonitor,
        quality_drift_from_releases,
    )
    from kafka_overwatch_spark.streaming.state import file_stream, run

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    doc_cols = "doc_id long, text string, lang string, source string, n_chars int"

    def write_docs(rows):
        spark.createDataFrame(rows, doc_cols).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    write_docs(
        [
            (1, "The quick brown fox jumps over the lazy dog.", "en", "web", 44),
            (2, "A reasonable sentence with ordinary words here.", "en", "web", 47),
        ]
    )
    write_docs(
        [
            (3, "zzzz qqqq @@@@ #### !!!! ????", "en", "web", 29),
            (4, "Another perfectly normal document body of text.", "en", "web", 47),
        ]
    )
    run(QualityDriftMonitor(out_dir), file_stream(spark, in_dir), ckpt)

    drift = quality_drift_from_releases(spark, out_dir).orderBy("batch_id")
    rows = drift.collect()
    assert [r["batch_id"] for r in rows] == [0, 1]
    assert sum(r["n_docs"] for r in rows) == 4
    # first batch IS the reference -> both CUSUM arms start at 0
    assert rows[0]["cusum_hi"] == 0.0 and rows[0]["cusum_lo"] == 0.0
    # lifetime mean recomposes exactly from the mergeable releases
    q = quality_columns()["quality_score"]
    static_mean = (
        spark.read.parquet(in_dir)
        .select(q.cast("decimal(28,6)").alias("s"))
        .agg((F.sum("s").cast("double") / F.count("*")).alias("m"))
        .collect()[0]["m"]
    )
    released_mean = sum(r["mean_score"] * r["n_docs"] for r in rows) / 4
    assert abs(released_mean - static_mean) < 1e-5

    # checkpoint replay: no new files -> byte-stable releases
    before = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    run(QualityDriftMonitor(out_dir), file_stream(spark, in_dir), ckpt)
    after = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    assert before == after
