"""Incremental running totals == full batch recompute; vanished-entity
expiry drops stale state (J5/J6)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F


def _write_scans(po, tmp, scans=range(4)):
    for scan in scans:
        po.filter(F.col("scan_id") == scan).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp}/in")


def test_incremental_totals_match_batch(spark, snaps):
    from kafka_overwatch_spark.streaming.incremental import (
        IncrementalTopicTotals,
    )
    from kafka_overwatch_spark.streaming.offsets import offset_sample_stream
    from kafka_overwatch_spark.streaming.state import drain

    with tempfile.TemporaryDirectory() as tmp:
        po = snaps["partition_offsets"]
        _write_scans(po, tmp)
        inc = IncrementalTopicTotals()
        drain(
            offset_sample_stream(spark, f"{tmp}/in").writeStream.foreachBatch(inc),
            f"{tmp}/ck",
        )
        got = {r["topic"]: r["cum_new"] for r in inc.totals.collect()}
        # telescoping: cumulative W1 deltas == end@final − end@scan0
        final = po.filter(F.col("scan_id") == 3).groupBy("topic").agg(
            F.sum("end_offset").alias("e")
        )
        base = po.filter(F.col("scan_id") == 0).groupBy("topic").agg(
            F.sum("end_offset").alias("b")
        )
        want = {
            r["topic"]: r["e"] - r["b"]
            for r in final.join(base, "topic").select(
                "topic", F.col("e"), F.col("b")
            ).collect()
        }
        assert got == want


def test_incremental_plan_depth_bounded_over_many_batches(spark, snaps):
    """20+ micro-batches must NOT deepen the state's logical plan:
    localCheckpoint severs lineage every batch, so the plan stays a flat
    scan of materialized state however long the stream runs (r1 kept the
    whole join chain — planning blowup on long streams)."""
    from kafka_overwatch_spark.streaming.incremental import (
        IncrementalTopicTotals,
    )

    po = (
        snaps["partition_offsets"]
        .filter(F.col("scan_id") == 3)
        .select("topic", "partition_id", "end_offset")
        .limit(50)
        .cache()
    )
    inc = IncrementalTopicTotals()
    plan_lens = []
    for batch_id in range(22):
        batch = po.withColumn(
            "end_offset", F.col("end_offset") + F.lit(batch_id)
        )
        inc(batch, batch_id)
        plan_lens.append(
            len(inc.totals._jdf.queryExecution().optimizedPlan().toString())
        )
    # bounded: the late-stream plan is no bigger than the early one
    assert plan_lens[-1] <= plan_lens[2] + 50, plan_lens
    # totals telescoped: every topic accumulated 21 × its partition count
    parts = {r["topic"]: r["cnt"] for r in po.groupBy("topic").agg(
        F.count("*").alias("cnt")).collect()}
    got = {r["topic"]: r["cum_new"] for r in inc.totals.collect()}
    assert got == {t: 21 * c for t, c in parts.items()}


def test_vanished_topic_expires_from_state(spark, snaps):
    import glob
    import json

    from kafka_overwatch_spark.streaming.report_stream import (
        run_usage_report_stream,
    )

    with tempfile.TemporaryDirectory() as tmp:
        po = snaps["partition_offsets"]
        victim = po.select("topic").distinct().orderBy("topic").limit(1).collect()[0][
            "topic"
        ]
        # victim topic present only at scan 0 → absent for 3 batches
        for scan in range(4):
            df = po.filter(F.col("scan_id") == scan)
            if scan > 0:
                df = df.filter(F.col("topic") != victim)
            df.coalesce(1).write.mode("append").parquet(f"{tmp}/in")
        q, reporter = run_usage_report_stream(
            spark,
            f"{tmp}/in",
            po.filter(F.col("scan_id") == 0),
            f"{tmp}/ck",
            f"{tmp}/reports",
            evaluate_every=4,
            expire_after_batches=2,
        )
        assert any(t == victim for t, _ in reporter.expired_keys)
        report = json.load(
            open(sorted(glob.glob(f"{tmp}/reports/report_batch_*.json"))[-1])
        )
        n_topics = po.select("topic").distinct().count()
        assert report["topics"] == n_topics - 1
