"""Streaming CDC dimension maintenance: the streamed generational upsert
must equal the batch fold of the same change feed, survive replay
unchanged, and always serve a committed generation."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_overwatch_spark.operators.relational import scd1_upsert
from kafka_overwatch_spark.streaming.state import file_stream, run
from kafka_overwatch_spark.streaming.upsert import Scd1DimensionMaintainer

KEYS = ["cluster", "name"]


def _change_feed(spark):
    """Deterministic change feed over the topics dim: four batches, each
    touching overlapping keys with a monotonically increasing seq (the
    change-feed offset); later seq wins."""
    base = (
        spark.table("events")
        .select(
            F.lit("primary").alias("cluster"),
            F.concat(F.lit("t."), (F.col("event_id") % 40).cast("string"))
            .alias("name"),
            (F.col("event_id") % 7 + 1).cast("long").alias("partitions"),
            (F.col("event_id")).cast("long").alias("seq"),
        )
        .filter(F.col("event_id") < 200)
    )
    return base


def test_streamed_upsert_equals_batch_fold(spark, snaps):
    feed = _change_feed(spark)
    n = feed.count()
    per = (n + 3) // 4
    w = Window.orderBy("seq")
    sliced = feed.withColumn("rn", F.row_number().over(w) - 1)
    batches = [
        sliced.filter(
            (F.col("rn") >= i * per) & (F.col("rn") < (i + 1) * per)
        ).drop("rn")
        for i in range(4)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        for i, b in enumerate(batches):
            b.coalesce(1).write.mode("append").parquet(f"{tmp}/in")
        run(
            Scd1DimensionMaintainer(f"{tmp}/state", KEYS, "seq"),
            file_stream(
                spark,
                f"{tmp}/in",
                "cluster string, name string, partitions long, seq long",
            ),
            f"{tmp}/ck",
        )
        m = Scd1DimensionMaintainer(f"{tmp}/state", KEYS, "seq")
        got = {
            (r.cluster, r.name): (r.partitions, r.seq)
            for r in m.read_current(spark).collect()
        }
        # batch fold: latest seq per key over the WHOLE feed
        want = {
            (r.cluster, r.name): (r.partitions, r.seq)
            for r in m.latest_per_key(feed).collect()
        }
        assert got == want
        # replay the last batch → unchanged (idempotent MERGE)
        last_gen = m.current_generation(spark)
        m(batches[-1], batch_id=99)
        again = {
            (r.cluster, r.name): (r.partitions, r.seq)
            for r in m.read_current(spark).collect()
        }
        assert again == got
        assert m.current_generation(spark) != last_gen  # new commit


def test_maintainer_matches_sequential_scd1(spark, snaps):
    """Driving the maintainer by hand must equal sequentially composing
    scd1_upsert — the streaming wrapper adds durability, not semantics."""
    feed = _change_feed(spark)
    b1 = feed.filter(F.col("seq") < 100)
    b2 = feed.filter(F.col("seq") >= 100)
    with tempfile.TemporaryDirectory() as tmp:
        m = Scd1DimensionMaintainer(f"{tmp}/state", KEYS, "seq")
        m(b1, 0)
        m(b2, 1)
        got = {
            tuple(r)
            for r in m.read_current(spark).collect()
        }
        want = {
            tuple(r)
            for r in scd1_upsert(
                m.latest_per_key(b1), m.latest_per_key(b2), KEYS
            ).collect()
        }
        assert got == want


def test_streaming_cms_equals_full_batch_sketch(spark, snaps):
    """Per-batch CMS sketches merged across micro-batches must answer
    point queries IDENTICALLY to one sketch over all the data (CMS merge
    is exact table addition at equal params/seed)."""
    import tempfile

    from pyspark.sql import functions as F

    from kafka_overwatch_spark.streaming.upsert import (
        HeavyHitterSketchMaintainer,
    )

    events = spark.table("events")
    with tempfile.TemporaryDirectory() as tmp:
        m = HeavyHitterSketchMaintainer(f"{tmp}/state")
        for i in range(4):
            m(events.filter(F.col("event_id") % 4 == i), batch_id=i)
        users = [
            r.user_id
            for r in events.select("user_id").distinct().limit(40).collect()
        ]
        streamed = m.estimate(spark, users)

        jvm = spark._jvm
        full_bytes = events.agg(
            F.expr(
                f"count_min_sketch(user_id, {m.EPS}d, {m.CONF}d, {m.SEED})"
            ).alias("sk")
        ).collect()[0].sk
        full = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            bytes(full_bytes)
        )
        exact = {
            r.user_id: r.cnt
            for r in events.groupBy("user_id")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        for u in users:
            want = full.estimateCount(jvm.java.lang.Long(int(u)))
            assert streamed[u] == want, (u, streamed[u], want)
            assert streamed[u] >= exact[u]  # one-sided, preserved by merge


def test_streaming_cms_replay_after_commit_is_noop(spark, snaps):
    """Crash window (b): the batch committed (pointer flipped) but the
    streaming checkpoint missed it — the replayed __call__ must NOT
    re-merge (CMS adds; estimates would inflate)."""
    import tempfile

    from pyspark.sql import functions as F

    from kafka_overwatch_spark.streaming.upsert import (
        HeavyHitterSketchMaintainer,
    )

    events = spark.table("events")
    with tempfile.TemporaryDirectory() as tmp:
        m = HeavyHitterSketchMaintainer(f"{tmp}/state")
        m(events, batch_id=0)
        users = [
            r.user_id
            for r in events.select("user_id").distinct().limit(10).collect()
        ]
        before = m.estimate(spark, users)
        m(events, batch_id=0)  # replay of an already-committed batch
        assert m.estimate(spark, users) == before
        # a genuinely NEW batch still merges
        m(events, batch_id=1)
        after = m.estimate(spark, users)
        assert all(after[u] >= 2 * before[u] for u in users if before[u] > 0)
