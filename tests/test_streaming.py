"""Streaming parity: the stateful W1 deltas and baseline-join W2 computed
over a replayed offset-sample stream must equal the batch window queries."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F


def _replay_dir(spark, snaps, tmp):
    """Write one parquet file per scan (the stream replays scan by scan)."""
    po = snaps["partition_offsets"]
    for scan in range(4):
        po.filter(F.col("scan_id") == scan).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/in/scan={scan}")
    # flatten: move files into one dir via a second read/write
    spark.read.parquet(f"{tmp}/in/scan=*").createOrReplaceTempView("_all")
    return f"{tmp}/in"


def test_stateful_w1_deltas_match_batch(spark, snaps):
    from kafka_overwatch_spark.operators.windows import offset_delta_per_scan
    from kafka_overwatch_spark.streaming import offsets as so

    with tempfile.TemporaryDirectory() as tmp:
        po = snaps["partition_offsets"]
        for scan in range(4):
            po.filter(F.col("scan_id") == scan).coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp}/in")
        stream = so.offset_sample_stream(spark, f"{tmp}/in")
        out = so.run_to_completion(
            so.per_interval_deltas(stream), f"{tmp}/ckpt1"
        )
        got = {
            (r["topic"], r["partition_id"], r["scan_id"]): r["delta_messages"]
            for r in out
        }
        batch = {
            (r["topic"], r["partition_id"], r["scan_id"]): r["delta_messages"]
            for r in offset_delta_per_scan(snaps).collect()
        }
        assert len(got) == len(batch)
        # NB: file order isn't guaranteed == scan order; the stateful op
        # sorts within batches but state evolves in arrival order. With
        # one file per trigger and scans written in order the common case
        # holds; tolerate full-map equality only.
        assert got == batch


def test_stateful_w3_first_offset_matches_batch(spark, snaps):
    """Streaming W3 (persistent first-offset state) converges to the batch
    w3_first_offset_evolution drift per partition."""
    from kafka_overwatch_spark.operators.windows import first_offset_evolution
    from kafka_overwatch_spark.streaming import offsets as so

    with tempfile.TemporaryDirectory() as tmp:
        po = snaps["partition_offsets"]
        for scan in range(4):
            po.filter(F.col("scan_id") == scan).coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp}/in")
        stream = so.offset_sample_stream(spark, f"{tmp}/in")
        out = so.run_to_completion(
            so.first_offset_evolution_stream(stream), f"{tmp}/ckpt3"
        )
        # final drift per partition = max over scans
        drift: dict = {}
        for r in out:
            k = (r["topic"], r["partition_id"])
            drift[k] = max(drift.get(k, 0), r["retention_drift"])
        got = {k: v for k, v in drift.items() if v > 0}
        batch = {
            (r["topic"], r["partition_id"]): r["retention_drift"]
            for r in first_offset_evolution(snaps).collect()
        }
        assert got == batch


def test_state_timeout_expires_vanished_partition(spark, snaps):
    """GroupStateTimeout-based J5/J6: a partition absent from later scans
    times out once the watermark (driven by the surviving keys' newer
    samples) passes its last event time; its state is removed and an
    expired tombstone is emitted. Event-time timeout → deterministic."""
    import glob
    import os
    import time

    from kafka_overwatch_spark.streaming import offsets as so

    with tempfile.TemporaryDirectory() as tmp:
        po = snaps["partition_offsets"]
        victim = (
            po.select("topic").distinct().orderBy("topic").limit(1).collect()
        )[0]["topic"]
        # FileStreamSource orders by mtime — pin strictly increasing
        # mtimes per scan so replay order == scan order
        seen: set = set()
        t0 = time.time() - 100
        for scan in range(4):
            df = po.filter(F.col("scan_id") == scan)
            if scan > 0:
                df = df.filter(F.col("topic") != victim)
            df.coalesce(1).write.mode("append").parquet(f"{tmp}/in")
            for f in glob.glob(f"{tmp}/in/*.parquet"):
                if f not in seen:
                    os.utime(f, (t0 + scan, t0 + scan))
                    seen.add(f)
        stream = so.offset_sample_stream(spark, f"{tmp}/in")
        out = so.run_to_completion(
            so.vanished_entity_stream(stream), f"{tmp}/ckpt4"
        )
        expired = {
            (r["topic"], r["partition_id"]): r["last_scan_id"]
            for r in out
            if r["expired"]
        }
        # the victim times out having last been seen at scan 0 — its state
        # was removed while the feed was still flowing
        victim_scans = [s for (t, _), s in expired.items() if t == victim]
        assert victim_scans and all(s == 0 for s in victim_scans)
        # continuously-present keys re-arm their deadline every scan and
        # the watermark never passes their last sample — no tombstone
        survivors = {t for (t, _) in expired} - {victim}
        assert not survivors
        # liveness rows still flowed for non-victims through the last scan
        live_last = {
            r["topic"]
            for r in out
            if not r["expired"] and r["last_scan_id"] == 3
        }
        assert live_last - {victim}


def test_two_tier_cadence_on_live_rate_source(spark):
    """Two-tier cadence against a LIVE source: processing-time trigger
    drives micro-batches (scan clock); the foreachBatch gate emits a
    report every 2nd batch (evaluation clock)."""
    import time

    class Gate:
        def __init__(self, every: int) -> None:
            self.every = every
            self.batches = 0
            self.reports = 0

        def __call__(self, batch_df, batch_id: int) -> None:
            self.batches += 1
            batch_df.count()
            if (batch_id + 1) % self.every == 0:
                self.reports += 1

    gate = Gate(every=2)
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 50)
        .load()
        .selectExpr(
            "concat('t', CAST(value % 3 AS STRING)) AS topic",
            "CAST(value % 4 AS LONG) AS partition_id",
            "value AS end_offset",
            "timestamp AS ts",
        )
    )
    q = (
        stream.writeStream.foreachBatch(gate)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and gate.reports < 2:
            time.sleep(0.5)
    finally:
        q.stop()
    assert gate.batches >= 4
    assert 1 <= gate.reports < gate.batches


def test_baseline_join_w2_matches_batch(spark, snaps):
    from kafka_overwatch_spark.operators.windows import (
        new_messages_since_baseline,
    )
    from kafka_overwatch_spark.streaming import offsets as so

    with tempfile.TemporaryDirectory() as tmp:
        po = snaps["partition_offsets"]
        for scan in range(4):
            po.filter(F.col("scan_id") == scan).coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp}/in")
        baseline = po.filter(F.col("scan_id") == 0)
        stream = so.offset_sample_stream(spark, f"{tmp}/in")
        out = so.run_to_completion(
            so.new_messages_vs_baseline(stream, baseline), f"{tmp}/ckpt2"
        )
        got = {
            (r["topic"], r["partition_id"], r["scan_id"]): r["new_messages"]
            for r in out
        }
        batch = {
            (r["topic"], r["partition_id"], r["scan_id"]): r["new_messages"]
            for r in new_messages_since_baseline(snaps).collect()
        }
        assert got == batch


def test_stateful_checkpoint_recovery_across_restart(spark, snaps):
    """Kill the W1 stream after two scans, restart from the SAME
    checkpoint with two more scans: recovered state must carry each
    partition's last end_offset across the restart, so the first
    post-restart delta is computed against pre-restart state instead of
    re-zeroing — the recovery guarantee a long-running collector relies
    on."""
    import glob
    import os
    import time

    from kafka_overwatch_spark.streaming import offsets as so
    from kafka_overwatch_spark.streaming.state import drain

    with tempfile.TemporaryDirectory() as tmp:
        po = snaps["partition_offsets"]
        seen: set = set()
        t0 = time.time() - 100

        def write_scan(scan: int) -> None:
            po.filter(F.col("scan_id") == scan).coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp}/in")
            for f in glob.glob(f"{tmp}/in/*.parquet"):
                if f not in seen:
                    os.utime(f, (t0 + scan, t0 + scan))
                    seen.add(f)

        ckpt = f"{tmp}/ckpt_recover"
        sink = f"{tmp}/out"

        def run_once() -> None:
            # parquet file sink: the recoverable sink (memory sink cannot
            # resume from a checkpoint)
            stream = so.offset_sample_stream(spark, f"{tmp}/in")
            drain(
                so.per_interval_deltas(stream)
                .writeStream.format("parquet")
                .option("path", sink)
                .outputMode("append"),
                ckpt,
            )

        write_scan(0)
        write_scan(1)
        run_once()
        # restart: new source files, SAME checkpoint → state recovered
        write_scan(2)
        write_scan(3)
        run_once()
        got = {
            (r["topic"], r["partition_id"], r["scan_id"]): r["delta_messages"]
            for r in spark.read.parquet(sink).collect()
        }
        # batch truth over all four scans
        want = {}
        rows = po.select(
            "topic", "partition_id", "scan_id", "end_offset"
        ).collect()
        last: dict = {}
        for r in sorted(rows, key=lambda r: (r["topic"], r["partition_id"], r["scan_id"])):
            k = (r["topic"], r["partition_id"])
            prev = last.get(k)
            want[(k[0], k[1], r["scan_id"])] = (
                0 if prev is None else r["end_offset"] - prev
            )
            last[k] = r["end_offset"]
        assert got == want
        # the restart boundary specifically: scan-2 deltas must NOT all be
        # re-zeroed (state was recovered, not reinitialized)
        scan2 = [v for (t, p, s), v in got.items() if s == 2]
        assert any(v != 0 for v in scan2)


def test_stateful_query_under_rocksdb_state_store(spark, snaps):
    """The scale-path state store: RocksDB keeps streaming state off the
    executor heap (the default HDFS-backed provider holds every key in
    JVM memory — a cluster-killer at millions of (topic, partition)
    keys). The W1 stateful op must produce identical results under the
    RocksDB provider, configured per-query via the checkpoint's
    SQLConf."""
    from kafka_overwatch_spark.streaming import offsets as so

    provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try:
        with tempfile.TemporaryDirectory() as tmp:
            po = snaps["partition_offsets"]
            for scan in range(4):
                po.filter(F.col("scan_id") == scan).coalesce(1).write.mode(
                    "append"
                ).parquet(f"{tmp}/in")
            stream = so.offset_sample_stream(spark, f"{tmp}/in")
            out = so.run_to_completion(
                so.per_interval_deltas(stream), f"{tmp}/ckpt_rocks"
            )
            from kafka_overwatch_spark.operators.windows import (
                offset_delta_per_scan,
            )

            got = {
                (r["topic"], r["partition_id"], r["scan_id"]): r[
                    "delta_messages"
                ]
                for r in out
            }
            batch = {
                (r["topic"], r["partition_id"], r["scan_id"]): r[
                    "delta_messages"
                ]
                for r in offset_delta_per_scan(snaps).collect()
            }
            assert got == batch
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )


def test_streaming_lag_matches_batch_lag_per_partition(spark, snaps):
    """The streaming lag pipeline (stateful watermark + committed-offset
    caches per (cluster, topic), P11 break rule included) must converge
    to the batch `lag_per_partition` on a replayed multi-batch feed:
    watermarks arrive scan by scan, committed offsets arrive LAST and in
    two separate batches (split by group hash) — exercising the
    carry-forward of both caches and the partial-knowledge re-emissions."""
    import glob
    import os
    import time

    from kafka_overwatch_spark.operators.lag import lag_per_partition
    from kafka_overwatch_spark.streaming import offsets as so

    with tempfile.TemporaryDirectory() as tmp:
        po = snaps["partition_offsets"]
        ts0 = F.lit("2024-01-01 00:00:00").cast("timestamp")
        wm = po.select(
            "cluster", "topic", "partition_id", "scan_id",
            "start_offset", "end_offset",
            F.lit(None).cast("string").alias("group_id"),
            F.lit(None).cast("long").alias("committed_offset"),
            "ts",
        )
        go = snaps["group_offsets"].select(
            "cluster", "topic", "partition_id",
            F.lit(None).cast("long").alias("scan_id"),
            F.lit(None).cast("long").alias("start_offset"),
            F.lit(None).cast("long").alias("end_offset"),
            "group_id", "committed_offset",
            ts0.alias("ts"),
        )
        feeds = [wm.filter(F.col("scan_id") == s) for s in range(4)] + [
            go.filter(F.abs(F.hash("group_id")) % 2 == 0),
            go.filter(F.abs(F.hash("group_id")) % 2 == 1),
        ]
        # FileStreamSource orders by mtime — pin strictly increasing
        # mtimes so replay order == write order (same trick as the
        # vanished-partition test)
        seen: set = set()
        t0 = time.time() - 100
        for i, feed in enumerate(feeds):
            feed.coalesce(1).write.mode("append").parquet(f"{tmp}/in")
            for f in glob.glob(f"{tmp}/in/*.parquet"):
                if f not in seen:
                    os.utime(f, (t0 + i, t0 + i))
                    seen.add(f)
        out = so.run_to_completion(
            so.streaming_lag(so.lag_sample_stream(spark, f"{tmp}/in")),
            f"{tmp}/ckpt_lag",
        )
        # a (group, partition) can be re-emitted by a later batch of the
        # same topic as more commits arrive — always with the SAME lag
        # (caches only grew); distinct over the final-scan snapshot is
        # therefore exactly the converged picture
        got = {
            (r["cluster"], r["group_id"], r["topic"], r["partition_id"], r["lag"])
            for r in out
            if r["as_of_scan"] == 3
        }
        want = {
            (r["cluster"], r["group_id"], r["topic"], r["partition_id"], r["lag"])
            for r in lag_per_partition(snaps).collect()
        }
        assert got == want
        assert len(got) > 0


def test_rate_limited_file_source_cadence(spark, snaps):
    """Backfill under ingestion rate limiting: maxFilesPerTrigger=1 over
    a multi-file input must replay the backlog as one micro-batch per
    file (bounded per-batch work — the knob that keeps a catch-up replay
    from materializing the whole backlog in one batch), and the
    concatenation of batches must equal the full input."""
    from kafka_overwatch_spark.streaming import offsets as so
    from kafka_overwatch_spark.streaming.state import drain

    with tempfile.TemporaryDirectory() as tmp:
        po = snaps["partition_offsets"]
        n_files = 3
        for scan in range(n_files):
            po.filter(F.col("scan_id") == scan).coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp}/in")

        seen: list[tuple[int, int]] = []

        def observe(batch_df, batch_id: int) -> None:
            seen.append((batch_id, batch_df.count()))

        stream = so.offset_sample_stream(spark, f"{tmp}/in")
        drain(
            spark.readStream.schema(stream.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in")
            .writeStream.foreachBatch(observe),
            f"{tmp}/ckpt_rate",
        )
        total = po.filter(F.col("scan_id") < n_files).count()
        assert len(seen) == n_files, seen
        assert all(n > 0 for _, n in seen)
        assert sum(n for _, n in seen) == total
