"""Two-tier cadence streaming: scan-interval micro-batches with
report-period gated emission (SURVEY §2.9).

The reference runs two clocks: every scan interval it refreshes state
(`processing/clusters.py:66-132`), and only when the evaluation-period
deadline passes does it render the report
(`processing/clusters.py:48-63`). Here the scan clock is the micro-batch
trigger and the report clock is a ``foreachBatch`` gate: state (the
latest snapshot per topic/partition) is upserted every batch; every
``evaluate_every`` batches the usage frame is recomputed against the
baseline and appended to the report sink.

Scale: foreachBatch sees only the new scan's rows (Δ per batch =
partition count, not history); the latest-state table is overwritten
per key — at 100 TB this is a Delta MERGE on (cluster, topic,
partition_id), here an in-memory dict of tiny DataFrames.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class StreamingUsageReporter:
    """foreachBatch handler holding the baseline + latest state and
    emitting a usage report every `evaluate_every` batches."""

    def __init__(
        self,
        baseline: DataFrame,
        output_dir: str,
        evaluate_every: int = 2,
        expire_after_batches: int | None = None,
    ) -> None:
        """``expire_after_batches``: J5/J6 reconciliation — a (topic,
        partition) absent from the feed for that many batches is dropped
        from state (the reference deletes vanished topics/CGs from its
        caches, `kafka_resources/topics.py:64-72`, `groups.py:55-71`)."""
        self.baseline = (
            baseline.select(
                "topic",
                "partition_id",
                F.col("end_offset").alias("baseline_end"),
                F.col("start_offset").alias("baseline_start"),
            ).cache()
        )
        self.output_dir = output_dir
        self.evaluate_every = evaluate_every
        self.expire_after_batches = expire_after_batches
        self.latest: DataFrame | None = None
        self.reports_emitted = 0
        self.expired_keys: list[tuple[str, int]] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # upsert latest state per (topic, partition): new batch rows win;
        # track last-seen batch per key for expiry
        incoming = batch_df.select(
            "topic", "partition_id", "scan_id", "start_offset", "end_offset"
        ).withColumn("last_seen_batch", F.lit(batch_id))
        if self.latest is None:
            self.latest = incoming.cache()
        else:
            prev = self.latest
            merged = (
                prev.join(
                    incoming.select("topic", "partition_id").withColumn(
                        "_new", F.lit(1)
                    ),
                    ["topic", "partition_id"],
                    "left",
                )
                .filter(F.col("_new").isNull())
                .drop("_new")
                .unionByName(incoming)
            )
            if self.expire_after_batches is not None:
                cutoff = batch_id - self.expire_after_batches
                expired = merged.filter(F.col("last_seen_batch") <= cutoff)
                self.expired_keys.extend(
                    (r["topic"], r["partition_id"])
                    for r in expired.select("topic", "partition_id").collect()
                )
                merged = merged.filter(F.col("last_seen_batch") > cutoff)
            # localCheckpoint: materialize AND sever lineage — the upsert
            # chain would otherwise deepen the plan every batch (same fix
            # as IncrementalTopicTotals)
            self.latest = merged.localCheckpoint(eager=True)
            prev.unpersist()

        if (batch_id + 1) % self.evaluate_every != 0:
            return

        usage = (
            self.latest.join(self.baseline, ["topic", "partition_id"], "left")
            .groupBy("topic")
            .agg(
                F.count("*").alias("partitions"),
                F.sum(
                    F.col("end_offset") - F.col("start_offset")
                ).alias("total_messages"),
                F.sum(
                    F.col("end_offset")
                    - F.coalesce("baseline_end", F.col("end_offset"))
                ).alias("new_messages"),
            )
        )
        stats = usage.agg(
            F.count("*").alias("topics"),
            F.coalesce(F.sum("partitions"), F.lit(0)).alias("partitions"),
            F.coalesce(F.sum("new_messages"), F.lit(0)).alias("new_messages"),
        ).collect()[0]
        os.makedirs(self.output_dir, exist_ok=True)
        path = os.path.join(self.output_dir, f"report_batch_{batch_id}.json")
        with open(path, "w") as fh:
            json.dump(
                {
                    "batch_id": batch_id,
                    "topics": stats["topics"],
                    "partitions": stats["partitions"],
                    "new_messages_since_baseline": stats["new_messages"],
                },
                fh,
                indent=2,
            )
        self.reports_emitted += 1
