"""Chained streaming pipeline (medallion shape): bronze (raw feed) →
silver (deduplicated, state-bounded) → gold (session aggregates), each
hop its own Structured Streaming query with its own checkpoint, chained
through parquet directories.

Why chained queries and not one DAG: Structured Streaming forbids two
stateful operators with different event-time semantics in one query
(dedup state + session merge state), and independent checkpoints are
what let each tier recover/replay alone — the same reason warehouse
medallion tiers are separate tables, not views. The silver directory is
simultaneously a queryable table and the gold tier's source; every
write is append-mode parquet, so replay after a crash re-emits only
un-committed batches (file-sink exactly-once via the sink log).

At 100 TB each hop scales independently: bronze→silver is a narrow
keyed dedup (state O(horizon)), silver→gold a session merge keyed by
user — the same aggregates proven batch-equal in
relational.events_session_window_native. Composition (stream of
streams, end-to-end == batch-of-batch) is asserted in
tests/test_streaming_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .events_stream import (
    EVENT_SCHEMA,
    event_stream,
    streaming_dedup_within_watermark,
    streaming_session_windows,
)
from .state import drain


def run_medallion(
    spark: SparkSession,
    input_dir: str,
    base: str,
    dedup_watermark: str = "2 days",
    session_gap: str = "12 hours",
    session_watermark: str = "1 day",
) -> dict[str, str]:
    """Drain the full bronze→silver→gold chain with availableNow.
    Returns the tier directories. Idempotent: re-running with the same
    checkpoints re-processes nothing (file-sink commit log)."""
    silver_dir = f"{base}/silver"
    gold_dir = f"{base}/gold"

    bronze = event_stream(spark, input_dir)
    drain(
        streaming_dedup_within_watermark(bronze, watermark=dedup_watermark)
        .writeStream.format("parquet")
        .option("path", silver_dir),
        f"{base}/ck_silver",
    )

    silver_stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(silver_dir)
    )
    drain(
        streaming_session_windows(
            silver_stream, gap=session_gap, watermark=session_watermark
        )
        .writeStream.format("parquet")
        .option("path", gold_dir),
        f"{base}/ck_gold",
    )
    return {"silver": silver_dir, "gold": gold_dir}
