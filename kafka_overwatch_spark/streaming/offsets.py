"""Structured Streaming parity for the reference's scan loop (SURVEY §2.9).

The reference *is* a hand-rolled micro-batch engine: every
``cluster_scan_interval_in_seconds`` (default 60, `specs/config.py:458`;
wait loop `processing/__init__.py:10-20`) it collects offset watermarks,
updates per-partition baselines (`overwatch_resources/topics.py:32-45,
77-87`), and every ``evaluation_period_in_seconds`` (default 60,
`specs/config.py:287`) emits the usage report.

Spark mapping implemented here:

- scan loop            → ``readStream`` over the offset-sample feed with
                         ``trigger(processingTime=...)`` (tests use
                         ``availableNow`` for determinism)
- baseline semantics   → W2 "new messages since service start" via a
                         static baseline join (the cheaper design — the
                         baseline is the first scan snapshot, exactly the
                         reference's `_init_end_offset`), and W1
                         per-interval deltas via ``applyInPandasWithState``
                         (arbitrary stateful op, state = last end_offset
                         per (topic, partition))
- report cadence       → ``foreachBatch`` gating (emit every Nth batch)
- vanished topics (J5) → state timeout / absence in the latest batch

Scale: the stream is keyed by (topic, partition_id) — state scales with
partition count, not event volume; watermarking is unnecessary because
samples are collector-generated monotonically (event-time ≡ processing
time, `SURVEY §2.9`), matching the reference.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .state import file_stream

OFFSET_SCHEMA = StructType(
    [
        StructField("cluster", StringType()),
        StructField("topic", StringType()),
        StructField("partition_id", LongType()),
        StructField("scan_id", LongType()),
        StructField("start_offset", LongType()),
        StructField("end_offset", LongType()),
        StructField("ts", TimestampType()),
    ]
)

DELTA_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("partition_id", LongType()),
        StructField("scan_id", LongType()),
        StructField("end_offset", LongType()),
        StructField("delta_messages", LongType()),
    ]
)


def offset_sample_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """The offset-watermark feed as a stream (one parquet file per scan in
    tests; a Kafka metadata collector topic in production)."""
    return file_stream(spark, input_dir, OFFSET_SCHEMA)


def new_messages_vs_baseline(
    stream: DataFrame, baseline: DataFrame
) -> DataFrame:
    """W2 streaming form: stream joined to the static scan-0 baseline
    (stream-static join — no state needed, exactly the reference's
    `_init_end_offset` semantics, `topics.py:108-115`)."""
    base = baseline.select(
        "topic",
        "partition_id",
        F.col("end_offset").alias("baseline_end"),
    )
    return stream.join(base, ["topic", "partition_id"], "left").select(
        "topic",
        "partition_id",
        "scan_id",
        "ts",
        (
            F.col("end_offset") - F.coalesce("baseline_end", F.col("end_offset"))
        ).alias("new_messages"),
    )


def _delta_fn(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful W1: delta vs previous scan's end_offset. State is one
    (last_end,) tuple per (topic, partition_id) — the streaming analog of
    the end_offset-setter observation at `topics.py:93-100`.

    The fold is a vectorized ``diff()`` — the first row's delta seeds
    from persisted state (0 when no state exists: the reference emits no
    delta for the very first scan) — never a per-row Python loop: a hot
    partition's group can carry thousands of scans per micro-batch and
    the Arrow batch is already columnar."""
    topic, partition_id = key
    last_end = state.get[0] if state.exists else None
    # concat BEFORE sorting: a group bigger than one Arrow batch arrives
    # as multiple chunks with no cross-chunk ordering — per-chunk sorts
    # would fold scans out of order and corrupt the persisted baseline
    pdf = pd.concat(list(pdf_iter)).sort_values("scan_id")
    end = pdf["end_offset"].astype("int64")
    delta = end.diff()
    delta.iloc[0] = 0 if last_end is None else end.iloc[0] - last_end
    state.update((int(end.iloc[-1]),))
    yield pd.DataFrame(
        {
            "topic": topic,
            "partition_id": int(partition_id),
            "scan_id": pdf["scan_id"].astype("int64").to_numpy(),
            "end_offset": end.to_numpy(),
            "delta_messages": delta.astype("int64").to_numpy(),
        }
    )


def per_interval_deltas(stream: DataFrame) -> DataFrame:
    """W1 streaming form via applyInPandasWithState (custom stateful op)."""
    return (
        stream.groupBy("topic", "partition_id")
        .applyInPandasWithState(
            _delta_fn,
            outputStructType=DELTA_SCHEMA,
            stateStructType=StructType([StructField("last_end", LongType())]),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


W3_STREAM_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("partition_id", LongType()),
        StructField("scan_id", LongType()),
        StructField("start_offset", LongType()),
        StructField("first_offset", LongType()),
        StructField("retention_drift", LongType()),
    ]
)


def _first_offset_fn(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful W3: the per-partition first-offset baseline persists across
    batches (`topics.py:77-87`: the broker low watermark moves under
    retention; drift = current_start − first_seen_start).

    Vectorized: the baseline is a CONSTANT within the group once latched
    (state, else the first sorted row), so drift is one columnar
    subtraction — no per-row loop."""
    topic, partition_id = key
    first = state.get[0] if state.exists else None
    # concat before sorting — same cross-chunk ordering hazard as
    # _delta_fn: the baseline must latch from the globally-first scan
    pdf = pd.concat(list(pdf_iter)).sort_values("scan_id")
    start = pdf["start_offset"].astype("int64")
    if first is None:
        first = int(start.iloc[0])
    state.update((first,))
    yield pd.DataFrame(
        {
            "topic": topic,
            "partition_id": int(partition_id),
            "scan_id": pdf["scan_id"].astype("int64").to_numpy(),
            "start_offset": start.to_numpy(),
            "first_offset": first,
            "retention_drift": (start - first).to_numpy(),
        }
    )


def first_offset_evolution_stream(stream: DataFrame) -> DataFrame:
    """W3 streaming form: applyInPandasWithState with the first-seen
    start offset as persistent per-partition state."""
    return stream.groupBy("topic", "partition_id").applyInPandasWithState(
        _first_offset_fn,
        outputStructType=W3_STREAM_SCHEMA,
        stateStructType=StructType([StructField("first_start", LongType())]),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


LIVENESS_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("partition_id", LongType()),
        StructField("last_scan_id", LongType()),
        StructField("expired", BooleanType()),
    ]
)

# event-time silence (ms) after a key's last sample before it is declared
# vanished; override via vanished_entity_stream(gap_ms=...)
DEFAULT_LIVENESS_GAP_MS = 1


def _make_liveness_fn(gap_ms: int):
    def _liveness_fn(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """J5/J6 via state timeout: a (topic, partition) that stops
        appearing in the feed times out once the watermark passes its last
        sample's event time + gap, and is REMOVED from state with an
        `expired` tombstone — the streaming analog of the reference
        deleting vanished topics/CGs from its caches
        (`kafka_resources/topics.py:64-72`, `groups.py:55-71`).

        Event-time (not processing-time) timeout: the collector feed
        carries the scan timestamp, so "vanished" is judged against the
        feed's own clock — deterministic under replay and indifferent to
        micro-batch scheduling."""
        topic, partition_id = key
        cols = [f.name for f in LIVENESS_SCHEMA.fields]
        if state.hasTimedOut:
            last = state.get[0] if state.exists else None
            state.remove()
            yield pd.DataFrame(
                [(topic, int(partition_id), last, True)], columns=cols
            )
            return
        last_scan, last_ts_ms = (
            (state.get[0], state.get[1]) if state.exists else (None, None)
        )
        # accumulate maxima across chunks AND prior state — chunk order
        # is unspecified and a late-but-in-watermark sample must never
        # regress the liveness clock
        for pdf in pdf_iter:
            if len(pdf):
                chunk_scan = int(pdf["scan_id"].max())
                chunk_ts = int(pdf["ts"].max().value // 1_000_000)
                last_scan = (
                    chunk_scan if last_scan is None
                    else max(last_scan, chunk_scan)
                )
                last_ts_ms = (
                    chunk_ts if last_ts_ms is None
                    else max(last_ts_ms, chunk_ts)
                )
        state.update((last_scan, last_ts_ms))
        # deadline re-arms on every appearance; fires only when the
        # watermark (driven by OTHER keys' newer samples) passes it
        state.setTimeoutTimestamp(last_ts_ms + gap_ms)
        yield pd.DataFrame(
            [(topic, int(partition_id), last_scan, False)], columns=cols
        )

    return _liveness_fn


def vanished_entity_stream(
    stream: DataFrame,
    gap_ms: int = DEFAULT_LIVENESS_GAP_MS,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Reconciliation stream: one liveness row per (topic, partition) per
    batch, plus an expired=true tombstone when the key stops arriving
    (GroupStateTimeout.EventTimeTimeout + state.remove()).

    State scales with partition count, not event volume; keys that keep
    arriving never expire because the deadline re-arms each batch."""
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy("topic", "partition_id")
        .applyInPandasWithState(
            _make_liveness_fn(gap_ms),
            outputStructType=LIVENESS_SCHEMA,
            stateStructType=StructType(
                [
                    StructField("last_scan", LongType()),
                    StructField("last_ts_ms", LongType()),
                ]
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --- Kafka readStream seam (SURVEY S4's genuine streaming analog) ------
#
# The reference polls `Consumer.get_watermark_offsets` per partition every
# scan interval (`kafka_resources/topics.py:168-178`). With Spark's Kafka
# source the high watermark needs no polling at all: every consumed
# record carries (topic, partition, offset), so max(offset)+1 per
# partition per micro-batch IS the end-offset sample — the collector
# becomes a by-product of consumption. The spark-sql-kafka connector jar
# is not in this container, so the reader construction is seam-tested
# (tests/test_sources_formats.py, skipped without the jar) while the
# record→watermark transform — plain DataFrame code — is always tested.
# LOW watermarks (retention floor) are not observable from records;
# a real deployment keeps the AdminClient scan for those (S4 batch path)
# or accepts first-consumed-offset as the observed floor.

KAFKA_RECORD_COLUMNS = ("topic", "partition", "offset", "timestamp")


def kafka_reader_options(
    bootstrap_servers: str,
    subscribe_pattern: str = ".*",
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 100_000,
) -> dict[str, str]:
    """The production reader config, as data (testable without the jar).
    ``maxOffsetsPerTrigger`` bounds per-batch work — the same
    backfill-rate-limit role `maxFilesPerTrigger` plays in the file-feed
    tests; ``subscribePattern`` mirrors the reference's regex topic
    selection (P12)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribePattern": subscribe_pattern,
        "startingOffsets": starting_offsets,
        # metadata-only collector: payloads are never deserialized, so
        # failOnDataLoss=false tolerates retention deleting old segments
        # mid-backfill (the reference's scan likewise only sees the
        # current watermark, never the deleted range)
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_source_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka connector is on the classpath. The
    Kafka source defers broker connection until stream start, so a
    plan-only ``load()`` succeeds exactly when the jar resolves."""
    try:
        (
            spark.readStream.format("kafka")
            .options(**kafka_reader_options("localhost:9092"))
            .load()
        )
        return True
    except Exception:
        return False


def kafka_record_stream(
    spark: SparkSession, bootstrap_servers: str, **option_overrides
) -> DataFrame:
    """The raw Kafka record stream projected to the metadata columns the
    collector needs (payload bytes dropped BEFORE any further plan —
    column pruning reaches the source, so brokers stream only record
    frames that are immediately reduced)."""
    opts = kafka_reader_options(bootstrap_servers)
    opts.update({k: str(v) for k, v in option_overrides.items()})
    raw = spark.readStream.format("kafka").options(**opts).load()
    return raw.select(
        F.col("topic"),
        F.col("partition").cast("long").alias("partition_id"),
        F.col("offset").cast("long").alias("offset"),
        F.col("timestamp").alias("ts"),
    )


def end_offsets_from_records(records: DataFrame, scan_id: int) -> DataFrame:
    """One micro-batch of consumed records → S4 watermark-sample rows:
    end_offset = max(offset)+1 (Kafka's high watermark is one past the
    last record), observed floor = min(offset). Plain batch transform for
    ``foreachBatch`` — the per-batch groupBy is the only aggregation, so
    per-trigger cost is O(batch) with a (topic, partition)-keyed shuffle
    of partition-count cardinality."""
    return records.groupBy("topic", "partition_id").agg(
        F.lit(scan_id).cast("long").alias("scan_id"),
        F.min("offset").alias("start_offset"),
        (F.max("offset") + 1).alias("end_offset"),
        F.max("ts").alias("ts"),
    )


# --- streaming lag pipeline (§2.9 at the lag grain) -------------------
#
# The reference computes consumer lag EVERY scan interval from its
# in-memory caches (`overwatch_resources/groups.py:98-144`): latest
# watermarks per partition × latest committed offsets per (group,
# partition). The streaming twin keys state by (cluster, topic) — the
# natural co-location grain, because the P11 break rule needs ALL of a
# (group, topic)'s partitions in one place — and carries both caches
# forward, so a micro-batch that samples only committed offsets still
# reads lag against the last known watermarks (exactly the reference's
# cache semantics, where scans refresh independently).

LAG_SAMPLE_SCHEMA = StructType(
    [
        StructField("cluster", StringType()),
        StructField("topic", StringType()),
        StructField("partition_id", LongType()),
        StructField("scan_id", LongType()),
        # watermark samples carry offsets, group samples carry the
        # committed offset — the OTHER side's columns are null (one
        # unified collector feed, not a stream-stream join)
        StructField("start_offset", LongType()),
        StructField("end_offset", LongType()),
        StructField("group_id", StringType()),
        StructField("committed_offset", LongType()),
        StructField("ts", TimestampType()),
    ]
)

LAG_STREAM_SCHEMA = StructType(
    [
        StructField("cluster", StringType()),
        StructField("group_id", StringType()),
        StructField("topic", StringType()),
        StructField("partition_id", LongType()),
        StructField("lag", LongType()),
        StructField("as_of_scan", LongType()),
    ]
)

LAG_STATE_SCHEMA = StructType(
    [
        # JSON-serialized caches: {partition: [start, end]} and
        # {"group\x00partition": committed}. Bounded by partitions ×
        # groups per topic (metadata grain), held in the state store.
        StructField("wm_json", StringType()),
        StructField("go_json", StringType()),
        StructField("as_of_scan", LongType()),
    ]
)


def lag_sample_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """The unified collector feed (watermark + committed-offset samples)
    as a stream; one parquet file per micro-batch in tests."""
    return file_stream(spark, input_dir, LAG_SAMPLE_SCHEMA)


def _lag_rows_from_caches(
    cluster: str,
    topic: str,
    wm: dict,
    go: dict,
    as_of: int,
) -> list[tuple]:
    """The reference's per-scan lag loop (`groups.py:98-144`) over the
    carried-forward caches — P11 semantics preserved bit-for-bit:
    (a) a partition with no messages is skipped (continue) BEFORE
    (b) a committed_offset < 0 breaks out of the whole topic (partitions
    after the first bad id are not measured). The loop is over STATE
    entries (topic-grain metadata: partitions × groups, dim-bounded) —
    not over the event-volume feed, which was folded vectorized below."""
    by_group: dict[str, list[tuple[int, int]]] = {}
    for gp_key, committed in go.items():
        group_id, pid_s = gp_key.split("\x00")
        by_group.setdefault(group_id, []).append((int(pid_s), committed))
    out = []
    for group_id, pairs in by_group.items():
        measured = []
        first_bad = None
        for pid, committed in sorted(pairs):
            w = wm.get(str(pid))
            if w is None:
                continue  # J1 inner: unmonitored partition
            start, end = w
            if end - start <= 0:
                continue  # P11a: zero-message partition is skipped
            if committed < 0 and first_bad is None:
                first_bad = pid  # P11b: truncates the topic from here
            measured.append((pid, end - committed))
        for pid, lag in measured:
            if first_bad is None or pid < first_bad:
                out.append((cluster, group_id, topic, pid, lag, as_of))
    return out


def _lag_fn(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import json

    cluster, topic = key
    if state.exists:
        wm_json, go_json, as_of = state.get
        wm = json.loads(wm_json)
        go = json.loads(go_json)
        as_of = int(as_of)
    else:
        wm, go, as_of = {}, {}, -1
    pdf = pd.concat(list(pdf_iter)).sort_values("scan_id")
    wm_rows = pdf[pdf["group_id"].isna()]
    if len(wm_rows):
        # latest scan wins per partition: sorted ascending + keep="last"
        latest = wm_rows.drop_duplicates("partition_id", keep="last")
        for pid, s, e in zip(
            latest["partition_id"], latest["start_offset"], latest["end_offset"]
        ):
            wm[str(int(pid))] = [int(s), int(e)]
        as_of = max(as_of, int(wm_rows["scan_id"].max()))
    go_rows = pdf[pdf["group_id"].notna()]
    if len(go_rows):
        latest = go_rows.drop_duplicates(
            ["group_id", "partition_id"], keep="last"
        )
        for g, pid, c in zip(
            latest["group_id"], latest["partition_id"],
            latest["committed_offset"],
        ):
            go[f"{g}\x00{int(pid)}"] = int(c)
    state.update((json.dumps(wm), json.dumps(go), as_of))
    cols = [f.name for f in LAG_STREAM_SCHEMA.fields]
    yield pd.DataFrame(
        _lag_rows_from_caches(cluster, topic, wm, go, as_of), columns=cols
    )


def streaming_lag(stream: DataFrame) -> DataFrame:
    """Per-batch consumer lag from the unified sample feed: every
    micro-batch that touches a (cluster, topic) re-emits that topic's
    full lag picture against the latest known caches — the streaming
    deployment's rolling metric (the reference recomputes exactly this
    every ``cluster_scan_interval_in_seconds``). Output rows carry
    ``as_of_scan`` (the newest watermark scan folded in) so consumers —
    and the streamed==batch parity test — can select a consistent
    snapshot."""
    return stream.groupBy("cluster", "topic").applyInPandasWithState(
        _lag_fn,
        outputStructType=LAG_STREAM_SCHEMA,
        stateStructType=LAG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
