"""Structured Streaming over the events feed — the training-pipeline
streaming surface (beyond the reference's metadata scan loop): watermarked
tumbling-window aggregation and streaming exact dedup.

Scale: the windowed agg is keyed by (window, event_type) — state is
bounded by watermark retention × key cardinality; dropDuplicates state by
the id space within the watermark horizon. Both survive a 1000-executor
deployment because state partitions by key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .state import (
    GenerationalState,
    drain,
    read_totals,
    seed_index,
    write_batch,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def event_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def windowed_counts(stream: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Tumbling 1-day windows per event_type with late-data watermark —
    the streaming twin of relational.events_daily_rollup."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "events",
            "total_value",
        )
    )


def streaming_dedup(stream: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Streaming exact dedup on event_id. CAVEAT (the classic state
    trap): because the event-time column is NOT part of the dedup
    subset, `dropDuplicates` keeps every key in state FOREVER — the
    watermark only gates late rows, it does not evict dedup state. Fine
    for bounded replays; at 100 TB use
    `streaming_dedup_within_watermark`, which evicts each key once the
    watermark passes it."""
    return stream.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def streaming_dedup_within_watermark(
    stream: DataFrame, watermark: str = "2 days"
) -> DataFrame:
    """State-BOUNDED streaming dedup: `dropDuplicatesWithinWatermark`
    guarantees exact dedup for duplicates arriving within the watermark
    horizon of first sight and EVICTS each key's state once the
    watermark passes — state size is O(events per horizon), not
    O(history). This is the only form that survives an unbounded stream;
    kafka replays / at-least-once producers re-deliver within seconds,
    far inside any sane horizon."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("events", LongType()),
        StructField("duration_sec", LongType()),
    ]
)

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_ord", LongType()),
        StructField("start_unix", LongType()),
        StructField("last_unix", LongType()),
        StructField("n", LongType()),
    ]
)


def _make_session_fn(gap_seconds: int):
    import pandas as pd

    cols = [f.name for f in SESSION_SCHEMA.fields]

    # sentinel for "no open session, but remember the per-user session
    # ordinal" — state must survive a timeout close or the next session
    # would re-number from 1 and collide with an emitted (user, id) pair
    CLOSED = -1

    def _session_fn(key, pdf_iter, state):
        (user_id,) = key
        out = []
        if state.hasTimedOut:
            # watermark passed last_event + gap: the open session can
            # never be extended — close it, KEEP the ordinal (no new
            # timeout: sentinel state is inert until the user returns)
            ord_, start, last, n = (int(v) for v in state.get)
            out.append((int(user_id), ord_, n, last - start))
            state.update((ord_, CLOSED, CLOSED, 0))
            yield pd.DataFrame(out, columns=cols)
            return
        if state.exists:
            ord_, start, last, n = (int(v) for v in state.get)
            if start == CLOSED:
                start, last, n = None, None, 0
        else:
            ord_, start, last, n = 0, None, None, 0
        rows = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        for ts in rows["ts"]:
            t = int(pd.Timestamp(ts).timestamp())
            if start is None:
                ord_, start, last, n = ord_ + 1, t, t, 1
            elif t - last > gap_seconds:
                out.append((int(user_id), int(ord_), int(n), int(last - start)))
                ord_, start, last, n = ord_ + 1, t, t, 1
            else:
                last = max(last, t)
                n += 1
        state.update((ord_, start, last, n))
        if start is not None:
            state.setTimeoutTimestamp((last + gap_seconds) * 1000)
        yield pd.DataFrame(out, columns=cols)

    return _session_fn


def streaming_sessionize(
    stream: DataFrame,
    gap_seconds: int = 3600,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of `relational.sessionize_events`: gap-based
    sessions via applyInPandasWithState keyed by user_id. Sessions close
    either inline (a later event exceeds the gap) or by
    EventTimeTimeout when the watermark passes last_event + gap — so
    emission is deterministic under replay (event-time, never
    wall-clock; see NOTES.md lesson 9).

    State is one row per seen user: the open session, or a closed
    sentinel that carries the session ordinal so numbering stays
    monotonic across timeout closes (∝ the user dimension, partitioned
    by the group key at any cluster size). Assumes the feed
    is time-ordered per user within the watermark (the replay slices in
    tests are; a real feed relies on the watermark delay)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_session_fn(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


class ReachSketchMaintainer(GenerationalState):
    """foreachBatch handler maintaining a per-(event_type, day) HLL
    sketch state table: each micro-batch is sketched
    (``hll_sketch_agg``) and unioned (``hll_union_agg``) into persisted
    parquet state, so distinct-user reach at ANY grain is served from
    constant-size sketch bytes without rescanning raw events — the
    incremental-OLAP pattern that replaces a (key, user_id) distinct
    shuffle over 100 TB of history with a merge of kilobyte sketches.

    Replay safety comes from HLL algebra, not bookkeeping: unioning the
    same users into a sketch is IDEMPOTENT (registers are max-merged),
    so a batch replayed after a crash-between-write-and-checkpoint
    leaves every estimate unchanged.

    State write is GENERATIONAL, never in-place: each batch writes a
    fresh ``gen-<batch_id>`` subdirectory, then flips the ``CURRENT``
    pointer file to it as the commit point. An in-place parquet
    overwrite has a torn-state window (old files deleted, new commit
    not yet written) that an existence probe would mistake for valid
    state — silently truncating accumulated reach history. With the
    pointer protocol every crash lands in a recoverable spot:

    - crash before the pointer flip → pointer still names the previous
      generation; the replayed batch re-derives the new generation
      (parquet overwrite of an uncommitted dir) and flips again;
    - crash inside the flip (tmp written, CURRENT not yet renamed) →
      the fully-written ``CURRENT.tmp`` is promoted on the next read;
    - generation dirs without any pointer → ambiguous, FAIL LOUDLY
      (never guess "no state yet" when state files exist).

    Replay idempotence still comes from HLL algebra (max-merged
    registers), so re-merging a replayed batch leaves estimates
    unchanged; merged state is localCheckpoint-ed before writing so the
    new generation's lineage doesn't read the dir being replaced.
    """

    # pointer protocol + generation commit live in GenerationalState
    # (streaming/state.py) — shared with the CDC dimension maintainer;
    # crash cases are exercised against THIS class's state dir in
    # test_reach_sketch_state_commit_protocol

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.relational import day_user_sketches

        spark = batch_df.sparkSession
        batch_sk = day_user_sketches(batch_df)
        prev = self.read_current(spark)
        if prev is not None:
            merged = (
                prev.unionByName(batch_sk)
                .groupBy("event_type", "day")
                .agg(F.expr("hll_union_agg(sk)").alias("sk"))
            )
        else:  # first batch: no state yet
            merged = batch_sk
        self.commit(spark, merged.localCheckpoint(eager=True), batch_id)


def run_reach_sketch_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint: str,
) -> StreamingQuery:
    """Drain the events feed into the sketch state table
    (availableNow; production uses a processing-time trigger)."""
    handler = ReachSketchMaintainer(state_dir)
    return drain(
        event_stream(spark, input_dir).writeStream.foreachBatch(handler),
        checkpoint,
    )


def reach_from_sketch_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-event-type reach served from the sketch state table alone —
    a rollup over sketch bytes (union across days), no raw-event scan.
    Reads the generation the CURRENT pointer commits to (never a torn
    in-flight write)."""
    gen = ReachSketchMaintainer(state_dir).current_generation(spark)
    if gen is None:
        raise FileNotFoundError(
            f"no committed reach-sketch state under {state_dir}"
        )
    return (
        spark.read.parquet(f"{state_dir}/{gen}")
        .groupBy("event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("long")
            .alias("sketch_users")
        )
    )


def streaming_click_attribution(
    stream: DataFrame,
    watermark: str = "2 days",
    window_seconds: int = 3600,
    left_type: str = "purchase",
    right_type: str = "click",
) -> DataFrame:
    """Stream-stream interval join: each ``left_type`` event left-outer
    joined to the ``right_type`` events by the same user in its preceding
    ``window_seconds`` — the streaming twin of
    relational.events_preceding_window_join (same predicate, same
    microsecond-exact INTERVAL arithmetic).

    This is Spark's NATIVE stream-stream join shape: both sides carry a
    watermark, and the join condition bounds event-time distance, so the
    state store retains each side only within
    watermark + window_seconds — bounded state, no unbounded buffering.
    The left outer join emits unmatched purchases when the watermark
    passes their join horizon (a zero-click purchase appears once, with
    null click columns). Emits matched PAIRS, not the per-purchase
    aggregate: chaining an aggregation after a stream-stream outer join
    stacks two stateful operators whose combined output-mode rules are
    subtle; the test aggregates the drained pairs and proves equality
    with the batch operator's counts on a replayed feed.

    At 100 TB/day both state stores partition by user_id (the equi-key);
    skew concentrates a hot user's clicks in one store partition —
    the same salting lever as the batch bucket join applies.
    """
    purchases = (
        stream.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        stream.filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""c_user_id = p_user_id
            AND c_ts > p_ts - INTERVAL {window_seconds} SECOND
            AND c_ts <= p_ts"""
        ),
        "leftOuter",
    ).select(
        "purchase_id",
        F.col("p_user_id").alias("user_id"),
        "p_ts",
        "click_id",
        "c_ts",
        "click_value",
    )


def late_data_metrics(query) -> list[dict]:
    """Per-batch late-data accounting from a streaming query's progress
    history: one record per (batch, stateful operator) with the rows the
    watermark dropped — the observability signal that says "your
    watermark is too tight for this feed" BEFORE the aggregates silently
    under-count. Zero extra passes: Spark already tracks
    numRowsDroppedByWatermark per state operator; this surfaces it in
    the same shape the Prometheus sink consumes (metric, labels,
    value)."""
    out: list[dict] = []
    for p in query.recentProgress:
        batch_id = p.get("batchId")
        for op in p.get("stateOperators", []) or []:
            out.append(
                {
                    "metric": "streaming_rows_dropped_by_watermark",
                    "batch_id": batch_id,
                    "operator": op.get("operatorName", "unknown"),
                    "value": int(op.get("numRowsDroppedByWatermark", 0) or 0),
                }
            )
    return out


def streaming_session_windows(
    stream: DataFrame, gap: str = "12 hours", watermark: str = "1 day"
) -> DataFrame:
    """Streaming twin of ``relational.events_session_window_native`` —
    the SAME ``session_window`` aggregate, now stateful: open sessions
    live in the state store, merge as events arrive, and emit (append
    mode) once the watermark passes session end. This is the §2.9 proof
    that the batch sessionization operator transfers to a stream
    verbatim — one groupBy, two deployment modes; streamed == batch is
    asserted in tests/test_events_stream.py."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("d_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start"))
            .cast("long")
            .alias("session_start_sec"),
            F.unix_timestamp(F.col("session_window.end"))
            .cast("long")
            .alias("session_end_sec"),
            "events",
            F.col("d_value").cast("double").alias("total_value"),
        )
    )


class DpCountsRelease:
    """foreachBatch handler for a PRIVACY-PRESERVING streaming metrics
    release: each micro-batch's per-type counts are published with
    ε-DP Laplace noise (``operators.relational.dp_noisy_counts``) under
    a per-batch salt derived from (base_salt, batch_id) — so a REPLAYED
    batch re-derives byte-identical noise (exactly-once release
    semantics survive crash-replay), while distinct batches draw
    independent noise (no correlation an observer could average out
    across the stream). Writes are batch_id-partitioned dynamic
    overwrites, the engine's standard idempotent-append shape.

    Per-batch ε composes: publishing T batches of the same metric
    costs T·ε under sequential composition — pick ε per the stream's
    release cadence. Scale: one map-side-combined aggregate per batch;
    noise math is scalar arithmetic on the (tiny) type-grain frame."""

    def __init__(
        self,
        out_dir: str,
        epsilon: float = 0.1,
        base_salt: str = "dp-stream-42",
    ) -> None:
        self.out_dir = out_dir
        self.epsilon = epsilon
        self.base_salt = base_salt

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.relational import dp_noisy_counts

        release = dp_noisy_counts(
            batch_df,
            epsilon=self.epsilon,
            salt=f"{self.base_salt}:{batch_id}",
        ).select("event_type", "noisy_count")  # true_count NEVER leaves
        write_batch(release, self.out_dir, batch_id)


def run_dp_counts_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint: str,
    epsilon: float = 0.1,
) -> StreamingQuery:
    """Drain the events feed through the DP release (availableNow; a
    production deployment uses a processing-time trigger at the
    release cadence the ε budget was priced for)."""
    handler = DpCountsRelease(out_dir, epsilon)
    return drain(
        event_stream(spark, input_dir).writeStream.foreachBatch(handler),
        checkpoint,
    )


class BenfordMonitor:
    """foreachBatch handler for a streaming fabricated-data screen
    (r9): each micro-batch's value population is run through
    ``operators.relational.benford_audit`` and the 9-row first-digit
    deviation table is released with an ``alert`` flag when any
    digit's |excess| over the Benford expectation crosses the
    threshold — the instrumentation-bug tripwire a metrics pipeline
    wants ON the ingest path, not in a weekly batch audit (a deploy
    that starts emitting clamped or defaulted values shifts the digit
    distribution within one batch).

    Deterministic (no randomness anywhere), so crash-replay re-derives
    byte-identical releases; writes are batch_id-partitioned dynamic
    overwrites (the engine's idempotent-append shape). Per-batch cost:
    one map-side-combined aggregate over the batch, then 9-row math.
    ``benford_lifetime`` folds all released per-digit counts back into
    the stream-lifetime deviation table — identical to running the
    batch audit over the concatenated feed, because digit counts are
    losslessly mergeable."""

    def __init__(self, out_dir: str, alert_excess: float = 0.05) -> None:
        self.out_dir = out_dir
        self.alert_excess = alert_excess

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.relational import benford_audit

        release = benford_audit(batch_df).withColumn(
            "alert", F.abs(F.col("excess")) > self.alert_excess
        )
        write_batch(release.coalesce(1), self.out_dir, batch_id)


def benford_lifetime(spark: SparkSession, out_dir: str) -> DataFrame:
    """Stream-lifetime Benford deviation from the monitor's released
    per-batch digit counts (mergeable: digit counts sum losslessly;
    shares/expectations re-derive from the merged counts exactly as
    the batch audit computes them)."""
    merged = (
        spark.read.parquet(out_dir)
        .groupBy("digit")
        .agg(F.sum("n").alias("n"))
    )
    total = merged.agg(F.sum("n").alias("total"))
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        merged.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total").cast("double"), 6).alias(
                "share"
            ),
            F.round(expected, 6).alias("benford_expected"),
            F.round(
                F.col("n") / F.col("total").cast("double") - expected, 6
            ).alias("excess"),
        )
    )


def run_benford_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint: str,
    alert_excess: float = 0.05,
) -> StreamingQuery:
    """Drain the events feed through the Benford monitor
    (availableNow; production uses a processing-time trigger at the
    monitoring cadence)."""
    handler = BenfordMonitor(out_dir, alert_excess)
    return drain(
        event_stream(spark, input_dir).writeStream.foreachBatch(handler),
        checkpoint,
    )


def init_ks_index(
    spark: SparkSession, events: DataFrame, base_path: str
) -> None:
    """Seed the (event_type, value, cnt) lifetime index for the
    streaming value-drift monitor (lifetime counts at batch N are the
    SUM over batch_id < N partitions — mergeable, the keyness-index
    convention)."""
    seed_index(
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", "value")
        .agg(F.count("*").alias("cnt")),
        f"{base_path}/counts",
    )


class ValueDriftMonitor:
    """foreachBatch handler for per-type VALUE-DISTRIBUTION drift
    (r11): each micro-batch releases the two-sample KS of its value
    population against the lifetime index, per event type — the
    numeric sibling of the Benford digit screen (Benford catches
    fabricated/clamped values by digit law; KS catches ANY
    distributional shift — a rescaling deploy, a unit change, a
    truncation) and the events-side mirror of the documents
    keyness-drift gate. Arithmetic lives in
    operators.relational.ks_drift_counts, gated by the oracle-checked
    batch twin ``events_ks_drift``.

    Per batch: one (type, value) count aggregate, one read of the
    lifetime index pruned to batch_id < current (replay never sees its
    own counts), the KS release, and an idempotent append of the batch
    counts. State is value-grain per type — bounded by the value
    cardinality, and mergeable by addition so compaction is free.
    Deterministic end to end; both writes are batch_id-partitioned
    dynamic overwrites."""

    def __init__(self, base_path: str, out_dir: str) -> None:
        self.base = base_path
        self.out_dir = out_dir

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.relational import ks_drift_counts

        spark = batch_df.sparkSession
        batch_counts = (
            batch_df.filter(F.col("value").isNotNull())
            .groupBy("event_type", "value")
            .agg(F.count("*").alias("cnt"))
            .localCheckpoint(eager=True)
        )
        lifetime = read_totals(
            spark, f"{self.base}/counts", batch_id, "event_type", "value"
        )
        release = ks_drift_counts(batch_counts, lifetime)
        write_batch(release.coalesce(1), self.out_dir, batch_id)
        write_batch(batch_counts.coalesce(4), f"{self.base}/counts", batch_id)


def run_value_drift_stream(
    spark: SparkSession,
    input_dir: str,
    base_path: str,
    out_dir: str,
    checkpoint: str,
) -> StreamingQuery:
    """Drain the events feed through the value-drift monitor
    (availableNow trigger)."""
    handler = ValueDriftMonitor(base_path, out_dir)
    return drain(
        event_stream(spark, input_dir).writeStream.foreachBatch(handler),
        checkpoint,
    )
