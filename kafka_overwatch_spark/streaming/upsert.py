"""Streaming CDC dimension maintenance: a change feed upserted into a
versioned parquet dimension table per micro-batch.

This is the streaming deployment of ``relational.scd1_upsert`` (MERGE
semantics: latest update wins wholesale) on top of the generational
commit protocol (streaming/state.py): the maintained table is always
readable at its last committed generation, crashes land recoverable,
and replaying a batch is IDEMPOTENT because applying the same update
set to a dimension that already carries it is a no-op.

At 100 TB this is how the topics / consumer-group dims stay current
without rescanning history: each scan interval's collector output is a
bounded change set; the upsert is one keyed join against the dim (both
sides bucketable on the key — see sinks/layout.py), and the dim stays a
single coherent parquet artifact every downstream broadcast join reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.relational import scd1_upsert
from .state import GenerationalState


class Scd1DimensionMaintainer(GenerationalState):
    """foreachBatch handler: dedup the batch to the LATEST row per key
    (``order_col`` descending — a change feed can carry several updates
    for one key in one batch), MERGE into the committed dimension, and
    commit the result as the next generation."""

    def __init__(
        self, state_dir: str, keys: list[str], order_col: str
    ) -> None:
        super().__init__(state_dir)
        self.keys = keys
        self.order_col = order_col

    def latest_per_key(self, batch_df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*self.keys).orderBy(
            F.col(self.order_col).desc()
        )
        return (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        updates = self.latest_per_key(batch_df)
        target = self.read_current(spark)
        merged = (
            updates
            if target is None
            else scd1_upsert(target, updates, self.keys)
        )
        self.commit(spark, merged.localCheckpoint(eager=True), batch_id)


class HeavyHitterSketchMaintainer(GenerationalState):
    """foreachBatch handler maintaining a Count-Min sketch of user
    activity across micro-batches: each batch is sketched JVM-side
    (`count_min_sketch` aggregate), merged into the committed sketch
    with Spark's public `CountMinSketch.mergeInPlace` (exact table
    addition — same params/seed), and committed generationally. State
    is ONE ~8 KB binary row regardless of history size: the incremental
    heavy-hitter table for an unbounded stream, answering point queries
    at any time from kilobytes.

    NOTE on replay: unlike the HLL reach maintainer (max-merge =
    idempotent), CMS merge ADDS counts — a replayed batch double-counts
    unless guarded. Two crash windows exist: (a) crash BEFORE the
    pointer flip → the replay overwrites the uncommitted generation
    (safe); (b) crash AFTER the flip but BEFORE the streaming
    checkpoint records the batch → the replayed batch would re-merge
    into a state that already contains it, so __call__ explicitly
    SKIPS when the committed generation already carries this batch_id.
    Streamed == full-batch equality is asserted in
    tests/test_streaming_upsert.py."""

    EPS, CONF, SEED = 0.001, 0.99, 42

    def _batch_sketch_bytes(self, batch_df: DataFrame) -> bytes:
        row = batch_df.agg(
            F.expr(
                f"count_min_sketch(user_id, {self.EPS}d, {self.CONF}d, "
                f"{self.SEED})"
            ).alias("sk"),
            F.count("*").alias("n"),
        ).collect()[0]
        return bytes(row.sk), int(row.n)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # replay guard for crash window (b): the committed state already
        # contains this batch — re-merging would double-count (CMS adds)
        if self.current_generation(spark) == f"gen-{batch_id:010d}":
            return
        sk_bytes, n = self._batch_sketch_bytes(batch_df)
        prev = self.read_current(spark)
        if prev is not None:
            jvm = spark._jvm
            cms_cls = jvm.org.apache.spark.util.sketch.CountMinSketch
            prev_row = prev.collect()[0]
            merged = cms_cls.readFrom(bytes(prev_row.sketch))
            merged.mergeInPlace(cms_cls.readFrom(sk_bytes))
            out_bytes = bytes(merged.toByteArray())
            total = int(prev_row.n_total) + n
        else:
            out_bytes, total = sk_bytes, n
        state = spark.createDataFrame(
            [(bytearray(out_bytes), total)], "sketch binary, n_total long"
        )
        self.commit(spark, state, batch_id)

    def estimate(self, spark: SparkSession, user_ids: list[int]) -> dict:
        cur = self.read_current(spark)
        if cur is None:
            return {}
        row = cur.collect()[0]
        cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            bytes(row.sketch)
        )
        return {
            int(u): int(
                cms.estimateCount(spark._jvm.java.lang.Long(int(u)))
            )
            for u in user_ids
        }
