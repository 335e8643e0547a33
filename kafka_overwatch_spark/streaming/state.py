"""Shared plumbing for the streaming monitors and screens.

``file_stream`` is the one parquet file feed (documents, embeddings,
events, offset and lag samples, change feeds); ``drain`` runs a
configured stream to completion with availableNow and fails loudly on
timeout; ``run`` is the one way a screen or monitor is started: it
hands each micro-batch of a feed to a foreachBatch handler and drains;
``write_batch`` is the replay-safe per-batch write every foreachBatch
handler appends its output with. A drained query's ``recentProgress``
holds one entry per batch (``batchId``, ``numInputRows``), so the
per-batch record costs no extra job.

Persisted indexes (the growing screens' corpora, the monitors'
lifetime state) share one batch_id-partitioned layout, defined here
only: ``seed_index`` writes the pre-existing corpus at batch_id = -1
with a static overwrite, which also wipes every batch partition of an
earlier run; batch N reads the index through ``read_index``, pruned to
batch_id < N, so a replayed batch never sees its own rows; and batch N
appends with ``write_batch``, whose dynamic overwrite replaces exactly
the batch_id = N partitions. ``read_totals`` is the read of an
additive index, whose lifetime state is the sum of its partitions.

``GenerationalState`` is parquet state with an atomic CURRENT-pointer
commit, shared by every foreachBatch handler that maintains persisted state
(reach sketches, CDC dimension upserts): each batch writes a fresh
``gen-<batch_id>`` subdirectory, then flips the ``CURRENT`` pointer file
as the commit point. An in-place parquet overwrite has a torn-state
window (old files deleted, new commit not yet written) that an
existence probe would mistake for valid state — silently truncating
accumulated history. With the pointer protocol every crash lands in a
recoverable spot:

- crash before the pointer flip → pointer still names the previous
  generation; the replayed batch re-derives the new generation
  (parquet overwrite of an uncommitted dir) and flips again;
- crash inside the flip (tmp written, CURRENT not yet renamed) → the
  fully-written ``CURRENT.tmp`` is promoted on the next read;
- generation dirs without any pointer → ambiguous, FAIL LOUDLY (never
  guess "no state yet" when state files exist).

Uses the Hadoop FS API throughout, so the same code runs on
file:/hdfs:/s3a: paths. Crash cases are exercised in
tests/test_events_stream.py::test_reach_sketch_state_commit_protocol.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

DRAIN_TIMEOUT_S = 300


def file_stream(
    spark: SparkSession,
    input_dir: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """File stream of parquet rows, one file per trigger (arrival order
    is file order). Streaming sources require an explicit schema: pass
    ``schema`` (a StructType or DDL string) for a feed that may start
    empty, otherwise it is read from the files' footers."""
    if schema is None:
        schema = spark.read.parquet(input_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def drain(writer: DataStreamWriter, checkpoint: str) -> StreamingQuery:
    """Start ``writer`` with an availableNow trigger and wait until it
    has processed everything available. A partial drain would let the
    caller read incomplete output, so a timeout stops the query and
    raises instead."""
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"stream with checkpoint {checkpoint} did not drain within "
            f"{DRAIN_TIMEOUT_S}s"
        )
    return q


def run(
    handler: Callable[[DataFrame, int], None],
    feed: DataFrame,
    checkpoint: str,
) -> StreamingQuery:
    """Hand every micro-batch of ``feed`` to ``handler`` and drain."""
    return drain(feed.writeStream.foreachBatch(handler), checkpoint)


def write_batch(
    df: DataFrame, path: str, batch_id: int, *partition_cols: str
) -> None:
    """Replay-safe foreachBatch append: the rows land in the
    ``batch_id=N`` partition (under any ``partition_cols``), which is
    dynamically OVERWRITTEN, so a batch replayed after a crash between
    write and checkpoint replaces its own rows instead of duplicating
    them. Dynamic mode is a per-write option; the session conf is left
    alone."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols, "batch_id")
        .parquet(path)
    )


def seed_index(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Seed an index with ``df`` at batch_id = -1, ordered before every
    stream batch. The overwrite is static on purpose: re-seeding must
    delete a previous run's batch partitions, which ``write_batch``'s
    dynamic overwrite would keep."""
    (
        df.withColumn("batch_id", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy(*partition_cols, "batch_id")
        .parquet(path)
    )


def read_index(spark: SparkSession, path: str, batch_id: int) -> DataFrame:
    """The index as batch ``batch_id`` sees it: the seed and every
    earlier batch, pruned on the batch_id partition column."""
    return spark.read.parquet(path).filter(F.col("batch_id") < batch_id)


def read_totals(
    spark: SparkSession, path: str, batch_id: int, *keys: str
) -> DataFrame:
    """Lifetime totals of an additive index as batch ``batch_id`` sees
    them: every column other than ``keys`` summed by ``keys``."""
    index = read_index(spark, path, batch_id)
    values = [c for c in index.columns if c not in (*keys, "batch_id")]
    return index.groupBy(*keys).agg(*(F.sum(c).alias(c) for c in values))


class GenerationalState:
    POINTER = "CURRENT"

    def __init__(self, state_dir: str) -> None:
        self.state_dir = state_dir

    # --- pointer protocol -------------------------------------------------

    def _fs(self, spark: SparkSession):
        jvm = spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(self.state_dir)
        return jvm, root.getFileSystem(spark._jsc.hadoopConfiguration())

    def _path(self, spark: SparkSession, *parts: str):
        return spark._jvm.org.apache.hadoop.fs.Path(
            "/".join([self.state_dir.rstrip("/"), *parts])
        )

    def _read_small_file(self, spark: SparkSession, path) -> str:
        _, fs = self._fs(spark)
        stream = fs.open(path)
        try:
            data = bytearray()
            b = stream.read()
            while b != -1:  # pointer payload is ~16 bytes
                data.append(b)
                b = stream.read()
        finally:
            stream.close()
        return data.decode("utf-8").strip()

    def current_generation(self, spark: SparkSession) -> str | None:
        """Resolve the committed generation dir name, promoting a
        fully-written-but-unrenamed pointer if the last flip was torn.
        Returns None only when NO state artifacts exist at all."""
        jvm, fs = self._fs(spark)
        ptr = self._path(spark, self.POINTER)
        tmp = self._path(spark, self.POINTER + ".tmp")
        if fs.exists(ptr):
            return self._read_small_file(spark, ptr)
        if fs.exists(tmp):
            # crash between delete(CURRENT) and rename(tmp): the tmp was
            # fully written+closed before the old pointer was touched
            fs.rename(tmp, ptr)
            return self._read_small_file(spark, ptr)
        root = self._path(spark)
        if fs.exists(root) and [
            s
            for s in fs.listStatus(root)
            if s.getPath().getName().startswith("gen-")
        ]:
            raise RuntimeError(
                f"state dir {self.state_dir} contains generation dirs "
                "but no CURRENT pointer — refusing to treat existing "
                "state as 'first batch' (that would silently reset "
                "accumulated state); repair or remove the dir"
            )
        return None

    def _flip_pointer(self, spark: SparkSession, gen_name: str) -> None:
        jvm, fs = self._fs(spark)
        ptr = self._path(spark, self.POINTER)
        tmp = self._path(spark, self.POINTER + ".tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(gen_name.encode("utf-8")))
        finally:
            out.close()
        if fs.exists(ptr):
            fs.delete(ptr, False)
        fs.rename(tmp, ptr)

    def _gc_generations(self, spark: SparkSession, keep: str) -> None:
        jvm, fs = self._fs(spark)
        root = self._path(spark)
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("gen-") and name != keep:
                fs.delete(st.getPath(), True)

    # --- read / commit ----------------------------------------------------

    def read_current(self, spark: SparkSession) -> DataFrame | None:
        gen = self.current_generation(spark)
        if gen is None:
            return None
        return spark.read.parquet(f"{self.state_dir}/{gen}")

    def commit(
        self, spark: SparkSession, df: DataFrame, batch_id: int
    ) -> None:
        """Write ``df`` as generation ``batch_id`` and flip the pointer.
        The caller must have localCheckpoint-ed any lineage that reads
        the directory being replaced."""
        gen_name = f"gen-{batch_id:010d}"
        df.write.mode("overwrite").parquet(f"{self.state_dir}/{gen_name}")
        self._flip_pointer(spark, gen_name)  # ← the commit point
        self._gc_generations(spark, keep=gen_name)
