"""Streaming EMBEDDING ingest gate (r11): centroid-drift monitoring of
an encoder's output feed — the sixth ingest-gate family member, and
the first over the embedding modality (Benford / quality-drift /
novelty-collapse / keyness-drift / value-KS-drift watch events and
text; nothing watched the vectors). An encoder version bump, a
normalization change, or a poisoned source moves the MEAN vector long
before nearest-neighbor recall visibly degrades; the monitor releases,
per micro-batch, the cosine shift of the batch centroid against the
lifetime centroid.

All drift arithmetic lives in pipelines.similarity.centroid_drift,
gated by the oracle-checked batch twin ``emb_centroid_drift``. State
is the per-dimension quantized coordinate sums (dim, qsum, n) — 64
rows per batch partition, MERGEABLE by addition (compaction changes
nothing), exactly the keyness-index shape at a bounded grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .state import read_totals, seed_index, write_batch


def init_centroid_index(
    spark: SparkSession, embeddings: DataFrame, base_path: str
) -> None:
    """Seed the (dim, qsum, n) lifetime sums for the centroid-drift
    monitor (lifetime state at batch N is the SUM over batch_id < N
    partitions)."""
    from ..pipelines.similarity import quantized_dim_sums

    seed_index(quantized_dim_sums(embeddings), f"{base_path}/sums")


class CentroidDriftMonitor:
    """foreachBatch handler: per batch, one quantized dim-sum aggregate
    over the batch, one read of the lifetime sums pruned to
    batch_id < current (a replayed batch never sees its own sums), the
    centroid_drift release, and an idempotent append of the batch sums
    into the state (dynamic partition overwrite — the replay contract
    every monitor in the family shares).

    100 TB shape: state is dim-grain (64 rows per batch partition);
    the per-batch work is one narrow posexplode + aggregate over the
    batch, never a scan of prior batches' vectors."""

    def __init__(self, base_path: str, out_dir: str) -> None:
        self.base = base_path
        self.out_dir = out_dir

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..pipelines.similarity import centroid_drift, quantized_dim_sums

        spark = batch_df.sparkSession
        batch_sums = quantized_dim_sums(batch_df).localCheckpoint(
            eager=True
        )
        lifetime = read_totals(spark, f"{self.base}/sums", batch_id, "dim")
        release = centroid_drift(batch_sums, lifetime)
        write_batch(release.coalesce(1), self.out_dir, batch_id)
        write_batch(batch_sums.coalesce(1), f"{self.base}/sums", batch_id)
