"""Growing-corpus streaming dedup: the streamed result (batches arriving
one file per trigger, index persisted and growing between triggers) must
equal the same computation driven batch-by-batch in a plain loop, and a
replayed batch must leave the index byte-identical (idempotent
partition overwrite)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _sequential_reference(spark, corpus_docs, batches):
    """Drive the same primitives in a plain loop: accepted state starts
    at the seed corpus; each batch screens against accepted, resolves
    intra-batch clusters to component minima, and its keepers join the
    accepted state."""
    from kafka_overwatch_spark.pipelines.dedup import (
        neardup_components,
        screen_against_corpus,
        shingle_docs,
    )

    accepted = shingle_docs(corpus_docs).localCheckpoint(eager=True)
    kept_ids: list[int] = []
    for b in batches:
        sh = shingle_docs(b).localCheckpoint(eager=True)
        hits = screen_against_corpus(sh, accepted)
        survivors = sh.join(
            hits.select(F.col("new_doc").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        ).localCheckpoint(eager=True)
        self_hits = screen_against_corpus(survivors, survivors).filter(
            F.col("new_doc") != F.col("corpus_doc")
        )
        edges = self_hits.select(
            F.least("new_doc", "corpus_doc").alias("vec_a"),
            F.greatest("new_doc", "corpus_doc").alias("vec_b"),
        ).distinct()
        comp = neardup_components(
            edges, survivors.select(F.col("doc_id").alias("vec_id"))
        )
        keepers = comp.filter(
            F.col("vec_id") == F.col("component")
        ).select(F.col("vec_id").alias("doc_id"))
        kept = survivors.join(keepers, "doc_id").localCheckpoint(eager=True)
        kept_ids.extend(r.doc_id for r in kept.select("doc_id").collect())
        accepted = accepted.unionByName(kept).localCheckpoint(eager=True)
    return sorted(kept_ids)


def test_growing_dedup_stream_equals_sequential(spark):
    from kafka_overwatch_spark.pipelines.dedup import shingle_docs
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingDedupScreen,
        init_growing_index,
    )
    from kafka_overwatch_spark.streaming.state import file_stream, run

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 200)
    feed = docs.filter(F.col("doc_id") >= 200)
    # three arrival files in doc_id ranges (the stream consumes one file
    # per trigger in write order)
    ranges = [(200, 300), (300, 400), (400, 10_000)]
    with tempfile.TemporaryDirectory() as tmp:
        batches = []
        for i, (lo, hi) in enumerate(ranges):
            b = feed.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            b.coalesce(1).write.mode("overwrite").parquet(
                f"{tmp}/in/b{i}"
            )
            batches.append(b)
        # the file stream lists files, one per trigger; write them into
        # one directory in order
        import shutil
        import glob
        import os

        os.makedirs(f"{tmp}/feed")
        for i in range(len(ranges)):
            src = glob.glob(f"{tmp}/in/b{i}/part-*.parquet")[0]
            dst = f"{tmp}/feed/{i:04d}.parquet"
            shutil.copy(src, dst)
            # the file source orders by modification time; same-second
            # copies tie and arrive in arbitrary order — pin strictly
            # increasing mtimes so arrival order IS the intended order
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

        init_growing_index(spark, shingle_docs(corpus), f"{tmp}/index")
        run(
            GrowingDedupScreen(f"{tmp}/index"),
            file_stream(spark, f"{tmp}/feed"),
            f"{tmp}/ckpt",
        )
        streamed_kept = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{tmp}/index/store/kind=shingles")
            .filter(F.col("batch_id") >= 0)
            .select("doc_id")
            .collect()
        )
        want = _sequential_reference(spark, corpus, batches)
        assert streamed_kept == want
        assert len(streamed_kept) > 0
        # quarantine holds the complement of the feed
        rejected = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{tmp}/index/store/kind=rejected").collect()
        )
        feed_ids = sorted(r.doc_id for r in feed.select("doc_id").collect())
        assert sorted(streamed_kept + rejected) == feed_ids


def test_growing_dedup_batch_replay_is_idempotent(spark):
    """Re-invoking the handler with the same batch_id (crash between
    write and checkpoint) must leave the index and quarantine unchanged:
    the reads prune to batch_id < N and the writes overwrite their own
    partition."""
    from kafka_overwatch_spark.pipelines.dedup import shingle_docs
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingDedupScreen,
        init_growing_index,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 300)
    batch = docs.filter(F.col("doc_id") >= 300)
    with tempfile.TemporaryDirectory() as tmp:
        init_growing_index(spark, shingle_docs(corpus), f"{tmp}/index")
        screen = GrowingDedupScreen(f"{tmp}/index")
        screen(batch, 0)
        first = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{tmp}/index/store/kind=shingles")
            .select("doc_id", "batch_id")
            .collect()
        )
        screen(batch, 0)  # replay
        second = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{tmp}/index/store/kind=shingles")
            .select("doc_id", "batch_id")
            .collect()
        )
        assert first == second
