"""Growing-corpus streaming CONTAINMENT screen: streamed == the same
primitives driven in a plain loop; crafted token-substring docs are
rejected with the right reasons and every verdict survives a brute-force
shingle-containment check (recall is 1.0 by construction, so keepers
must truly be containment-free); batch replay is idempotent."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

THRESHOLD = 0.8


def _sequential_reference(spark, corpus_docs, batches):
    from kafka_overwatch_spark.pipelines.dedup import (
        neardup_components,
        screen_containment_against_corpus,
        shingle_docs,
    )

    accepted = shingle_docs(corpus_docs).localCheckpoint(eager=True)
    kept_ids: list[int] = []
    for b in batches:
        sh = shingle_docs(b).localCheckpoint(eager=True)
        hits = screen_containment_against_corpus(
            sh, accepted, threshold=THRESHOLD
        )
        survivors = sh.join(
            hits.select(F.col("new_doc").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        ).localCheckpoint(eager=True)
        self_hits = screen_containment_against_corpus(
            survivors, survivors, threshold=THRESHOLD
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


def test_containment_stream_equals_sequential(spark):
    from kafka_overwatch_spark.pipelines.dedup import shingle_docs
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingContainmentScreen,
        init_containment_index,
    )
    from kafka_overwatch_spark.streaming.state import file_stream, run

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 200)
    feed = docs.filter(F.col("doc_id") >= 200)
    ranges = [(200, 300), (300, 400), (400, 10_000)]
    with tempfile.TemporaryDirectory() as tmp:
        batches = []
        os.makedirs(f"{tmp}/feed")
        for i, (lo, hi) in enumerate(ranges):
            b = feed.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            b.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b{i}")
            batches.append(b)
            src = glob.glob(f"{tmp}/in/b{i}/part-*.parquet")[0]
            dst = f"{tmp}/feed/{i:04d}.parquet"
            shutil.copy(src, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

        init_containment_index(spark, shingle_docs(corpus), f"{tmp}/index")
        run(
            GrowingContainmentScreen(
                f"{tmp}/index",
                f"{tmp}/quarantine",
                THRESHOLD,
            ),
            file_stream(spark, f"{tmp}/feed"),
            f"{tmp}/ckpt",
        )
        streamed_kept = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{tmp}/index/shingles")
            .filter(F.col("batch_id") >= 0)
            .select("doc_id")
            .collect()
        )
        assert streamed_kept == _sequential_reference(spark, corpus, batches)
        rejected = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{tmp}/quarantine").collect()
        )
        feed_ids = sorted(r.doc_id for r in feed.select("doc_id").collect())
        assert sorted(streamed_kept + rejected) == feed_ids


def _shingle_set(text: str, k: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))}


def test_containment_screen_verdicts_on_crafted_docs(spark):
    """A token-substring arrival is rejected as contained_in_corpus, a
    fresh doc survives, an intra-batch subset pair keeps the component
    minimum — and every verdict matches a brute-force python check."""
    from kafka_overwatch_spark.pipelines.dedup import shingle_docs
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingContainmentScreen,
        init_containment_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    fresh = "red orange yellow green blue indigo violet cyan magenta teal"
    texts = {
        1: base,  # seed
        10: " ".join(base.split()[3:15]),  # substring of seed → reject
        11: fresh,  # fresh → keep
        12: fresh + " extra tokens here now",  # superset of 11 (11 ⊂ 12)
        13: "one two three four five six seven eight nine ten",  # fresh
    }
    mk = lambda ids: spark.createDataFrame(
        [(i, texts[i], "en", "src0", len(texts[i])) for i in ids],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as tmp:
        init_containment_index(spark, shingle_docs(mk([1])), f"{tmp}/idx")
        screen = GrowingContainmentScreen(
            f"{tmp}/idx", f"{tmp}/q", threshold=THRESHOLD
        )
        screen(mk([10, 11, 12, 13]), 0)
        verdicts = {
            r.doc_id: r.reason
            for r in spark.read.parquet(f"{tmp}/q").collect()
        }
        kept = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{tmp}/idx/shingles")
            .filter(F.col("batch_id") >= 0)
            .select("doc_id")
            .collect()
        )
        assert verdicts[10] == "contained_in_corpus"
        # 11 ⊂ 12 within the batch → component-min keeps 11, rejects 12
        assert verdicts[12] == "intra_batch_contained"
        assert kept == [11, 13]
        # brute-force: every kept doc has containment < t vs every
        # earlier-accepted doc; every corpus-reject has ≥ t vs some seed
        sh = {i: _shingle_set(t) for i, t in texts.items()}
        for d in kept:
            for other in [1]:
                c = len(sh[d] & sh[other]) / len(sh[d])
                assert c < THRESHOLD, (d, other, c)
        for d, reason in verdicts.items():
            if reason == "contained_in_corpus":
                c = len(sh[d] & sh[1]) / len(sh[d])
                assert c >= THRESHOLD, (d, c)


def test_containment_replay_is_idempotent(spark):
    from kafka_overwatch_spark.pipelines.dedup import shingle_docs
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingContainmentScreen,
        init_containment_index,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 300)
    batch = docs.filter(F.col("doc_id") >= 300)
    with tempfile.TemporaryDirectory() as tmp:
        init_containment_index(spark, shingle_docs(corpus), f"{tmp}/idx")
        screen = GrowingContainmentScreen(f"{tmp}/idx", f"{tmp}/q")
        screen(batch, 0)

        def state():
            out = []
            for name in ("shingles", "postings", "freq"):
                rows = spark.read.parquet(f"{tmp}/idx/{name}").collect()
                out.append(sorted(repr(sorted(r.asDict().items())) for r in rows))
            return out

        first = state()
        screen(batch, 0)  # replay
        assert state() == first
