"""Round-15 optimization tests: the unsigned unpack fix (ADVICE r14
#1), the incremental k-truss support maintenance (VERDICT r14 next #3),
and the auto wedge-budget mode (VERDICT r14 next #6)."""

from __future__ import annotations

import itertools

import pytest

from tests.test_r13_operators import EDGE_SCHEMA_KT, _python_ktruss


def test_ktruss_large_ids_unpack_unsigned(spark):
    """Ids in [2^31, 2^32) pack to NEGATIVE longs; the arithmetic
    shiftright sign-extended the unpack, so support rows failed to
    join back and whole cliques were silently peeled in round 1
    (ADVICE r14 #1). The guard admits these ids, so the peel must be
    correct for them — checked against the python reference on a K5
    whose every vertex id has the top bit of the low word set."""
    from kafka_overwatch_spark.operators.graph import ktruss_bounded

    base = 2**31 + 5
    k5 = list(itertools.combinations(range(base, base + 5), 2))
    edges = k5 + [(base, 2**32 - 2)]  # pendant at the very top of range
    df = spark.createDataFrame(edges, EDGE_SCHEMA_KT)
    got = {
        (r.part_a, r.part_b): r.support
        for r in ktruss_bounded(None, k=5, edges=df).collect()
    }
    want = _python_ktruss(edges, 5)
    assert got == want
    assert set(got) == set(k5) and all(v == 3 for v in got.values())


def test_triangles_packed_closure_large_ids(spark):
    """The packed-closure enumeration must unpack ids ≥ 2^31 unsigned
    too — same triangle set as the two-column closure."""
    from kafka_overwatch_spark.operators.graph import triangles

    base = 2**31 + 1
    k4 = list(itertools.combinations(range(base, base + 4), 2))
    df = spark.createDataFrame(k4, EDGE_SCHEMA_KT)
    plain = {
        tuple(sorted((r.a, r.b, r.c)))
        for r in triangles(None, edges=df).collect()
    }
    packed = {
        tuple(sorted((r.a, r.b, r.c)))
        for r in triangles(None, edges=df, packed_closure=True).collect()
    }
    assert plain == packed and len(plain) == 4
    assert all(v >= base for t in packed for v in t)


def test_ktruss_incremental_support_matches_reenumeration(spark):
    """The r15 peel maintains per-edge support by SUBTRACTING the
    dropped triangles' credits instead of re-aggregating the full
    incidence frame each round. On a graph that (a) cascades over
    several rounds and (b) keeps survivors whose support DECREMENTS
    mid-peel (the K6 edge (1,2) loses the {1,2,7} triangle when the
    gadget peels), the maintained result must equal both the
    per-round-re-enumeration path and the python reference."""
    from kafka_overwatch_spark.operators.graph import ktruss_bounded

    k6 = list(itertools.combinations(range(1, 7), 2))
    gadget = [(1, 7), (2, 7)]  # triangle {1,2,7}: peels, decrements (1,2)
    strip = [(i, i + 1) for i in range(20, 26)] + [
        (i, i + 2) for i in range(20, 25)
    ]  # erodes from both ends over several rounds under need=2
    edges = k6 + gadget + strip
    df = spark.createDataFrame(edges, EDGE_SCHEMA_KT)
    want = _python_ktruss(edges, 4)
    incremental = {
        (r.part_a, r.part_b): r.support
        for r in ktruss_bounded(None, k=4, edges=df).collect()
    }
    # a huge explicit budget forces the non-reuse path: full triangle
    # re-enumeration + re-aggregation every round (splits stays 1)
    reenumerated = {
        (r.part_a, r.part_b): r.support
        for r in ktruss_bounded(
            None, k=4, edges=df, wedge_budget=10**9
        ).collect()
    }
    assert incremental == reenumerated == want
    assert incremental[(1, 2)] == 4  # decremented from 5 when 7 peeled
    assert set(incremental) == set(k6)


def test_screen_lazy_frames_materialize_within_batch(spark):
    """ADVICE r14 #3 made structural: the growing screens' lazy
    localCheckpoints are only safe because every pinned frame is
    consumed by an action before the batch returns. Drive one batch of
    each screen from a TEMP parquet, DELETE the input after __call__,
    then read every output fully and account for every batch doc — a
    frame that escaped materialization would have to recompute from
    the deleted input (or a deferred write would leave docs missing),
    failing the accounting."""
    import shutil
    import tempfile

    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from kafka_overwatch_spark.pipelines.dedup import shingle_docs
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingContainmentScreen,
        GrowingDedupScreen,
        GrowingSemanticScreen,
        init_containment_index,
        init_growing_index,
        init_semantic_index,
    )
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    seed = docs.filter(F.col("doc_id") % 5 == 0)
    batch_src = docs.filter(F.col("doc_id") % 5 == 1)

    def run(label, init_fn, init_arg, screen_factory, read_kept):
        tmp = tempfile.mkdtemp(prefix=f"r15_inv_{label}_")
        try:
            init_fn(spark, init_arg, f"{tmp}/index")
            batch_src.write.mode("overwrite").parquet(f"{tmp}/in")
            batch = spark.read.parquet(f"{tmp}/in")
            expected = {
                r.doc_id
                for r in shingle_docs(batch).select("doc_id").collect()
            } if label != "semantic" else {
                r.doc_id for r in batch.select("doc_id").collect()
            }
            screen = screen_factory(f"{tmp}/index", f"{tmp}/out")
            screen(batch, 0)
            shutil.rmtree(f"{tmp}/in")  # sever the batch input
            kept = read_kept(tmp)
            try:
                rejected = {
                    r.doc_id
                    for r in spark.read.parquet(f"{tmp}/out")
                    .filter(F.col("batch_id") == 0)
                    .collect()
                } if label != "dedup" else {
                    r.doc_id
                    for r in spark.read.parquet(f"{tmp}/index/store")
                    .filter(
                        (F.col("kind") == "rejected")
                        & (F.col("batch_id") == 0)
                    )
                    .collect()
                }
            except AnalysisException:
                # an all-survivors batch writes an EMPTY verdict frame
                # (no part files → schema can't infer): nothing rejected
                rejected = set()
            assert kept | rejected == expected, label
            assert not (kept & rejected), label
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    run(
        "dedup",
        init_growing_index,
        shingle_docs(seed),
        lambda index, out: GrowingDedupScreen(index),
        lambda tmp: {
            r.doc_id
            for r in spark.read.parquet(f"{tmp}/index/store")
            .filter(
                (F.col("kind") == "shingles") & (F.col("batch_id") == 0)
            )
            .collect()
        },
    )
    run(
        "semantic",
        init_semantic_index,
        seed,
        GrowingSemanticScreen,
        lambda tmp: {
            r.vec_id
            for r in spark.read.parquet(f"{tmp}/index/embeddings")
            .filter(F.col("batch_id") == 0)
            .collect()
        },
    )
    run(
        "containment",
        init_containment_index,
        shingle_docs(seed),
        GrowingContainmentScreen,
        lambda tmp: {
            r.doc_id
            for r in spark.read.parquet(f"{tmp}/index/shingles")
            .filter(F.col("batch_id") == 0)
            .collect()
        },
    )


def test_ktruss_wedge_budget_auto(spark, monkeypatch):
    """The default budget mode is 'auto': measure the round-0 wedge
    mass and choose. Under a tiny $SPARK_GRAFT_WEDGE_BUDGET the
    default call must engage the decomposed path (observable: the
    >64-sub-jobs guard fires on K10's 120-wedge mass at budget 1,
    and at budget 3 the decomposed result still matches the python
    peel); with the default headroom the same call takes the
    triangle-reuse path and matches too."""
    from kafka_overwatch_spark.operators.graph import ktruss_bounded

    k10 = list(itertools.combinations(range(1, 11), 2))
    df10 = spark.createDataFrame(k10, EDGE_SCHEMA_KT)
    monkeypatch.setenv("SPARK_GRAFT_WEDGE_BUDGET", "1")
    with pytest.raises(RuntimeError, match="sub-jobs"):
        ktruss_bounded(None, k=5, edges=df10).collect()
    monkeypatch.setenv("SPARK_GRAFT_WEDGE_BUDGET", "3")
    got_split = {
        (r.part_a, r.part_b): r.support
        for r in ktruss_bounded(None, k=5, edges=df10).collect()
    }
    monkeypatch.delenv("SPARK_GRAFT_WEDGE_BUDGET")
    got_reuse = {
        (r.part_a, r.part_b): r.support
        for r in ktruss_bounded(None, k=5, edges=df10).collect()
    }
    assert got_split == got_reuse == _python_ktruss(k10, 5)


def test_gram_lambdas_slice_projected_tokens(spark):
    """r15 guide §4.1 sweep: an outer expression captured inside a
    higher-order-function lambda is re-evaluated on EVERY lambda
    invocation, so `slice(split(regexp_replace(text)), i, n)` re-ran
    the whole tokenize chain once per gram slot — O(tokens²) token
    work per document (text_repetition measured 3–51 s at sf0.1;
    2–7 s with the token array projected first). Pin the fix
    structurally: in every gram/shingle query plan the slice must read
    the PROJECTED token attribute, never an inline split chain."""
    from tests.conftest import SF_DIR

    from kafka_overwatch_spark import registry

    sq = registry.spark_queries()
    for qname in (
        "text_repetition",
        "text_typicality",
        "text_ngram_freq",
        "text_fingerprints",
        "doc_chunks",
    ):
        plan = sq[qname](spark, SF_DIR)._jdf.queryExecution().toString()
        assert "slice(split(" not in plan, (
            f"{qname}: a gram lambda captures the un-projected token "
            "expression (re-evaluated per gram slot — guide §4.1)"
        )
