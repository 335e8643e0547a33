"""r11: streaming per-source keyness-drift monitor (VERDICT r10 next
#7) — readStream → foreachBatch with availableNow + checkpoint replay
(the ingest-gate harness shape), alert semantics on a vocabulary
shift, and release == batch-twin equivalence."""

from __future__ import annotations

DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

BASE = "the quick brown fox jumps over lazy dog"
SPAM = "buy cheap pills casino bonus now"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows], DOC_SCHEMA
    )


def _write_docs(spark, path, rows):
    _docs(spark, rows).coalesce(1).write.mode("append").parquet(path)


def test_keyness_monitor_readstream_replay_and_alert(spark, tmp_path):
    from kafka_overwatch_spark.streaming.documents_stream import (
        KeynessDriftMonitor,
        init_keyness_index,
    )
    from kafka_overwatch_spark.streaming.state import file_stream, run

    in_dir = str(tmp_path / "in")
    base = str(tmp_path / "idx")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    seed = _docs(
        spark, [(1000 + i, BASE, "s") for i in range(20)]
    )
    init_keyness_index(spark, seed, base)

    # batch 0: same vocabulary at the same proportions — every batch
    # token's expected count equals its observed count, so G2 == 0
    # exactly; batch 1: a spam flood of never-seen tokens — G2 large
    _write_docs(spark, in_dir, [(i, BASE, "s") for i in range(5)])
    _write_docs(
        spark, in_dir, [(100 + i, SPAM, "s") for i in range(10)]
    )
    run(KeynessDriftMonitor(base, out_dir), file_stream(spark, in_dir), ckpt)

    rel = {
        r["batch_id"]: r for r in spark.read.parquet(out_dir).collect()
    }
    assert set(rel) == {0, 1}
    assert rel[0]["g2_total"] == 0.0 and not rel[0]["alert"]
    assert rel[1]["alert"] and rel[1]["g2_total"] > 0
    assert rel[1]["top_token"] in SPAM.split()
    assert rel[1]["n_lifetime_tokens"] > 0

    # replay with nothing new: byte-stable releases AND index
    before = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    idx_before = sorted(
        map(tuple, spark.read.parquet(f"{base}/counts").collect())
    )
    run(KeynessDriftMonitor(base, out_dir), file_stream(spark, in_dir), ckpt)
    after = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    idx_after = sorted(
        map(tuple, spark.read.parquet(f"{base}/counts").collect())
    )
    assert before == after and idx_before == idx_after

    # batch 2 repeats the spam: its tokens are lifetime vocabulary now
    # (counts merged from batch 1), so the drift statistic collapses
    # from batch 1's level — the index demonstrably grew
    _write_docs(
        spark, in_dir, [(300 + i, SPAM, "s") for i in range(10)]
    )
    run(KeynessDriftMonitor(base, out_dir), file_stream(spark, in_dir), ckpt)
    rel2 = {
        r["batch_id"]: r for r in spark.read.parquet(out_dir).collect()
    }
    assert rel2[2]["g2_total"] < rel2[1]["g2_total"]
    assert rel2[2]["n_lifetime_tokens"] > rel2[1]["n_lifetime_tokens"]


def test_keyness_monitor_release_equals_batch_twin(spark, tmp_path):
    """The monitor's batch-0 release must equal keyness_drift applied
    to the same (batch, lifetime) counts directly — the streaming
    harness adds transport, not arithmetic (the arithmetic itself is
    gated by the text_keyness_drift oracle)."""
    from kafka_overwatch_spark.pipelines.text import (
        keyness_drift,
        source_token_counts,
    )
    from kafka_overwatch_spark.streaming.documents_stream import (
        KeynessDriftMonitor,
        init_keyness_index,
    )
    from kafka_overwatch_spark.streaming.state import file_stream, run

    in_dir = str(tmp_path / "in")
    base = str(tmp_path / "idx")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    seed = _docs(
        spark,
        [(1000 + i, BASE, "s") for i in range(10)]
        + [(2000 + i, SPAM + " extra words here", "t") for i in range(8)],
    )
    batch = [(i, BASE + " drifted tokens appended", "s") for i in range(6)]
    init_keyness_index(spark, seed, base)
    _write_docs(spark, in_dir, batch)
    run(KeynessDriftMonitor(base, out_dir), file_stream(spark, in_dir), ckpt)

    got = sorted(
        map(
            tuple,
            spark.read.parquet(out_dir).drop("batch_id").collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            keyness_drift(
                source_token_counts(_docs(spark, batch)),
                source_token_counts(seed),
            ).collect(),
        )
    )
    assert got == want
    assert len(got) > 0
