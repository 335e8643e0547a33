"""r10: streaming novelty-collapse monitor — readStream → foreachBatch
with availableNow + checkpoint replay (the ingest-gate harness shape),
plus the collapse-alert semantics on a templated flood."""

from __future__ import annotations


def _write_docs(spark, path, texts, start_id):
    (
        spark.createDataFrame(
            [
                (start_id + i, t, "en", "s", len(t))
                for i, t in enumerate(texts)
            ],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(path)
    )


UNIQ1 = "alpha beta gamma delta epsilon zeta eta theta"
UNIQ2 = "one two three four five six seven eight nine"
TEMPLATE = "buy cheap widgets now visit our store today please"


def test_novelty_monitor_readstream_replay_and_collapse(spark, tmp_path):
    from kafka_overwatch_spark.streaming.documents_stream import (
        NoveltyMonitor,
        init_novelty_index,
    )
    from kafka_overwatch_spark.streaming.state import file_stream, run

    in_dir = str(tmp_path / "in")
    base = str(tmp_path / "idx")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    seed = spark.createDataFrame(
        [(1000, TEMPLATE, "en", "s", len(TEMPLATE))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    init_novelty_index(spark, seed, base)

    # batch 0: genuinely novel text; batch 1: the seed template
    # verbatim (novelty 0 → alert)
    _write_docs(spark, in_dir, [UNIQ1, UNIQ2], 0)
    _write_docs(spark, in_dir, [TEMPLATE, TEMPLATE], 100)
    run(NoveltyMonitor(base, out_dir), file_stream(spark, in_dir), ckpt)

    rel = {
        r["batch_id"]: r for r in spark.read.parquet(out_dir).collect()
    }
    assert set(rel) == {0, 1}
    b0, b1 = rel[0], rel[1]
    assert b0["novelty_rate"] == 1.0 and not b0["alert"]
    # batch 1 is the seed template verbatim: zero novel grams
    assert b1["novel_grams"] == 0
    assert b1["novelty_rate"] == 0.0 and b1["alert"]

    # replay with nothing new: byte-stable releases AND index
    before = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    idx_before = sorted(
        r["g"] for r in spark.read.parquet(f"{base}/grams").collect()
    )
    run(NoveltyMonitor(base, out_dir), file_stream(spark, in_dir), ckpt)
    after = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    idx_after = sorted(
        r["g"] for r in spark.read.parquet(f"{base}/grams").collect()
    )
    assert before == after and idx_before == idx_after

    # batch 2 repeats batch 0's text: all grams now in the index
    _write_docs(spark, in_dir, [UNIQ1], 200)
    run(NoveltyMonitor(base, out_dir), file_stream(spark, in_dir), ckpt)
    rel2 = {
        r["batch_id"]: r for r in spark.read.parquet(out_dir).collect()
    }
    assert rel2[2]["novelty_rate"] == 0.0 and rel2[2]["alert"]
