"""The one monitor runtime in streaming/state.py: ``run`` hands each
micro-batch of a file feed to a foreachBatch handler and drains; a
drained query's progress is the per-batch record; a drain that does not
finish in time stops its query and fails loudly."""

from __future__ import annotations

import glob
import os
import re
import shutil
import time

import pytest

DOC_COLS = "doc_id long, text string, lang string, source string, n_chars int"


def _write_feed(spark, tmp_path, sizes):
    """One parquet file per batch, ``sizes[i]`` documents in file i, with
    strictly increasing mtimes so arrival order is list order (the file
    source orders by modification time; same-second writes tie)."""
    feed = tmp_path / "feed"
    feed.mkdir()
    next_id = 0
    for i, n in enumerate(sizes):
        rows = [
            (k, f"document {k} has ordinary words", "en", "web", 32)
            for k in range(next_id, next_id + n)
        ]
        next_id += n
        spark.createDataFrame(rows, DOC_COLS).coalesce(1).write.parquet(
            str(tmp_path / f"b{i}")
        )
        src = glob.glob(str(tmp_path / f"b{i}" / "part-*.parquet"))[0]
        dst = str(feed / f"{i:04d}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return str(feed)


def test_run_progress_is_one_record_per_batch(spark, tmp_path):
    """The per-batch record needs no observe and no extra job: the
    drained query's progress holds one entry per file, in arrival order,
    with that file's row count."""
    from kafka_overwatch_spark.streaming.documents_stream import (
        QualityDriftMonitor,
    )
    from kafka_overwatch_spark.streaming.state import file_stream, run

    sizes = [3, 5, 4]
    feed = _write_feed(spark, tmp_path, sizes)
    q = run(
        QualityDriftMonitor(str(tmp_path / "out")),
        file_stream(spark, feed),
        str(tmp_path / "ck"),
    )
    assert [(p.batchId, p.numInputRows) for p in q.recentProgress] == [
        (i, n) for i, n in enumerate(sizes)
    ]


def test_drain_timeout_stops_query_and_names_checkpoint(
    spark, tmp_path, monkeypatch
):
    from kafka_overwatch_spark.streaming import state

    monkeypatch.setattr(state, "DRAIN_TIMEOUT_S", 1)
    feed = _write_feed(spark, tmp_path, [2])
    ck = str(tmp_path / "ck")

    def slow_handler(batch_df, batch_id):
        if batch_id == 0:
            time.sleep(3)

    with pytest.raises(TimeoutError, match=re.escape(ck)):
        state.run(slow_handler, state.file_stream(spark, feed), ck)
    assert spark.streams.active == []
