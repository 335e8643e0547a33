"""The persisted-index layout of the streaming screens and monitors
(streaming/state.py): a static seed at batch_id = -1, reads pruned to
batch_id < N, and a dynamic-overwrite append of batch N."""

from __future__ import annotations


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "batch_id").collect())


def test_seed_read_replay_and_reseed(spark, tmp_path):
    from kafka_overwatch_spark.streaming.state import (
        read_index,
        seed_index,
        write_batch,
    )

    path = str(tmp_path / "index")

    def frame(*keys):
        return spark.createDataFrame([(k,) for k in keys], "k string")

    seed_index(frame("s1", "s2"), path)
    write_batch(frame("b0"), path, 0)
    write_batch(frame("b1", "b1x"), path, 1)
    assert _rows(read_index(spark, path, 1)) == [
        ("b0", 0),
        ("s1", -1),
        ("s2", -1),
    ]

    # a replayed batch replaces its own partition, never duplicates it
    write_batch(frame("b1"), path, 1)
    assert _rows(read_index(spark, path, 2)) == [
        ("b0", 0),
        ("b1", 1),
        ("s1", -1),
        ("s2", -1),
    ]

    # re-seeding starts a new run: every batch partition is gone
    seed_index(frame("t1"), path)
    assert _rows(spark.read.parquet(path)) == [("t1", -1)]
