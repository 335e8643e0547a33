"""Streaming per-source A-ES reservoir: the final reservoir after
draining a micro-batched feed must equal the batch per-source top-k on
the full corpus (A-ES top-k is mergeable, so batching is invisible),
and a half-feed run must equal the batch answer on the half corpus
(state actually carries)."""

from __future__ import annotations

import hashlib
import tempfile

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _py_reservoir(rows, k=5):
    out = {}
    for r in rows:
        h = int(
            hashlib.md5(f"aes-v1:{r['doc_id']}".encode()).hexdigest()[:15], 16
        )
        u = (h + 1) / float(2**60)
        key = u ** (1.0 / max(r["n_chars"], 1))
        out.setdefault(r["source"], []).append((key, r["doc_id"]))
    return {
        s: [d for _, d in sorted(v, key=lambda t: (-t[0], t[1]))[:k]]
        for s, v in out.items()
    }


def _drain(spark, input_dir, out_dir, checkpoint, k):
    from kafka_overwatch_spark.streaming.documents_stream import (
        streaming_weighted_sample,
    )
    from kafka_overwatch_spark.streaming.state import file_stream

    res = streaming_weighted_sample(file_stream(spark, input_dir), k=k)

    def sink(batch_df, batch_id):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        res.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)


def test_streaming_reservoir_equals_batch_topk(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "n_chars", "lang", "source"
    )
    k = 5
    with tempfile.TemporaryDirectory() as tmp:
        # three arrival files -> three triggers (maxFilesPerTrigger=1);
        # plain files in one dir, strictly increasing mtimes (same
        # staging as test_streaming_growing_dedup)
        import glob
        import os
        import shutil

        os.makedirs(f"{tmp}/feed")
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/in/b{i}")
            src = glob.glob(f"{tmp}/in/b{i}/part-*.parquet")[0]
            dst = f"{tmp}/feed/{i:04d}.parquet"
            shutil.copy(src, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        _drain(spark, f"{tmp}/feed", f"{tmp}/out", f"{tmp}/ck", k)
        out = spark.read.parquet(f"{tmp}/out")
        last = out.groupBy("source").agg(F.max("batch_id").alias("batch_id"))
        final = out.join(last, ["source", "batch_id"])
        got = {
            s: sorted(
                r["doc_id"]
                for r in final.filter(F.col("source") == s).collect()
            )
            for s in [x["source"] for x in final.select("source").distinct().collect()]
        }
    want = {
        s: sorted(v)
        for s, v in _py_reservoir(
            docs.select("doc_id", "n_chars", "source").collect(), k
        ).items()
    }
    assert got == want and len(got) > 1
