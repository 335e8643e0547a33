"""Streaming DSIR screen: verdicts over a micro-batched feed scored
against the persisted LM must equal the batch dsir_weights on the same
docs (the screen is stateless, so batching must be invisible), with
keep = log_ratio ≥ tau."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_streaming_dsir_screen_equals_batch_scores(spark):
    from kafka_overwatch_spark.pipelines.sampling import dsir_weights
    from kafka_overwatch_spark.streaming.documents_stream import (
        DsirScreen,
        write_dsir_lm,
    )
    from kafka_overwatch_spark.streaming.state import file_stream, run

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "n_chars", "lang", "source"
    )
    tau = -60.0
    with tempfile.TemporaryDirectory() as tmp:
        write_dsir_lm(spark, docs, f"{tmp}/model")
        os.makedirs(f"{tmp}/feed")
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/in/b{i}")
            src = glob.glob(f"{tmp}/in/b{i}/part-*.parquet")[0]
            dst = f"{tmp}/feed/{i:04d}.parquet"
            shutil.copy(src, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        run(
            DsirScreen(
                spark.read.parquet(f"{tmp}/model/dsir_lm"),
                f"{tmp}/out",
                tau,
            ),
            file_stream(spark, f"{tmp}/feed"),
            f"{tmp}/ck",
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["log_ratio"], r["keep"])
            for r in spark.read.parquet(f"{tmp}/out").collect()
        }
    want = {
        r["doc_id"]: (
            r["n_tokens"],
            r["log_ratio"],
            r["log_ratio"] >= tau,
        )
        for r in dsir_weights(docs).collect()
    }
    assert got == want and len(got) == 500
    # tau actually separates: both verdicts occur
    keeps = {v[2] for v in got.values()}
    assert keeps == {True, False}
