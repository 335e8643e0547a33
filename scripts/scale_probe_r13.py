"""r13 scale probe (VERDICT r12 next #3 + #7): gen1 → gen10 rows for
the families the r12 probe skipped (text_line_dedup, emb_split_leakage,
both growing screens at a realistic batch:index shape) plus the r13
re-planned/re-gated queries (graph_modularity's single-edge-pass
scoring, graph_components_star_bounded, the 3-rung dedup_containment),
with MEMO-HONEST timings: every query is timed COLD (algorithmic
session memos cleared via registry.clear_session_memos — the r12
probe's LPA row read as free because modularity had warmed the label
frame) and the memoized queries are timed again WARM, so each row says
which cost it measures. The co-purchase edge table stays warm across
rows: it is a persisted input at 100 TB (see get_copurchase_edges), so
it is materialized in tier setup like the snapshot tables.

Data comes from scripts/gen_scaledata.py (gen1 + gen10:100 tiers).
Writes SCALE_PROBE_r13.json at the repo root. Usage:

    python scripts/scale_probe_r13.py
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# cold-timed everywhere; the ones with session memos are also re-timed
# warm so the memo's value is a measured row, not an accident
TARGETS = [
    "graph_label_propagation",
    "graph_modularity",
    "graph_components_star_bounded",
    "graph_components_bounded",
    "dedup_containment",
    "dedup_embedding_cosine",
    "emb_split_leakage",
    "text_line_dedup",
]
WARM_ALSO = {
    "graph_label_propagation",
    "graph_modularity",
    "dedup_containment",
    "dedup_embedding_cosine",
    "emb_split_leakage",
}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def growing_screens(spark, sf_dir: str, batches: int = 4):
    """Both ingest screens at a realistic batch:index shape: ~90% of
    the corpus seeds the persisted index, each streamed batch is ~2.5%
    (micro-batch vs corpus — the production ratio, unlike the r11
    probe's 20%-sized batches). The containment index is seeded at the
    DENSITY-ADAPTIVE shingle width (the batch family's K rule): the
    static-K=3 screen on the closed-vocab gen10 corpus measured a
    candidate-join spill past 80 GB — the screen inherits the same
    escalation lever via the index meta (r13)."""
    from pyspark.sql import functions as F

    from kafka_overwatch_spark.pipelines.dedup import (
        choose_containment_k,
        shingle_docs,
    )
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingContainmentScreen,
        GrowingDedupScreen,
        init_containment_index,
        init_growing_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mod = F.col("doc_id") % 40
    seed = docs.filter(mod >= batches)  # 36/40 = 90%
    k = choose_containment_k(shingle_docs(seed), seed)
    print(f"  screen containment shingle_k={k}", file=sys.stderr)
    out: dict[str, dict] = {"containment_shingle_k": k}
    for label, init_kwargs, seed_k, screen_cls in (
        ("jaccard", {}, None, GrowingDedupScreen),
        (
            "containment",
            {"shingle_k": k},
            k,
            GrowingContainmentScreen,
        ),
    ):
        tmp = tempfile.mkdtemp(prefix=f"scale_probe_r13_{label}_")
        per_batch = []
        try:
            t0 = time.time()
            seed_sh = (
                shingle_docs(seed)
                if seed_k is None
                else shingle_docs(seed, seed_k)
            )
            if label == "jaccard":
                init_growing_index(spark, seed_sh, f"{tmp}/index")
            else:
                init_containment_index(
                    spark, seed_sh, f"{tmp}/index", **init_kwargs
                )
            seed_sec = round(time.time() - t0, 3)
            screen = (
                screen_cls(f"{tmp}/index")
                if screen_cls is GrowingDedupScreen
                else screen_cls(f"{tmp}/index", f"{tmp}/out")
            )
            for i in range(batches):
                batch = docs.filter(mod == i)
                t0 = time.time()
                screen(batch, i)
                per_batch.append(round(time.time() - t0, 3))
                print(
                    f"  screen {label} b{i}: {per_batch[-1]}s",
                    file=sys.stderr,
                )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        out[label] = {"seed_sec": seed_sec, "per_batch": per_batch}
    return out


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    # local[32] shares ONE heap across 32 task slots (the r12 lesson:
    # the 8g default OOM'd pagerank's per-round aggregate at gen10)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "64g")

    import bench  # host-load helper
    from kafka_overwatch_spark import registry
    from kafka_overwatch_spark.session import get_spark, warm_python_workers

    spark = get_spark("kafka-overwatch-scale-probe-r13")
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    queries = registry.spark_queries()

    result: dict = {"tiers": {}}
    for tier in ("gen1", "gen10"):
        sf_dir = str(REPO / "scaledata" / tier)
        print(f"== tier {tier} ({sf_dir})", file=sys.stderr)
        load = bench.settle_host()
        t0 = time.time()
        for df in registry.get_snaps(spark, sf_dir).values():
            force(df)
        # the co-purchase edge table is a persisted input at 100 TB
        # (the ingest pipeline maintains it) — materialize it in setup
        # like the snapshot tables, so graph rows measure their own
        # algorithm, not a shared table derive no production run pays
        force(registry.get_copurchase_edges(spark, sf_dir))
        setup = round(time.time() - t0, 3)
        rows: dict[str, dict] = {}
        errors: dict[str, str] = {}
        for name in TARGETS:
            was_warm = registry.clear_session_memos(
                spark, keep={"edges"}
            )
            force(registry.get_copurchase_edges(spark, sf_dir))
            row: dict = {"memos_evicted_before_cold": was_warm}
            try:
                t0 = time.time()
                force(queries[name](spark, sf_dir))
                row["cold"] = round(time.time() - t0, 3)
                if name in WARM_ALSO:
                    t0 = time.time()
                    force(queries[name](spark, sf_dir))
                    row["warm"] = round(time.time() - t0, 3)
            except Exception as exc:  # noqa: BLE001 — record, keep going
                errors[name] = f"{type(exc).__name__}: {exc}"
                continue
            rows[name] = row
            print(f"  probe {name}: {row}", file=sys.stderr)
            # drop python references to the evicted frames NOW so the
            # ContextCleaner reclaims their localCheckpoint blocks —
            # a full two-tier cold sweep otherwise accumulates tens of
            # GB of dead checkpoint shuffle files in /tmp (the first
            # r13 run filled the disk at the final gen10 screen)
            gc.collect()
        screens = growing_screens(spark, sf_dir)
        result["tiers"][tier] = {
            "sf_dir": sf_dir,
            "setup_sec": setup,
            "queries": rows,
            "errors": errors,
            "growing_screens": screens,
            "host_load": load,
        }

    lo = result["tiers"]["gen1"]["queries"]
    hi = result["tiers"]["gen10"]["queries"]
    result["cold_ratios_gen1_to_gen10"] = {
        n: round(hi[n]["cold"] / lo[n]["cold"], 2)
        for n in sorted(lo)
        if n in hi and lo[n].get("cold", 0) > 0 and "cold" in hi[n]
    }
    out = REPO / "SCALE_PROBE_r13.json"
    out.write_text(json.dumps(result, indent=1))
    print(
        json.dumps(
            {
                "written": str(out),
                "cold_ratios": result["cold_ratios_gen1_to_gen10"],
            }
        )
    )


if __name__ == "__main__":
    main()
