"""sf0.1 → sf1 scale probe (VERDICT r10 next #3): time the headline 25,
the iterative graph family, and one growing-screen run at 1x and 10x of
the bench scale (data from scripts/gen_scaledata.py — run that first),
and record per-query wall ratios. A ratio ≤ ~10 for a 10x input is
linear-or-better; super-linear entries are the re-plan worklist.

Writes SCALE_PROBE_r11.json at the repo root (committed; SCALE.md
summarizes it). Usage:

    python scripts/scale_probe.py [--passes 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

GRAPH_FAMILY = [
    "graph_pagerank",
    "graph_kcore_bounded",
    "graph_label_propagation",
    "graph_clustering",
    "graph_local_clustering",
    "graph_link_prediction",
    "graph_part_degree",
    "graph_association_rules",
]

# the heaviest non-graph pipeline plans (bench_detail r10 top entries):
# their exponents matter most after the iterative family
HEAVY_PIPELINE = [
    "emb_density_cores_lsh",
    "emb_kcenter_coreset",
    "text_ngram_novelty",
    "dedup_containment",
    "text_line_dedup",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_queries(spark, registry, sf_dir: str, names, passes: int):
    queries = registry.spark_queries()
    out: dict[str, float] = {}
    errors: dict[str, str] = {}
    samples: dict[str, list[float]] = {n: [] for n in names}
    for p in range(passes):
        for name in names:
            if name in errors:
                continue
            t0 = time.time()
            try:
                force(queries[name](spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 — record, keep going
                errors[name] = f"{type(exc).__name__}: {exc}"
                continue
            dt = round(time.time() - t0, 3)
            samples[name].append(dt)
            print(f"  probe p{p} {name}: {dt}s", file=sys.stderr)
    for name, vals in samples.items():
        if vals:
            # min = steady state; pass 0 carries plan compile + scans
            out[name] = min(vals[1:] if len(vals) >= 2 else vals)
    return out, errors


def growing_screen(spark, sf_dir: str, batches: int = 4):
    from pyspark.sql import functions as F

    from kafka_overwatch_spark.pipelines.dedup import shingle_docs
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingDedupScreen,
        init_growing_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seed = docs.filter(F.col("doc_id") % (batches + 1) == 0)
    tmp = tempfile.mkdtemp(prefix="scale_probe_growing_")
    per_batch = []
    try:
        init_growing_index(spark, shingle_docs(seed), f"{tmp}/index")
        screen = GrowingDedupScreen(f"{tmp}/index")
        for i in range(batches):
            batch = docs.filter(F.col("doc_id") % (batches + 1) == i + 1)
            t0 = time.time()
            screen(batch, i)
            per_batch.append(round(time.time() - t0, 3))
            print(
                f"  probe growing b{i}: {per_batch[-1]}s", file=sys.stderr
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return per_batch


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    import bench  # HEADLINE list + host-load helpers
    from kafka_overwatch_spark import registry
    from kafka_overwatch_spark.session import get_spark, warm_python_workers

    spark = get_spark("kafka-overwatch-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)

    names = bench.HEADLINE + GRAPH_FAMILY + HEAVY_PIPELINE
    result: dict = {"passes": args.passes, "tiers": {}}
    for tier, sf_dir in (
        ("gen0.1", str(REPO / "scaledata/gen0.1")),
        ("gen1", str(REPO / "scaledata/gen1")),
    ):
        print(f"== tier {tier} ({sf_dir})", file=sys.stderr)
        load = bench.settle_host()
        t0 = time.time()
        snaps = registry.get_snaps(spark, sf_dir)
        for df in snaps.values():
            force(df)
        setup = round(time.time() - t0, 3)
        timed, errors = time_queries(
            spark, registry, sf_dir, names, args.passes
        )
        growing = growing_screen(spark, sf_dir)
        result["tiers"][tier] = {
            "sf_dir": sf_dir,
            "setup_sec": setup,
            "queries": timed,
            "errors": errors,
            "growing_per_batch": growing,
            "host_load": load,
        }

    lo = result["tiers"]["gen0.1"]["queries"]
    hi = result["tiers"]["gen1"]["queries"]
    result["ratios"] = {
        n: round(hi[n] / lo[n], 2)
        for n in sorted(lo)
        if n in hi and lo[n] > 0
    }
    out = REPO / "SCALE_PROBE_r11.json"
    out.write_text(json.dumps(result, indent=1))
    print(json.dumps({"written": str(out), "ratios": result["ratios"]}))


if __name__ == "__main__":
    main()
