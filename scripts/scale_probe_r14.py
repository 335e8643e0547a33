"""r14 scale probe (VERDICT r13 next #2/#3/#4): gen1 → gen10 rows for
the shapes r13 left unmeasured or re-planned this round —

- ``ktruss``: graph_ktruss_bounded cold at both tiers (the only r13
  operator with no 100× row; per-round triangle enumeration at 119.6M
  edges is the riskiest unmeasured shape in the repo) + the new
  graph_rich_club. Records the derived peel threshold and fixpoint
  edge count next to the wall time so the k-derivation is auditable.
- ``screens``: the growing containment screen before/after the batch
  levers (exact probe-semi-join postings, probe-pruned freq) at the
  realistic 90:2.5 index:batch shape — the r13 protocol.
- ``emb``: stage-timed warm decomposition of dedup_embedding_cosine /
  emb_split_leakage (which stage grows 7.3×/8.6× per decade while the
  cold path sits at 2.3–2.5×).

Usage: python scripts/scale_probe_r14.py [ktruss|screens|emb] [tiers]
Results merge into SCALE_PROBE_r14.json (one file, incremental keys).
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

OUT = REPO / "SCALE_PROBE_r14.json"


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def merge_write(section: str, tier: str, payload: dict) -> None:
    data = json.loads(OUT.read_text()) if OUT.exists() else {}
    data.setdefault(section, {})[tier] = payload
    OUT.write_text(json.dumps(data, indent=1))
    print(f"  wrote {section}.{tier} -> {OUT}", file=sys.stderr)


def tier_setup(spark, registry, sf_dir: str) -> float:
    t0 = time.time()
    for df in registry.get_snaps(spark, sf_dir).values():
        force(df)
    force(registry.get_copurchase_edges(spark, sf_dir))
    return round(time.time() - t0, 3)


def probe_ktruss(spark, registry, bench, tiers) -> None:
    """The graph-family 100× protocol, density-aware: every tier
    records the MEASURED oriented wedge-candidate mass (two histogram
    aggregates — the exact row count the round-0 support pass
    shuffles) next to the wall time, and tiers whose mass exceeds the
    local spill budget run the ktruss under the wedge_budget guard so
    the row is a loud measured RAISE instead of a disk-fill (the first
    r14 attempt spilled >76 GB at gen10 and was killed — candidates
    are 4.11B there, linear per decade but past one box's disk)."""
    from pyspark.sql import functions as F

    from kafka_overwatch_spark.operators import graph

    # one box's spill headroom: past this the support shuffle dies by
    # disk, so the guard converts it to a measured raise
    LOCAL_WEDGE_BUDGET = 1_500_000_000

    queries = registry.spark_queries()
    for tier in tiers:
        sf_dir = str(REPO / "scaledata" / tier)
        load = bench.settle_host()
        setup = tier_setup(spark, registry, sf_dir)
        rows: dict = {"setup_sec": setup, "host_load": load}
        edges = registry.get_copurchase_edges(spark, sf_dir)
        deg = (
            edges.select(F.col("part_a").alias("p"))
            .unionAll(edges.select(F.col("part_b").alias("p")))
            .groupBy("p")
            .agg(F.count("*").alias("d"))
        )
        od = graph.oriented_edges(edges).groupBy("src").agg(
            F.count("*").alias("od")
        )
        rows["n_edges"] = edges.count()
        rows["wedge_candidates"] = int(
            od.agg(
                F.coalesce(
                    F.sum(F.expr("od * (od - 1) div 2")), F.lit(0)
                )
            ).collect()[0][0]
        )
        rows["n_vertices"] = deg.count()
        print(
            f"  {tier} edges={rows['n_edges']:,} "
            f"wedge_candidates={rows['wedge_candidates']:,}",
            file=sys.stderr,
        )
        # triangle count: the per-round credit mass is 3T — the other
        # half of the round-cost model (only where candidates fit)
        if rows["wedge_candidates"] <= LOCAL_WEDGE_BUDGET:
            registry.clear_session_memos(spark, keep={"edges"})
            t0 = time.time()
            rows["n_triangles"] = graph.triangles(
                None, edges=edges
            ).count()
            rows["triangles_sec"] = round(time.time() - t0, 3)
            print(
                f"  {tier} triangles={rows['n_triangles']:,} in "
                f"{rows['triangles_sec']}s",
                file=sys.stderr,
            )
        # ktruss under the local spill budget: rounds whose measured
        # candidate mass exceeds it decompose into sequential
        # root-bucket sub-jobs (additive support) — the timed row IS
        # the decomposed execution at gen10 and the plain single-pass
        # at gen1
        runs = [
            (
                "graph_ktruss_bounded",
                dict(wedge_budget=LOCAL_WEDGE_BUDGET),
            ),
            ("graph_rich_club", None),
        ]
        for name, kt_kwargs in runs:
            registry.clear_session_memos(spark, keep={"edges"})
            force(registry.get_copurchase_edges(spark, sf_dir))
            t0 = time.time()
            try:
                if kt_kwargs is not None:
                    df = graph.ktruss_bounded(
                        None,
                        edges=registry.get_copurchase_edges(
                            spark, sf_dir
                        ),
                        **kt_kwargs,
                    )
                else:
                    df = queries[name](spark, sf_dir)
                n = df.count()
                rows[name] = {
                    "cold": round(time.time() - t0, 3),
                    "rows": n,
                }
            except Exception as exc:  # noqa: BLE001 — record, keep going
                rows[name] = {
                    "error": f"{type(exc).__name__}: {exc}"[:400],
                    "after_sec": round(time.time() - t0, 3),
                }
            print(f"  {tier} {name}: {rows[name]}", file=sys.stderr)
            gc.collect()
        merge_write("ktruss", tier, rows)


def probe_screens(spark, registry, bench, tiers, batches: int = 4) -> None:
    """The r13 shape: 90% seed index, 2.5% batches, density-adaptive K."""
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

    for tier in tiers:
        sf_dir = str(REPO / "scaledata" / tier)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        mod = F.col("doc_id") % 40
        seed = docs.filter(mod >= batches)
        k = choose_containment_k(shingle_docs(seed), seed)
        out: dict = {
            "containment_shingle_k": k,
            "host_load": bench.settle_host(),
        }
        for label, screen_cls, init_fn, seed_k in (
            ("jaccard", GrowingDedupScreen, init_growing_index, None),
            (
                "containment",
                GrowingContainmentScreen,
                init_containment_index,
                k,
            ),
        ):
            tmp = tempfile.mkdtemp(prefix=f"probe_r14_{label}_")
            per_batch = []
            try:
                t0 = time.time()
                seed_sh = (
                    shingle_docs(seed)
                    if seed_k is None
                    else shingle_docs(seed, seed_k)
                )
                if seed_k is None:
                    init_fn(spark, seed_sh, f"{tmp}/index")
                else:
                    init_fn(
                        spark, seed_sh, f"{tmp}/index", shingle_k=seed_k
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
                        f"  {tier} screen {label} b{i}: "
                        f"{per_batch[-1]}s",
                        file=sys.stderr,
                    )
                out[label] = {
                    "seed_sec": seed_sec,
                    "per_batch": per_batch,
                }
            except Exception as exc:  # noqa: BLE001
                out[label] = {
                    "error": f"{type(exc).__name__}: {exc}"[:400],
                    "per_batch": per_batch,
                }
                print(f"  {tier} screen {label}: {out[label]}",
                      file=sys.stderr)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        merge_write("screens", tier, out)


def probe_emb(spark, registry, bench, tiers) -> None:
    """Warm-path decade-growth attribution (VERDICT r13 next #4): the
    embedding family's WARM rows grew 7.3×/8.6× per 10× while cold
    sat at 2.3–2.5×. Warm = the full LSH pair computation (only the
    bit-width decision memoizes), so the growth is either the linear
    assignment GEMM or the bucket-collision verify mass. Measure both:
    the frontier row at the CHOSEN width carries the exact candidate
    mass the verify stage GEMMs (Σ C(n_bucket, 2)), and the frontier
    scan itself is one corpus GEMM + a count — the linear stage's
    cost. warm − frontier ≈ bucket shuffle + verify."""
    from kafka_overwatch_spark.pipelines import similarity

    queries = registry.spark_queries()
    for tier in tiers:
        sf_dir = str(REPO / "scaledata" / tier)
        load = bench.settle_host()
        out: dict = {"host_load": load}
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out["n_vectors"] = emb.count()
        for name in ("dedup_embedding_cosine", "emb_split_leakage"):
            registry.clear_session_memos(spark)
            t0 = time.time()
            force(queries[name](spark, sf_dir))
            cold = round(time.time() - t0, 3)
            t0 = time.time()
            force(queries[name](spark, sf_dir))
            warm = round(time.time() - t0, 3)
            t0 = time.time()
            n_pairs = queries[name](spark, sf_dir).count()
            out[name] = {"cold": cold, "warm": warm, "rows": n_pairs}
            print(f"  {tier} {name}: {out[name]}", file=sys.stderr)
            gc.collect()
        # the stage attribution frame: chosen width, exact verify-stage
        # candidate mass, and the linear-GEMM stage's own wall
        t0 = time.time()
        frontier = similarity.neardup_bits_frontier(emb).collect()
        out["frontier_scan_sec"] = round(time.time() - t0, 3)
        out["frontier"] = [
            {
                "bits": r["bits"],
                "candidate_mass": r["candidate_mass"],
                "mass_per_vec": r["mass_per_vec"],
                "within_budget": r["within_budget"],
                "chosen": r["chosen"],
            }
            for r in frontier
        ]
        merge_write("emb", tier, out)


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "64g")

    import bench
    from kafka_overwatch_spark import registry
    from kafka_overwatch_spark.session import get_spark, warm_python_workers

    section = sys.argv[1] if len(sys.argv) > 1 else "ktruss"
    tiers = sys.argv[2].split(",") if len(sys.argv) > 2 else [
        "gen1",
        "gen10",
    ]
    spark = get_spark(f"kafka-overwatch-scale-probe-r14-{section}")
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    if section == "ktruss":
        probe_ktruss(spark, registry, bench, tiers)
    elif section == "screens":
        probe_screens(spark, registry, bench, tiers)
    elif section == "emb":
        probe_emb(spark, registry, bench, tiers)
    else:
        raise SystemExit(f"unknown section {section}")
    print(json.dumps({"written": str(OUT), "section": section}))


if __name__ == "__main__":
    main()
