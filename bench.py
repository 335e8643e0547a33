#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the host's
CPU count, ``os.cpu_count()``).

Output contract (the driver tail-captures stdout and parses the LAST
line): the final stdout line is a COMPACT JSON object — totals plus
per-query p50s only. Everything long-tail (min column, pass totals,
extras, incremental comparison) goes to ``bench_detail.json`` next to
this script, committed per round; BENCH_r04.json went unparseable
because the old single fat line outgrew the driver's capture window.

Timing methodology: each query's full execution is forced with the noop
sink (no driver-side row transfer); snapshot-table materialization is a
separate, reported "setup" phase (it is fixture derivation, not engine
work, but it is not hidden).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # kafka-analytics core (the reference's report pipeline)
    "topics_df",
    "groups_df",
    "waste_summary",
    "most_active_topics",
    "governance_summary",
    "lag_per_topic",
    "sr_backup_index",
    "restore_commands",
    "w1_offset_deltas",
    "topic_throughput_timeseries",
    # training-data pipelines
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_lsh_pairs",
    "text_quality",
    "text_language_id",
    "text_fingerprints",
    # relational / events
    "tpch_pricing_summary",
    "tpch_big_order_revenue",
    "events_daily_rollup",
    "events_top_users",
    "events_sessionize",
    "metrics_snapshot",
]


# Second frozen section (r5): the most-queried former extras, promoted so
# regressions there are attributable round over round. r4 p50 reference
# points (from BENCH_r04's extras): text_line_dedup 1.549,
# dedup_incremental_screen 1.348, events_user_reach_sketch 0.501.
HEADLINE2 = [
    "text_line_dedup",
    "events_user_reach_sketch",
    "events_asof_attribution",
    "dedup_incremental_screen",
]

# Ops added after the r1/r2 headline set was frozen — timed and reported
# separately so the headline total stays comparable round over round.
EXTRA = [
    "text_repetition",
    "text_contamination",
    "text_tfidf",
    "text_redact_pii",
    "emb_quantize_int8",
    "curation_pipeline",
    "events_retention",
    "events_funnel",
    "source_quality_summary",
    # round 4
    "text_length_histogram",
    "text_vocab_stats",
    "events_user_reach",
    "events_value_quantiles",
    "emb_cluster_summary",
    "ann_ivf_topk",
    "lag_distribution",
    # round 5
    "media_phash_pairs",
    "tpch_order_priority",
    "tpch_customer_distribution",
    "tpch_brand_supplier_stats",
    "events_topk_per_type",
    "events_rollup",
    "events_preceding_window_join",
    "sampling_source_mix",
    "sampling_temperature_weights",
    "ann_pq_topk",
    "text_unigram_logprob",
    "tpch_important_parts",
    "tpch_large_quantity_orders",
    "text_gopher_flags",
    "events_running_totals",
    "events_type_day_pivot",
    "events_props_stats",
    "ann_ivfpq_topk",
    "tpch_small_quantity_revenue",
    "tpch_idle_rich_customers",
    "text_bm25",
    "dataset_card",
    "fuzzy_name_pairs",
    "validation_report",
    "topic_throughput_trend",
    "text_bigram_logprob",
    "events_user_deciles",
    "sampling_upsample_plan",
    "corpus_lang_source_assoc",
    "corpus_split_drift_psi",
    # round 5, late session
    "tpch_top_supplier",
    "tpch_min_cost_supplier",
    "tpch_waiting_orders",
    "tpch_promo_share",
    "tpch_shipping_priority",
    "tpch_forecast_revenue",
    "tpch_nation_volume",
    "tpch_product_profit",
    "tpch_returned_items",
    "tpch_disjunctive_revenue",
    "tpch_excess_promo_suppliers",
    "events_session_window",
    "events_grouping_sets",
    "events_heavy_hitters",
    "scd2_partition_liveness",
    "events_zorder_codes",
    "graph_part_degree",
    "graph_pagerank",
    "graph_association_rules",
    "tpch_market_share",
    "table_column_stats",
    "events_window_functions",
    "events_set_ops",
    "events_time_weighted_avg",
    "events_daily_locf",
    "scd2_point_in_time",
    "snapshot_upsert_topics",
    "events_ewma_cusum",
    "events_equi_depth_hist",
    "events_type_transitions",
    "events_mad_anomalies",
    "events_session_window_dynamic",
    "events_top_users_salted",
    "events_pseudonymized",
    "events_winsorized_stats",
    "events_k_anonymity",
    "events_ab_test",
    "events_bot_scores",
    "text_zipf_fit",
    "emb_split_centroid_drift",
    "tpch_fulfillment_latency",
    "tpch_supplier_hhi",
    "events_value_gini",
    "events_cohort_retention",
    "events_stickiness",
    "tpch_return_rate_control",
    "events_decile_lift",
    # round 6 (events_topk_per_type already timed in the r5 block)
    "events_quantile_norm",
    "sampling_user_cap",
    "sampling_user_cap_summary",
    "dedup_containment",
    "split_leakage",
    # round 7
    "dedup_containment_audit",
    "text_winnow_fingerprints",
    "text_shared_passages",
    "sampling_weighted",
    "text_shared_passage_spans",
    "sampling_dsir_weights",
    "sampling_dsir_topk",
    "source_classifier_nb",
    # round 7, late session
    "tpch_shipmode_priority",
    "events_rfm_segments",
    "sampling_epoch_mix",
    # round 7, continuation
    "emb_label_centroids",
    "dedup_source_overlap",
    "dedup_source_overlap_fuzzy",
    "dedup_fuzzy_clusters",
    "emb_kcenter_coreset",
    "events_survival_km",
    "events_daily_acf",
    "text_encode_fake",
    "events_holt_forecast",
    "events_dow_seasonality",
    "sampling_curriculum",
    "graph_clustering",
    "graph_local_clustering",
    # round 8
    "events_l_diversity",
    "events_dp_noisy_counts",
    "events_bootstrap_ci",
    "events_attribution_models",
    "text_mojibake",
    "dedup_minhash_calibration",
    "emb_mips_topk",
    "events_session_paths",
    "events_pareto_share",
    # round 9
    "events_attribution_capped",
    "text_readability",
    "events_benford_audit",
    "events_t_closeness",
    "emb_matryoshka_audit",
    "sampling_neyman_allocation",
    "events_theil_sen",
    "text_vocab_richness",
    "events_transition_entropy",
    "events_interarrival_stats",
    "emb_rrf_fusion",
    # graph_kcore deregistered r11 (VERDICT r10 next #2); the bounded
    # sibling below carries the peel cost signal
    "text_hill_tail_index",
    "sampling_kfold",
    "ann_lsh_recall",
    "sampling_ess",
    # round 10
    "ann_tune_frontier",
    "graph_kcore_bounded",
    "events_shapley_attribution",
    "events_markov_attribution",
    "events_cuped",
    "events_ols_trend",
    "events_changepoint",
    "events_conformal_interval",
    "graph_link_prediction",
    "graph_label_propagation",
    "emb_density_cores",
    "sampling_pps_systematic",
    "text_ngram_novelty",
    "events_granger",
    "sampling_psis_khat",
    "emb_silhouette",
    "text_keyness",
    "emb_density_cores_lsh",
    "events_seasonal_decompose",
    "events_did",
    "events_holt_winters",
    "text_heaps_law",
    "events_spc_chart",
    "events_retention_halflife",
    # round 11
    "text_keyness_drift",
    "events_kendall_tau",
    "events_mann_whitney",
    "events_runs_test",
    "events_chi2_dow",
    "events_ks_test",
    "events_ks_drift",
    "events_fdr_anomalies",
    "text_source_jsd",
    "emb_pca_components",
    "graph_modularity",
    "events_pacf",
    "graph_assortativity",
    # round 11, waves 4-8
    "events_markov_steady_state",
    "emb_dim_stats",
    "emb_centroid_drift",
    "emb_norm_profile",
    "graph_degree_tail",
    "events_poisson_dispersion",
    "emb_knn_label_audit",
    "events_friedman",
    "events_welch_t",
    "sampling_ht_estimate",
    "emb_triplet_candidates",
    "events_kruskal_wallis",
    "events_spearman",
    "events_ljung_box",
    "graph_eigencentrality",
    "graph_components_bounded",
    "emb_hard_negatives",
    # round 12
    "ann_neardup_frontier",
    "emb_split_leakage",
    # round 13
    "graph_components_star_bounded",
    "graph_ktruss_bounded",
    # round 14
    "graph_rich_club",
    "events_cliffs_delta",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def host_load() -> dict:
    """Concurrent-load probe recorded next to each pass (VERDICT r5 next
    #7): driver-vs-builder numbers have differed ~40% purely on host
    load, so every BENCH artifact carries the evidence needed to
    attribute a delta to code vs to a busy host. load1 is the 1-min
    runqueue average; busy_frac is load1 / cpu count (>~0.5 with our own
    JVM idle means a loaded host)."""
    try:
        load1 = os.getloadavg()[0]
    except OSError:
        return {"load1": None, "cpus": os.cpu_count(), "busy_frac": None}
    cpus = os.cpu_count() or 1
    return {
        "load1": round(load1, 2),
        "cpus": cpus,
        "busy_frac": round(load1 / cpus, 3),
    }


def settle_host(threshold: float = 0.25, max_wait: float = 120.0) -> dict:
    """Quiet-host discipline (VERDICT r8 next #5): r8's +5.6% headline
    was attributable to ~1.7× ambient load (busy_frac 0.25-0.31 vs
    r7's 0.16-0.20), so before each timed pass wait (bounded) for the
    1-min runqueue to drain below the threshold. Our own idle JVM
    contributes ~0; a busy neighbor shows up directly. Returns the
    load record actually in force when the pass starts, plus how long
    we waited — committed in pass_loads so the delta is attributable
    either way."""
    waited = 0.0
    probe = host_load()
    while (
        probe["busy_frac"] is not None
        and probe["busy_frac"] > threshold
        and waited < max_wait
    ):
        time.sleep(10.0)
        waited += 10.0
        probe = host_load()
    probe["settle_wait_sec"] = round(waited, 1)
    return probe


def run_anchor_protocol(sf_dir: str) -> dict:
    """Self-anchoring bench (VERDICT r13 next #5): the r13 A/B
    worktree protocol proved single-run benches on this host drift
    ±25% across hours — only ALTERNATING passes in the same session
    are comparable round over round. So every BENCH_rN carries its own
    anchor: the previous round's HEAD (the last driver `round N:`
    commit) checked out into a worktree, and 2× interleaved
    (anchor pass, head pass) subprocess rounds — four JVMs, identical
    setup, same host minute. The comparison table generates itself:
    per-query min over each tree's two passes on the COMMON query set,
    plus the total ratio. Failures never cost the BENCH artifact
    (returns {"error": ...}); set SPARK_GRAFT_ANCHOR=0 to skip when
    iterating locally."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    if os.environ.get("SPARK_GRAFT_ANCHOR", "1") == "0":
        return {"skipped": "SPARK_GRAFT_ANCHOR=0"}
    try:
        sha = subprocess.run(
            ["git", "log", "--format=%H", "-n1",
             "--grep", "^round [0-9]*:"],
            cwd=here, capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        if not sha:
            return {"skipped": "no previous round commit found"}
        ref_line = subprocess.run(
            ["git", "log", "--format=%h %s", "-n1", sha],
            cwd=here, capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        wt = f"/tmp/bench_anchor_{sha[:12]}"
        if not os.path.isdir(wt):
            r = subprocess.run(
                ["git", "worktree", "add", "--detach", wt, sha],
                cwd=here, capture_output=True, text=True, timeout=120,
            )
            if r.returncode != 0:
                return {"error": f"worktree add: {r.stderr[:300]}"}
        qnames = json.dumps(HEADLINE + HEADLINE2)
        runner = os.path.join(here, "scripts", "bench_anchor_runner.py")
        passes: dict[str, list[dict]] = {"anchor": [], "head": []}
        try:
            for _ in range(2):
                for label, tree in (("anchor", wt), ("head", here)):
                    load = settle_host()
                    r = subprocess.run(
                        [sys.executable, runner, tree, sf_dir, qnames],
                        capture_output=True, text=True, timeout=1800,
                        cwd=here,
                    )
                    if r.returncode != 0:
                        return {
                            "error": f"{label} pass: {r.stderr[-300:]}"
                        }
                    rec = json.loads(r.stdout.strip().splitlines()[-1])
                    rec["host_load"] = load
                    passes[label].append(rec)
                    print(
                        f"  anchor protocol {label} pass: "
                        f"{round(sum(rec['per_query'].values()), 2)}s",
                        file=sys.stderr,
                    )
        finally:
            subprocess.run(
                ["git", "worktree", "remove", "--force", wt],
                cwd=here, capture_output=True, timeout=60,
            )
        common = set.intersection(
            *(set(p["per_query"]) for ps in passes.values() for p in ps)
        )
        mins = {
            label: {
                q: min(p["per_query"][q] for p in ps) for q in common
            }
            for label, ps in passes.items()
        }
        anchor_total = round(sum(mins["anchor"].values()), 3)
        head_total = round(sum(mins["head"].values()), 3)
        deltas = {
            q: round(mins["head"][q] - mins["anchor"][q], 3)
            for q in common
        }
        worst = sorted(deltas, key=lambda q: -abs(deltas[q]))[:5]
        return {
            "anchor_ref": ref_line,
            "n_common": len(common),
            "anchor_total_min": anchor_total,
            "head_total_min": head_total,
            "head_vs_anchor": round(head_total / anchor_total, 4)
            if anchor_total
            else None,
            "largest_deltas": {q: deltas[q] for q in worst},
            "passes": passes,
        }
    except Exception as exc:  # noqa: BLE001 — never cost the artifact
        return {"error": f"{type(exc).__name__}: {exc}"[:400]}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from kafka_overwatch_spark import registry
    from kafka_overwatch_spark.session import get_spark, warm_python_workers

    spark = get_spark("kafka-overwatch-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.spark_queries()

    t_setup = time.time()
    warm_python_workers(spark)
    snaps = registry.get_snaps(spark, sf_dir)
    for df in snaps.values():
        force(df)
    force(registry.get_topics_df(spark, sf_dir))
    setup_sec = round(time.time() - t_setup, 3)

    # three passes; report the per-query p50 (median of 3) as the headline
    # so round-over-round regressions are attributable rather than host
    # noise, plus the min as the steady-state floor. Pass 0 carries
    # cold-start costs (visible in pass_totals[0]); the median of three
    # discards a single noisy outlier in either direction. HEADLINE2 (the
    # promoted former extras) rides the same passes but totals separately
    # so the r1-frozen headline number stays comparable.
    timed = HEADLINE + HEADLINE2
    samples: dict[str, list[float]] = {name: [] for name in timed}
    pass_totals = []
    pass_loads = []
    n_passes = 3
    for pass_no in range(n_passes):
        pass_loads.append(settle_host())
        t_pass = time.time()
        for name in timed:
            t0 = time.time()
            force(queries[name](spark, sf_dir))
            dt = round(time.time() - t0, 3)
            samples[name].append(dt)
            print(f"  bench p{pass_no} {name}: {dt}s", file=sys.stderr)
        pass_totals.append(round(time.time() - t_pass, 3))

    per_query = {
        name: sorted(vals)[len(vals) // 2]
        for name, vals in samples.items()
        if name in HEADLINE
    }
    headline2 = {
        name: sorted(vals)[len(vals) // 2]
        for name, vals in samples.items()
        if name in HEADLINE2
    }
    per_query_min = {name: min(vals) for name, vals in samples.items()}
    total = round(sum(per_query.values()), 3)
    total2 = round(sum(headline2.values()), 3)

    # post-freeze ops: warm-min-of-2 (VERDICT r9 next #6 — the extras
    # table was reading as ±70% swings on sub-1 s queries round over
    # round, wasting judge/builder attention; the MIN of the two
    # post-cold passes is the reproducible steady-state statistic for
    # an unchanged plan, where a median still carries one noisy pass).
    # Pass 0 is the cold pass (plan compile + first scans) and is
    # discarded. Reported outside the headline total. Defensive
    # per-query: a failing extra must never cost the round its BENCH
    # artifact (the headline set above stays strict).
    extra_samples: dict[str, list[float]] = {name: [] for name in EXTRA}
    extra_errors: dict[str, str] = {}
    for pass_no in range(n_passes):
        for name in EXTRA:
            if name in extra_errors:
                continue
            t0 = time.time()
            try:
                force(queries[name](spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 — record, keep going
                extra_errors[name] = f"{type(exc).__name__}: {exc}"
                print(f"  bench extra {name} FAILED: {exc}", file=sys.stderr)
                continue
            dt = round(time.time() - t0, 3)
            extra_samples[name].append(dt)
            print(f"  bench extra p{pass_no} {name}: {dt}s", file=sys.stderr)
    extra_queries = {
        # min over the warm passes (drop pass 0 when ≥2 samples exist)
        name: min(vals[1:] if len(vals) >= 2 else vals)
        for name, vals in extra_samples.items()
        if vals
    }
    # cold column (r15, VERDICT r14 next #5): pass-0 carries the
    # first-touch cost of the session memos (triangle enumeration, LPA
    # labels, IVF/PQ training) that the warm-min statistic hides —
    # reported so memo-backed rows are honest about both numbers, with
    # NO change to the warm-min methodology
    extra_queries_cold = {
        name: vals[0] for name, vals in extra_samples.items() if vals
    }
    for name, err in extra_errors.items():
        extra_queries[name] = f"ERROR {err}"

    # incremental maintenance vs full recompute (streaming Phase-4 story):
    # per-batch cost of updating running topic totals with
    # IncrementalTopicTotals (O(batch) + state merge) vs recomputing the
    # totals from all batches seen so far (O(K·batch))
    from pyspark.sql import functions as F

    from kafka_overwatch_spark.streaming.incremental import (
        IncrementalTopicTotals,
    )

    po = (
        snaps["partition_offsets"]
        .filter(F.col("scan_id") == 3)
        .select("topic", "partition_id", "end_offset")
        .localCheckpoint(eager=True)
    )
    n_batches = 10
    batches = [
        po.withColumn("end_offset", F.col("end_offset") + F.lit(i))
        for i in range(n_batches)
    ]
    inc = IncrementalTopicTotals()
    t0 = time.time()
    for i, b in enumerate(batches):
        inc(b, i)
    inc_per_batch = round((time.time() - t0) / n_batches, 3)
    t0 = time.time()
    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    force(full.groupBy("topic").agg(F.sum("end_offset").alias("s")))
    full_recompute = round(time.time() - t0, 3)
    incremental = {
        "batches": n_batches,
        "inc_per_batch_sec": inc_per_batch,
        "full_recompute_sec_at_b10": full_recompute,
    }
    # growing-corpus streaming dedup (r6 verdict #6): per-batch wall
    # while the accepted index grows — the screen is parity-tested in
    # tests/test_streaming_growing_dedup.py; this tracks its COST curve
    # (each batch pays keyed screens against a strictly larger persisted
    # index) the way `incremental` tracks running-total upkeep.
    import shutil
    import tempfile

    from kafka_overwatch_spark.pipelines.dedup import shingle_docs
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingDedupScreen,
        init_growing_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g_batches = 4
    seed = docs.filter(F.col("doc_id") % (g_batches + 1) == 0)
    gtmp = tempfile.mkdtemp(prefix="growing_dedup_bench_")
    g_per_batch, g_index_rows = [], []
    try:
        init_growing_index(spark, shingle_docs(seed), f"{gtmp}/index")
        screen = GrowingDedupScreen(f"{gtmp}/index")
        for i in range(g_batches):
            batch = docs.filter(
                F.col("doc_id") % (g_batches + 1) == i + 1
            )
            g_index_rows.append(
                spark.read.parquet(f"{gtmp}/index/store/kind=shingles").count()
            )
            t0 = time.time()
            screen(batch, i)
            g_per_batch.append(round(time.time() - t0, 3))
            print(
                f"  bench growing_dedup b{i}: {g_per_batch[-1]}s "
                f"(index {g_index_rows[-1]} rows)",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(gtmp, ignore_errors=True)
    growing_dedup = {
        "batches": g_batches,
        "per_batch_sec": g_per_batch,
        "index_rows_before_batch": g_index_rows,
    }

    # growing SEMANTIC screen (r7 continuation): encode-on-ingest +
    # keyed screens against the persisted embedding/bucket index —
    # same cost-curve tracking as growing_dedup
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingSemanticScreen,
        init_semantic_index,
    )

    # 9 batches so the index ~10×s start→end (VERDICT r7 #3: the flat
    # claim must be witnessed across an order of magnitude of growth)
    s_batches = 9
    s_seed = docs.filter(F.col("doc_id") % (s_batches + 1) == 0)
    stmp = tempfile.mkdtemp(prefix="growing_semantic_bench_")
    s_per_batch, s_index_rows = [], []
    try:
        init_semantic_index(spark, s_seed, f"{stmp}/index")
        sscreen = GrowingSemanticScreen(f"{stmp}/index", f"{stmp}/out")
        for i in range(s_batches):
            batch = docs.filter(
                F.col("doc_id") % (s_batches + 1) == i + 1
            )
            s_index_rows.append(
                spark.read.parquet(f"{stmp}/index/embeddings").count()
            )
            t0 = time.time()
            sscreen(batch, i)
            s_per_batch.append(round(time.time() - t0, 3))
            print(
                f"  bench growing_semantic b{i}: {s_per_batch[-1]}s "
                f"(index {s_index_rows[-1]} vectors)",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(stmp, ignore_errors=True)
    growing_semantic = {
        "batches": s_batches,
        "per_batch_sec": s_per_batch,
        "index_rows_before_batch": s_index_rows,
    }

    # self-anchoring protocol (VERDICT r13 next #5): interleaved
    # subprocess passes of the previous round's HEAD vs this tree —
    # the only round-over-round comparison this host supports
    anchor = run_anchor_protocol(sf_dir)
    anchor_summary = {
        k: v for k, v in anchor.items() if k != "passes"
    }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # throughput context: total input rows of the tables the headline
    # queries scan (lineitem dominates), per steady-state second
    input_rows = sum(
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        for t in ("lineitem", "orders", "events", "documents", "embeddings")
    )
    # long-tail detail → committed file, NOT stdout: the driver's tail
    # capture must only ever see the compact line below as the last line
    detail = {
        "queries_min": per_query_min,
        "pass_totals": pass_totals,
        "pass_loads": pass_loads,
        "setup_sec": setup_sec,
        "input_rows": input_rows,
        "extra_queries": extra_queries,
        "extra_queries_cold": extra_queries_cold,
        "extras_stat": "warm_min_of_2",
        # pinned variance attributions (r15, VERDICT r14 next #2):
        # queries whose cross-run swings are measured host artifacts,
        # not plan behavior — so round-over-round comparisons stop
        # re-litigating them. Evidence: OPTIMIZATION_r15.md item 2.
        "variance_notes": {
            "dedup_minhash_lsh": (
                "11-36s swings are hypervisor CPU steal amplified by "
                "32-way compute-bound parallelism: executorRunTime for "
                "identical work measured 17-44s at 32c vs 1.1-4.5s at "
                "8c, shuffle bytes flat, no spill, no skew, GC minor "
                "(minhash_probe_r15). Envelope at sf0.1: wall "
                "0.8-5s; not a plan defect."
            ),
        },
        "incremental": incremental,
        "growing_dedup": growing_dedup,
        "growing_semantic": growing_semantic,
        "headline2": headline2,
        "anchor": anchor,
        "stat": "p50_of_3",
        "sf": float(sf),
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(f"  bench detail -> {detail_path}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "headline2": headline2,
                "headline2_total": total2,
                # min-of-3 total: the steady-state floor, the stable
                # cross-host statistic (p50 stays the headline for
                # round-over-round comparability with r1-r5)
                "total_min": round(
                    sum(v for k, v in per_query_min.items() if k in HEADLINE),
                    3,
                ),
                "pass_loads": pass_loads,
                "growing_dedup": growing_dedup,
                "growing_semantic": growing_semantic,
                "anchor": anchor_summary,
                "stat": "p50_of_3",
                "sf": float(sf),
                "n_queries": len(per_query),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
