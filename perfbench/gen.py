"""Seeded input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` and returns pyarrow
tables (or writes parquet), so the same seed gives byte-identical inputs.
Timestamps are stored as microseconds: Spark's parquet reader rejects
nanosecond timestamps.

- ``fleet_window``: one 4-scan snapshot of a two-cluster fleet in the
  eight snapshot-table shapes of ``kafka_overwatch_spark.snapshot``.
- ``write_scan_feed``: one parquet file per scan for one cluster, in the
  ``OFFSET_SCHEMA`` and ``LAG_SAMPLE_SCHEMA`` shapes of
  ``kafka_overwatch_spark.streaming.offsets``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CLUSTERS = ("primary", "analytics")
N_SCANS = 4  # scans 0..3: usage.FINAL_SCAN is 3
SCAN_US = 60_000_000
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
TS = pa.timestamp("us")

DOMAINS = (
    "orders payments users clicks billing audit search ledger inventory "
    "shipping metrics alerts sessions catalog"
).split()
PARTITION_CHOICES = np.array([1, 2, 3, 4, 6, 8, 12, 16, 32, 64])
PARTITION_P = np.array([20, 14, 10, 16, 10, 12, 8, 5, 3, 2], dtype=float)
GROUP_STATES = np.array(["STABLE", "EMPTY", "DEAD", "PREPARING_REBALANCE"])
GROUP_STATE_P = np.array([0.6, 0.15, 0.15, 0.1])
SCHEMA_TYPES = np.array(["AVRO", "JSON", "PROTOBUF"])


# --- fleet snapshot -------------------------------------------------------


def _topic_names(rng, n: int, start: int) -> tuple[np.ndarray, np.ndarray]:
    """Names plus a naming class: 0 compliant ``app.<dom>.<i>``, 1
    non-compliant, 2 internal (``_`` prefix, excluded by governance)."""
    cls = rng.choice(3, size=n, p=[0.88, 0.08, 0.04])
    dom = rng.choice(DOMAINS, size=n)
    names = []
    for i, (c, d) in enumerate(zip(cls, dom)):
        k = start + i
        if c == 0:
            names.append(f"app.{d}.t{k}")
        elif c == 1:
            names.append(f"Legacy_{d.title()}_{k}")
        else:
            names.append(f"_internal.{d}.{k}")
    return np.array(names, dtype=object), cls


def fleet_window(
    rng: np.random.Generator, topics_per_cluster: dict[str, int],
    groups_per_cluster: dict[str, int],
) -> dict[str, pa.Table]:
    """One fleet window. Every waste category, both P11 rules (a
    zero-message partition with committed -1 is skipped; a measured one
    truncates its topic), the J1 inner drop and the J4 anti-join fire."""
    po_cols = {k: [] for k in
               ("cluster", "topic", "partition_id", "scan_id",
                "start_offset", "end_offset", "ts")}
    topics_rows = {k: [] for k in
                   ("cluster", "name", "partitions", "retention_ms",
                    "cleanup_policy")}
    cfg_rows = {k: [] for k in
                ("cluster", "topic", "config_key", "config_value")}
    cg_rows = {k: [] for k in ("cluster", "group_id", "state", "members")}
    go_rows = {k: [] for k in
               ("cluster", "group_id", "topic", "partition_id",
                "committed_offset")}
    all_names: list[str] = []
    scan_ts = BASE_TS_US + np.arange(N_SCANS, dtype=np.int64) * SCAN_US
    start = 0
    for cluster in CLUSTERS:
        n = topics_per_cluster[cluster]
        names, _ = _topic_names(rng, n, start)
        start += n
        all_names.extend(names)
        nparts = rng.choice(PARTITION_CHOICES, size=n,
                            p=PARTITION_P / PARTITION_P.sum())
        # activity: 0 active, 1 empty (no messages ever), 2 stale (history,
        # nothing new during the window)
        activity = rng.choice(3, size=n, p=[0.86, 0.06, 0.08])
        retained = rng.random(n) < 0.3
        # per-topic rate (messages per scan interval), log-normal skew
        rate = np.exp(rng.normal(5.0, 1.6, size=n))
        retention_ms = np.where(
            retained, rng.choice([3_600_000, 86_400_000, 604_800_000], n), -1)
        compact = rng.random(n) < 0.15
        final = {}  # topic index -> final-scan (end, start) per partition
        for i in range(n):
            p = int(nparts[i])
            name = names[i]
            topics_rows["cluster"].append(cluster)
            topics_rows["name"].append(name)
            topics_rows["partitions"].append(p)
            topics_rows["retention_ms"].append(
                int(retention_ms[i]) if retained[i] else None)
            topics_rows["cleanup_policy"].append(
                "compact" if compact[i] else None)
            if retained[i]:
                cfg_rows["cluster"].append(cluster)
                cfg_rows["topic"].append(name)
                cfg_rows["config_key"].append("retention.ms")
                cfg_rows["config_value"].append(str(int(retention_ms[i])))
            if compact[i]:
                cfg_rows["cluster"].append(cluster)
                cfg_rows["topic"].append(name)
                cfg_rows["config_key"].append("cleanup.policy")
                cfg_rows["config_value"].append("compact")
            if i % 5 == 1:
                cfg_rows["cluster"].append(cluster)
                cfg_rows["topic"].append(name)
                cfg_rows["config_key"].append("min.insync.replicas")
                cfg_rows["config_value"].append("2")
            # hot-partition skew: Dirichlet weights over partitions
            w = rng.dirichlet(np.full(p, 0.7)) * p
            if activity[i] == 1:
                per_scan = np.zeros((N_SCANS, p), dtype=np.int64)
                hist = np.zeros(p, dtype=np.int64)
            else:
                hist = rng.poisson(rate[i] * 20 * w).astype(np.int64)
                per_scan = rng.poisson(
                    np.outer(np.ones(N_SCANS), rate[i] * w)).astype(np.int64)
                per_scan[0] = 0
                if activity[i] == 2:
                    per_scan[:] = 0
            end = hist[None, :] + np.cumsum(per_scan, axis=0)
            startoff = np.zeros_like(end)
            if retained[i]:
                startoff[2:] = end[2:] // 10
                # fully retained partition 0: low == high watermark, a
                # zero-message partition that still has committed offsets
                if i % 4 == 0:
                    startoff[2:, 0] = end[2:, 0]
            for s in range(N_SCANS):
                po_cols["cluster"].extend([cluster] * p)
                po_cols["topic"].extend([name] * p)
                po_cols["partition_id"].extend(range(p))
                po_cols["scan_id"].extend([s] * p)
                po_cols["start_offset"].extend(startoff[s].tolist())
                po_cols["end_offset"].extend(end[s].tolist())
                po_cols["ts"].extend([int(scan_ts[s])] * p)
            final[i] = (end[-1], startoff[-1])

        g = groups_per_cluster[cluster]
        gcls = rng.choice(3, size=g, p=[0.85, 0.1, 0.05])
        states = rng.choice(GROUP_STATES, size=g, p=GROUP_STATE_P)
        members = np.where(rng.random(g) < 0.1, 0, rng.integers(1, 6, g))
        active_idx = np.flatnonzero(activity == 0)
        for k in range(g):
            gid = (f"cg-{k}" if gcls[k] == 0
                   else f"legacy-consumer-{k}" if gcls[k] == 1
                   else f"_confluent-{k}")
            cg_rows["cluster"].append(cluster)
            cg_rows["group_id"].append(gid)
            cg_rows["state"].append(str(states[k]))
            cg_rows["members"].append(int(members[k]))
            # subscriptions: mostly active topics, sometimes any topic
            nt = 1 + rng.geometric(0.35)
            pool = active_idx if rng.random() < 0.85 else np.arange(n)
            for ti in rng.choice(pool, size=min(nt, len(pool)),
                                 replace=False):
                name = names[ti]
                p = int(nparts[ti])
                bad = int(rng.integers(p)) if rng.random() < 0.08 else -1
                ends, starts = final[ti]
                for pid in range(p):
                    e = int(ends[pid])
                    if pid == bad:
                        committed = -1
                    elif e == starts[pid] and rng.random() < 0.5:
                        committed = -1  # skipped before the break rule
                    else:
                        lag = int(rng.exponential(rate[ti] * 0.5))
                        committed = max(e - lag, 0)
                    go_rows["cluster"].append(cluster)
                    go_rows["group_id"].append(gid)
                    go_rows["topic"].append(name)
                    go_rows["partition_id"].append(pid)
                    go_rows["committed_offset"].append(committed)
            if k % 17 == 0:  # J1: offsets on a topic the cluster lacks
                go_rows["cluster"].append(cluster)
                go_rows["group_id"].append(gid)
                go_rows["topic"].append(f"ghost.{cluster}.{k}")
                go_rows["partition_id"].append(0)
                go_rows["committed_offset"].append(5)

    subj = []
    for name in all_names:
        u = rng.random()
        if u < 0.6:
            subj.append(f"{name}-value")
        if u < 0.2:
            subj.append(f"{name}-key")
    n_orphans = max(len(all_names) // 40, 3)
    subj += [f"orphan.{d}.{k}-value" for k, d in
             enumerate(rng.choice(DOMAINS, n_orphans))]
    subj += [f"mid-value-{all_names[k]}" for k in
             rng.choice(len(all_names), n_orphans, replace=False)]
    sv = {k: [] for k in ("registry", "subject", "version", "schema_id")}
    sid = 0
    for s in subj:
        for v in range(1, 2 + int(rng.integers(3))):
            sid += 1
            sv["registry"].append("default")
            sv["subject"].append(s)
            sv["version"].append(v)
            sv["schema_id"].append(sid)
    ids = np.arange(1, sid + 1)
    schemas = {
        "registry": ["default"] * sid,
        "schema_id": ids.tolist(),
        "schema_type": rng.choice(SCHEMA_TYPES, sid).tolist(),
        "schema_string": [f'{{"schema_id": {i}}}' for i in ids],
    }
    s64, s = pa.int64(), pa.string()
    return {
        "partition_offsets": pa.table({
            "cluster": pa.array(po_cols["cluster"], s),
            "topic": pa.array(po_cols["topic"], s),
            "partition_id": pa.array(po_cols["partition_id"], s64),
            "scan_id": pa.array(po_cols["scan_id"], s64),
            "start_offset": pa.array(po_cols["start_offset"], s64),
            "end_offset": pa.array(po_cols["end_offset"], s64),
            "ts": pa.array(po_cols["ts"], s64).cast(TS),
        }),
        "topics": pa.table({
            "cluster": pa.array(topics_rows["cluster"], s),
            "name": pa.array(topics_rows["name"], s),
            "partitions": pa.array(topics_rows["partitions"], s64),
            "retention_ms": pa.array(topics_rows["retention_ms"], s64),
            "cleanup_policy": pa.array(topics_rows["cleanup_policy"], s),
        }),
        "consumer_groups": pa.table({
            "cluster": pa.array(cg_rows["cluster"], s),
            "group_id": pa.array(cg_rows["group_id"], s),
            "state": pa.array(cg_rows["state"], s),
            "members": pa.array(cg_rows["members"], s64),
        }),
        "group_offsets": pa.table({
            "cluster": pa.array(go_rows["cluster"], s),
            "group_id": pa.array(go_rows["group_id"], s),
            "topic": pa.array(go_rows["topic"], s),
            "partition_id": pa.array(go_rows["partition_id"], s64),
            "committed_offset": pa.array(go_rows["committed_offset"], s64),
        }),
        "subjects": pa.table({
            "registry": pa.array(["default"] * len(subj), s),
            "subject": pa.array(subj, s),
        }),
        "subject_versions": pa.table({
            "registry": pa.array(sv["registry"], s),
            "subject": pa.array(sv["subject"], s),
            "version": pa.array(sv["version"], s64),
            "schema_id": pa.array(sv["schema_id"], s64),
        }),
        "schemas": pa.table({
            "registry": pa.array(schemas["registry"], s),
            "schema_id": pa.array(schemas["schema_id"], s64),
            "schema_type": pa.array(schemas["schema_type"], s),
            "schema_string": pa.array(schemas["schema_string"], s),
        }),
        "topic_configs": pa.table({k: pa.array(v, s)
                                   for k, v in cfg_rows.items()}),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# --- scan feed ------------------------------------------------------------


def write_scan_feed(
    rng: np.random.Generator, out_dir: str, n_topics: int,
    n_groups: int, n_scans: int, cluster: str = "primary",
) -> None:
    """``out_dir/offsets/scan-NNNN.parquet`` (OFFSET_SCHEMA rows, one per
    partition) and ``out_dir/lag/scan-NNNN.parquet`` (LAG_SAMPLE_SCHEMA:
    a watermark row per partition plus a committed-offset row per
    subscribed (group, partition)) for scans 0..n_scans-1."""
    nparts = rng.choice(PARTITION_CHOICES, size=n_topics,
                        p=PARTITION_P / PARTITION_P.sum())
    topic = np.repeat([f"app.{d}.t{i}" for i, d in
                       enumerate(rng.choice(DOMAINS, n_topics))], nparts)
    pid = np.concatenate([np.arange(p) for p in nparts])
    n = len(pid)
    # log-normal topic rates, gamma hot-partition skew (mean 1) within
    rate = np.repeat(np.exp(rng.normal(4.0, 1.5, n_topics)), nparts)
    rate *= rng.gamma(0.7, 1 / 0.7, n)
    retained = np.repeat(rng.random(n_topics) < 0.3, nparts)
    end = rng.poisson(rate * 10).astype(np.int64)
    # subscriptions: whole topics per group
    topic_first = np.concatenate([[0], np.cumsum(nparts)[:-1]])
    sub_g, sub_row = [], []
    for g in range(n_groups):
        for t in rng.choice(n_topics, size=1 + rng.geometric(0.4),
                            replace=False):
            rows = np.arange(topic_first[t], topic_first[t] + nparts[t])
            sub_g.append(np.full(len(rows), g))
            sub_row.append(rows)
    sub_g = np.concatenate(sub_g)
    sub_row = np.concatenate(sub_row)
    gids = np.array([f"cg-{g}" for g in range(n_groups)], dtype=object)
    bad = rng.random(len(sub_row)) < 0.01
    lag_scale = np.maximum(rate[sub_row] * 0.5, 1.0)
    os.makedirs(os.path.join(out_dir, "offsets"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "lag"), exist_ok=True)
    s64, s = pa.int64(), pa.string()
    m = len(sub_row)
    for scan in range(n_scans):
        if scan:
            end = end + rng.poisson(rate)
        start = np.where(retained & (scan >= 2), end // 10, 0)
        ts = pa.array(np.full(n, BASE_TS_US + scan * SCAN_US), s64).cast(TS)
        common = {
            "cluster": pa.array([cluster] * n, s),
            "topic": pa.array(topic, s),
            "partition_id": pa.array(pid, s64),
            "scan_id": pa.array(np.full(n, scan), s64),
            "start_offset": pa.array(start, s64),
            "end_offset": pa.array(end, s64),
        }
        name = f"scan-{scan:04d}.parquet"
        pq.write_table(pa.table({**common, "ts": ts}),
                       os.path.join(out_dir, "offsets", name))
        committed = np.maximum(
            end[sub_row] - rng.exponential(lag_scale).astype(np.int64), 0)
        watermarks = pa.table({**common, "group_id": pa.nulls(n, s),
                               "committed_offset": pa.nulls(n, s64),
                               "ts": ts})
        commits = pa.table({
            "cluster": pa.array([cluster] * m, s),
            "topic": pa.array(topic[sub_row], s),
            "partition_id": pa.array(pid[sub_row], s64),
            "scan_id": pa.array(np.full(m, scan), s64),
            "start_offset": pa.nulls(m, s64),
            "end_offset": pa.nulls(m, s64),
            "group_id": pa.array(gids[sub_g], s),
            "committed_offset": pa.array(np.where(bad, -1, committed), s64),
            "ts": ts.slice(0, 1).take(pa.array(np.zeros(m, np.int64))),
        })
        pq.write_table(pa.concat_tables([watermarks, commits]),
                       os.path.join(out_dir, "lag", name))
