from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# Fast tier (r15, VERDICT r14 next #1): nodeid prefixes marked `slow`
# and deselected by the pyproject default `-m 'not slow'`, so the
# Tier-1 verify command in ROADMAP.md (`pytest tests/ -q
# --continue-on-collection-errors -p no:cacheprovider`, no `-x`, under
# a 2670 s timeout) runs the default lane only. Membership = the
# measured long tail of a full `--durations=0` run at r15 HEAD (the
# unrolled-oracle sweeps, streaming replays, and iterative-graph parity
# families). Slow lane: `pytest tests/ -m slow`; full lane:
# `pytest tests/ -m ""`.
SLOW_NODE_PREFIXES = (
    "tests/test_oracle_parity.py::test_parity_all",
    "tests/test_streaming_growing_dedup.py",
    "tests/test_streaming_semantic.py",
    "tests/test_streaming_containment.py",
    "tests/test_streaming_dsir.py",
    "tests/test_streaming_weighted_sample.py",
    "tests/test_streaming_pipeline.py",
    "tests/test_streaming.py",
    "tests/test_streaming_upsert.py",
    "tests/test_events_stream.py",
    "tests/test_r15_opt.py::test_screen_lazy_frames_materialize_within_batch",
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid.startswith(SLOW_NODE_PREFIXES):
            item.add_marker(pytest.mark.slow)

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"
RAW_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from kafka_overwatch_spark.session import get_spark

    spark = get_spark("kafka-overwatch-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def snaps(spark):
    from kafka_overwatch_spark.registry import get_snaps

    return get_snaps(spark, SF_DIR)


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in RAW_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="session")
def oracle():
    con = duckdb_con(SF_DIR)
    yield con
    con.close()


def normalize_rows(rows, colnames):
    """Driver-style canonicalization: sort columns by name, then rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, float):
            return round(v, 6)
        return v

    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def compare_spark_duckdb(sdf, con, sql, qname=""):
    """Assert a Spark DataFrame and a DuckDB result match: row count,
    column names, values (order-insensitive)."""
    srows = sdf.collect()
    scols = sdf.columns
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (
        f"{qname}: column mismatch spark={sorted(scols)} duckdb={sorted(dcols)}"
    )
    assert len(srows) == len(drows), (
        f"{qname}: row count spark={len(srows)} duckdb={len(drows)}"
    )
    s_norm = normalize_rows([tuple(r) for r in srows], scols)
    d_norm = normalize_rows(drows, dcols)
    for i, (a, b) in enumerate(zip(s_norm, d_norm)):
        assert a == b, f"{qname}: first differing row #{i}: spark={a} duckdb={b}"
