"""Mimic the driver's t2 gate locally: run every registered query on Spark
AND its DuckDB oracle at sf0.001 and compare rows/columns/values.

Single test that loops (one Spark session, one DuckDB connection, all
queries) — a parametrized version pays ~10 s of Spark job setup per query.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, compare_spark_duckdb


def test_every_oracle_has_a_query():
    from kafka_overwatch_spark import registry

    sq = registry.spark_queries()
    oq = registry.oracle_sql()
    missing = set(oq) - set(sq)
    assert not missing, f"oracles without spark queries: {missing}"


def test_parity_all(spark, oracle):
    from kafka_overwatch_spark import registry

    sq = registry.spark_queries()
    oq = registry.oracle_sql()
    failures = []
    for qname in sorted(oq):
        try:
            sdf = sq[qname](spark, SF_DIR)
            compare_spark_duckdb(sdf, oracle, oq[qname], qname)
        except AssertionError as exc:
            failures.append(f"{qname}: {exc}")
        except Exception as exc:  # noqa: BLE001 — collect engine errors too
            failures.append(f"{qname}: ERROR {type(exc).__name__}: {exc}")
    assert not failures, "\n".join(failures)


def test_promoted_names_all_resolve():
    """_driver_check_order silently drops unknown names — a typo in
    _PROMOTED would silently eject a query from the driver window, so
    pin that every promoted name is registered."""
    from kafka_overwatch_spark import registry

    q = registry.spark_queries()
    missing = [n for n in registry._PROMOTED if n not in q]
    assert not missing, missing
    assert len(set(registry._PROMOTED)) == len(registry._PROMOTED)


def test_session_memo_contract(spark, monkeypatch):
    """Every registry memo goes through session_memo: the evictable set
    is exactly the algorithmic artifacts, defaults share one entry, a
    ``keep`` typo raises, and clear_session_memos pops, unpersists once,
    reports and honours ``keep`` (pinned on toy memos, no Spark job)."""
    from kafka_overwatch_spark import registry

    evict = {n: ev for n, (_, ev) in registry._MEMOS.items()}
    assert {n for n, ev in evict.items() if ev} == {
        "shingle", "bands", "simhash", "phash", "edges", "lpa_graph",
        "lpa_labels", "triangles", "ivf", "pq", "whiten", "winnow",
        "containment_k", "containment_docs", "containment_probes",
        "containment_capped", "neardup_bits", "dsir_bucketed",
    }
    assert {n for n, ev in evict.items() if not ev} == {
        "snaps", "cluster_snaps", "topics_df", "raw_tables", "lag_rows",
        "groups_df",
    }
    assert registry.get_cluster_snaps(spark, SF_DIR) is (
        registry.get_cluster_snaps(spark, SF_DIR, "primary")
    )
    with pytest.raises(ValueError, match="nope"):
        registry.clear_session_memos(spark, keep={"nope"})

    class Held:
        def __init__(self) -> None:
            self.unpersists = 0

        def unpersist(self) -> None:
            self.unpersists += 1

    monkeypatch.setattr(registry, "_MEMOS", {})

    @registry.session_memo("toy")
    def toy(spark, sf_dir):
        return Held()

    @registry.session_memo("toy_kept")
    def toy_kept(spark, sf_dir):
        return Held(), 3

    with pytest.raises(ValueError, match="toy"):
        registry.session_memo("toy")
    held, kept = toy(spark, SF_DIR), toy_kept(spark, SF_DIR)
    assert toy(spark, sf_dir=SF_DIR) is held
    assert registry.clear_session_memos(spark, sf_dir="elsewhere") == []
    assert registry.clear_session_memos(spark, keep={"toy_kept"}) == ["toy"]
    assert held.unpersists == 1 and not registry._MEMOS["toy"][0]
    assert kept[0].unpersists == 0 and toy_kept(spark, SF_DIR) is kept
    assert toy(spark, SF_DIR) is not held
