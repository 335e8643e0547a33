"""Output checks: Spark results against the registered DuckDB oracles
(``registry.oracle_sql()``), run on the generated inputs.

Oracles over the Kafka snapshot model embed the fixture-derivation CTE
chain ``snapshot.duckdb_with_prefix()``; here that chain is replaced by
CTEs over the generated parquet, so the oracle bodies run unchanged on
the benchmark's own tables. Rows are compared the way the repository's
parity tests compare them (columns by name, booleans as integers, floats
rounded to 6 places, rows as a multiset), but inside DuckDB.
"""

from __future__ import annotations

import os

import duckdb

from kafka_overwatch_spark import registry
from kafka_overwatch_spark.oracles import TOPICS_DF_CTE
from kafka_overwatch_spark.snapshot import SNAPSHOT_TABLES, duckdb_with_prefix


_NUMERIC = ("DOUBLE", "FLOAT", "REAL", "DECIMAL")


def _canon_select(con, table: str) -> tuple[list[str], str]:
    """Column names of ``table`` and a SELECT list in name order with
    floats rounded to 6 places and booleans and integers as BIGINT."""
    cols = sorted(con.execute(f"DESCRIBE {table}").fetchall())
    exprs = []
    for name, typ, *_ in cols:
        q = f'"{name}"'
        if typ.startswith(_NUMERIC):
            exprs.append(f"round(CAST({q} AS DOUBLE), 6)")
        elif typ == "BOOLEAN" or "INT" in typ:
            exprs.append(f"CAST({q} AS BIGINT)")
        else:
            exprs.append(q)
    return [c[0] for c in cols], ", ".join(exprs)


def _compare(con, name: str, got, want_sql: str) -> list[str]:
    """Arrow table ``got`` (a Spark result) against the rows of
    ``want_sql``, as multisets, inside DuckDB."""
    con.register("got_t", got)
    con.execute(f"CREATE OR REPLACE TEMP TABLE want_t AS {want_sql}")
    try:
        got_cols, got_sel = _canon_select(con, "got_t")
        want_cols, want_sel = _canon_select(con, "want_t")
        if got_cols != want_cols:
            return [f"{name}: columns {got_cols} != oracle {want_cols}"]
        n_got, n_want = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                         for t in ("got_t", "want_t"))
        if n_got != n_want:
            return [f"{name}: {n_got} rows, oracle {n_want}"]
        extra = con.execute(
            f"SELECT * FROM (SELECT {got_sel} FROM got_t EXCEPT ALL "
            f"SELECT {want_sel} FROM want_t) LIMIT 1").fetchall()
        if extra:
            return [f"{name}: row {extra[0]} not in oracle"]
        return []
    finally:
        con.unregister("got_t")
        con.execute("DROP TABLE want_t")


def compare_frames(name: str, got, want) -> list[str]:
    """Two Arrow tables, compared as row multisets."""
    with duckdb.connect() as con:
        con.register("want_arrow", want)
        return _compare(con, name, got, "SELECT * FROM want_arrow")


# the cluster every report-family oracle pins
CHECK_CLUSTER = "primary"
_CLUSTER_KEYED = ("partition_offsets", "topics", "consumer_groups",
                  "group_offsets", "topic_configs")


def _snapshot_ctes(window: str) -> str:
    """The snapshot tables of ``window`` pruned to CHECK_CLUSTER exactly as
    ``snapshot.filter_cluster`` prunes them (registry tables stay whole)."""
    ctes = []
    for t in SNAPSHOT_TABLES:
        where = (f" WHERE cluster = '{CHECK_CLUSTER}'"
                 if t in _CLUSTER_KEYED else "")
        path = os.path.join(window, f"{t}.parquet")
        ctes.append(f"{t} AS (SELECT * FROM read_parquet('{path}'){where})")
    ctes.append("scan_ts AS (SELECT scan_id, max(ts) AS ts "
                "FROM partition_offsets GROUP BY scan_id)")
    return ",\n".join(ctes)


def compare_snapshot_surfaces(surfaces: dict, window: str) -> list[str]:
    """Report-cycle outputs for CHECK_CLUSTER against their oracles."""
    oracles = registry.oracle_sql()
    prefix, ctes = duckdb_with_prefix(), _snapshot_ctes(window)
    problems = []
    with duckdb.connect() as con:
        for name, got in sorted(surfaces.items()):
            problems += _compare(
                con, name, got, oracles[name].replace(prefix, ctes))
    return problems


# Each query counts the rows on which one rule of the report fires; the
# generated window must make every count positive.
_COVERAGE = {
    "waste: no_messages": """
        SELECT count(*) FROM topics_df WHERE total_messages = 0""",
    "waste: no_messages, multi-partition, no active group": """
        SELECT count(*) FROM topics_df
        WHERE total_messages = 0 AND partitions > 1 AND active_groups = 0""",
    "waste: messages, nothing new, no active group": """
        SELECT count(*) FROM topics_df WHERE total_messages > 0
          AND new_messages = 0 AND active_groups = 0""",
    "most-active: above both p75 with an active group": """
        SELECT count(*) FROM topics_df, (SELECT
            quantile_cont(new_messages, 0.75) AS qn,
            quantile_cont(total_messages, 0.75) AS qt FROM topics_df) q
        WHERE new_messages > qn AND total_messages > qt
          AND active_groups > 0""",
    "P11a: committed -1 on a zero-message partition (skipped)": """
        SELECT count(*) FROM group_offsets g JOIN partition_offsets p
          USING (cluster, topic, partition_id)
        WHERE p.scan_id = 3 AND p.end_offset = p.start_offset
          AND g.committed_offset < 0""",
    "P11b: committed -1 truncates later measured partitions": """
        SELECT count(*) FROM group_offsets g JOIN partition_offsets p
          USING (cluster, topic, partition_id)
        WHERE p.scan_id = 3 AND p.end_offset > p.start_offset
          AND g.committed_offset < 0 AND EXISTS (
            SELECT 1 FROM group_offsets g2 JOIN partition_offsets p2
              USING (cluster, topic, partition_id)
            WHERE p2.scan_id = 3 AND p2.end_offset > p2.start_offset
              AND g2.cluster = g.cluster AND g2.group_id = g.group_id
              AND g2.topic = g.topic AND g2.partition_id > g.partition_id)""",
    "J1: committed offsets on an unknown topic (dropped)": """
        SELECT count(*) FROM group_offsets g ANTI JOIN partition_offsets p
          USING (cluster, topic, partition_id)""",
    "J4: subject with no topic (unused)": """
        SELECT count(*) FROM subjects ANTI JOIN topics
          ON replace(replace(subject, '-value', ''), '-key', '') = name""",
    "J4: subject naming a topic (used)": """
        SELECT count(*) FROM subjects SEMI JOIN topics
          ON replace(replace(subject, '-value', ''), '-key', '') = name""",
    "governance: non-compliant and excluded topic names": """
        SELECT least(
          count(*) FILTER (WHERE name LIKE 'Legacy%'),
          count(*) FILTER (WHERE name LIKE '\\_%' ESCAPE '\\'))
        FROM topics""",
}


def fleet_coverage(window: str) -> list[str]:
    """Every waste category, both P11 rules, the J1 inner drop and both
    J4 branches fire on CHECK_CLUSTER's tables."""
    ctes = f"WITH {_snapshot_ctes(window)},\n{TOPICS_DF_CTE}"
    problems = []
    with duckdb.connect() as con:
        for rule, sql in _COVERAGE.items():
            if not con.execute(f"{ctes} {sql}").fetchone()[0]:
                problems.append(f"coverage: {rule} never fires")
    return problems
