"""Schema-registry analytics (SURVEY §2 J4/A12, S8/S9 model).

Reference: `reporting/schema_registry.py:15-35` — "unused subjects" are
subjects whose name, after ``str.replace("-value","").replace("-key","")``
(replace-ALL occurrences, not suffix-strip — replicated with native
``replace``), is not a known topic name (TopicNameStrategy).

Scale: subjects/schemas dims are tiny (≤1e6 rows) — the anti-join
broadcasts the topic-name side. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unused_subjects(snaps: dict[str, DataFrame]) -> DataFrame:
    """J4 anti-join: registry, subject for subjects not mapping to a topic."""
    normalized = snaps["subjects"].withColumn(
        "topic_candidate",
        F.replace(
            F.replace(F.col("subject"), F.lit("-value"), F.lit("")),
            F.lit("-key"),
            F.lit(""),
        ),
    )
    topic_names = snaps["topics"].select(F.col("name").alias("topic_candidate"))
    return normalized.join(
        F.broadcast(topic_names), "topic_candidate", "left_anti"
    ).select("registry", "subject")


def registry_summary(snaps: dict[str, DataFrame]) -> DataFrame:
    """A12 scalars (`reporting/schema_registry.py:28-33`,
    `processing/schema_registries.py:146-157`): one single-row count
    aggregate per frame, cross-joined — lazy, and no count is baked into
    the plan as a literal."""
    def count(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").alias(name))

    return (
        count(snaps["subjects"], "subjects_count")
        .crossJoin(count(snaps["schemas"], "schemas_count"))
        .crossJoin(count(snaps["subject_versions"], "versions_count"))
        .crossJoin(count(unused_subjects(snaps), "unused_subjects_count"))
    )


def schema_type_breakdown(snaps: dict[str, DataFrame]) -> DataFrame:
    """Per-type schema counts over the schemas dim (extension of A12)."""
    return (
        snaps["schemas"]
        .groupBy("schema_type")
        .agg(F.count("*").alias("schemas_count"))
    )


def backup_index(snaps: dict[str, DataFrame]) -> DataFrame:
    """K7 backup manifest: one row per schema version with the reference's
    backup filename ``subject::version::type::id.txt``
    (`overwatch_resources/schema_registry/__init__.py:95-129`,
    filename format per `schemas_restore.py:15,38-39`), sorted like the
    reference's ``dict(sorted(...))`` index."""
    sv = snaps["subject_versions"]
    sch = snaps["schemas"].select("schema_id", "schema_type", "schema_string")
    return (
        sv.join(F.broadcast(sch), "schema_id")
        .select(
            "registry",
            "subject",
            "version",
            "schema_id",
            "schema_type",
            F.concat(
                F.concat_ws(
                    "::",
                    F.col("subject"),
                    F.col("version").cast("string"),
                    F.col("schema_type"),
                    F.col("schema_id").cast("string"),
                ),
                F.lit(".txt"),
            ).alias("backup_file"),
            "schema_string",
        )
        .orderBy("subject", "version")
    )
