"""Cluster usage report assembly — the reference's top analytical query
(SURVEY §3.2), producing the nested ``ClusterReport`` shape of
`specs/report.py:10-143` / `specs/report.json`.

Spark-first shape: the component frames (topics_df, waste categories,
most-active, governance, SR) are all computed as DataFrames; the nested
struct is assembled with ``struct``/``map_from_entries`` aggregations into
a SINGLE nested row, then serialized via ``to_json`` — no driver-side
loops over collect() except the final 1-row fetch.

Scale: every input to the struct assembly is already topic-/group-grain
(small); the struct agg is a single-partition reduce of dim-sized data.
The heavy lifting (fact-table scans) happened upstream in topics_df.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import governance as gov
from . import schema_registry as sr
from . import usage


def _topics_map(cond: F.Column) -> F.Column:
    """name → partitions map of the rows matching ``cond`` (A11:
    ``.set_index('name').to_dict()``, `reporting/topics.py:24-28`)."""
    return F.map_from_entries(
        F.sort_array(F.collect_list(F.when(cond, F.struct("name", "partitions"))))
    )


def build_cluster_report(
    snaps: dict[str, DataFrame],
    cluster_name: str = "primary",
    governance_config=None,
    topics_df: DataFrame | None = None,
) -> DataFrame:
    """One nested row mirroring ClusterReport: statistics, estimated_waste
    (3 topic categories), governance, schema_registry.

    ``governance_config``: an optional ``config.Governance`` — its naming
    conventions override the default regexes (config-driven reports,
    `specs/config.py` governance block).

    ``topics_df``: ``usage.build_topics_df(snaps)`` when omitted; a
    caller that builds many reports over one snapshot passes its cached
    frame (registry.get_topics_df).

    Building the frame runs no Spark job, and no count of the snapshot
    is baked into the plan as a literal: every scan of a cluster runs
    the same generated code."""
    if topics_df is None:
        topics_df = usage.build_topics_df(snaps)

    # statistics.topics/partitions and every estimated_waste category in
    # one conditional aggregation (the ``usage.waste_summary`` shape); the
    # total each cluster_percentage divides by is an aggregate of the same
    # pass
    descriptions = {
        "no_messages": "All the topics with no messages.",
        "no_messages_topics_with_multiple_partitions": (
            "Topics with no messages, no active consumer group, "
            "and more than one partition"
        ),
        "no_cgs_and_no_new_messages": (
            "Topics with messages, but no active consumer group and no "
            "messages produced during the evaluation period"
        ),
    }
    total = F.count(F.lit(1))
    aggs = [
        F.count("name").alias("topics"),
        F.coalesce(F.sum("partitions"), F.lit(0)).alias("partitions"),
    ]
    for name, pred in usage.WASTE_PREDICATES.items():
        cond = F.expr(pred)  # predicates are SQL strings shared w/ oracle
        count = F.count(F.when(cond, F.col("name")))
        aggs.append(
            F.struct(
                _topics_map(cond).alias("topics"),
                count.alias("topics_count"),
                F.coalesce(
                    F.sum(F.when(cond, F.col("partitions"))), F.lit(0)
                ).alias("topic_partitions_sum"),
                F.floor((count.cast("double") / total) * 100).alias(
                    "cluster_percentage"
                ),
                F.lit(descriptions[name]).alias("description"),
            ).alias(name)
        )

    # statistics — most_active_topics detail map + consumer-group totals
    # (spec statistics.consumer_groups: total/active/inactive,
    # `specs/report.json` ClusterReport.statistics)
    most_active = usage.most_active_topics(topics_df)
    cg_stats = usage.is_active_group(snaps["consumer_groups"]).agg(
        F.count("*").alias("total"),
        F.coalesce(
            F.sum(F.when(F.col("is_active"), 1).otherwise(0)), F.lit(0)
        ).alias("active"),
    )
    stats = (
        topics_df.agg(*aggs)
        .crossJoin(
            most_active.agg(
                F.map_from_entries(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                "name",
                                F.struct(
                                    "partitions",
                                    "total_messages",
                                    "new_messages",
                                    "active_groups",
                                ).alias("detail"),
                            )
                        )
                    )
                ).alias("most_active_topics")
            )
        )
        .crossJoin(
            cg_stats.select(
                F.struct(
                    "total",
                    "active",
                    (F.col("total") - F.col("active")).alias("inactive"),
                ).alias("consumer_groups")
            )
        )
    )

    # governance — both naming-convention reports of the spec, regexes
    # optionally overridden from the loaded config
    t_inc = t_exc = g_inc = g_exc = None
    if governance_config is not None:
        tnc = governance_config.topic_naming_convention
        gnc = governance_config.consumer_groups_naming_convention
        if tnc is not None:
            t_inc, t_exc = tnc.regexes, tnc.ignore_regexes
        if gnc is not None:
            g_inc, g_exc = gnc.regexes, gnc.ignore_regexes
    gov_summary = gov.naming_convention_summary(
        gov.governance_topics(snaps, t_inc, t_exc)
    )
    gov_groups_summary = gov.naming_convention_summary(
        gov.governance_groups(
            snaps, include_regexes=g_inc, exclude_regexes=g_exc
        )
    )

    # schema registry incl. schemas_estimates.detected_unused (the spec's
    # schemas_waste_estimates block)
    sr_summary = sr.registry_summary(snaps)
    sr_unused_list = sr.unused_subjects(snaps).agg(
        F.sort_array(F.collect_list("subject")).alias("detected_unused")
    )

    gov_fields = [
        "total",
        "total_ignored",
        "total_measured",
        "non_compliant_count",
        "compliant_percentage",
    ]
    report = (
        stats.select(
            F.struct(
                "topics", "partitions", "most_active_topics", "consumer_groups"
            ).alias("statistics"),
            F.struct(
                F.lit(0).alias("topics"),
                F.lit(0).alias("partitions"),
                F.struct(*usage.WASTE_PREDICATES).alias("topic_categories"),
            ).alias("estimated_waste"),
        )
        .crossJoin(
            gov_summary.select(
                F.struct(*gov_fields).alias("topic_naming_convention")
            ).crossJoin(
                gov_groups_summary.select(
                    F.struct(*gov_fields).alias(
                        "consumer_group_naming_convention"
                    )
                )
            ).select(
                F.struct(
                    "topic_naming_convention",
                    "consumer_group_naming_convention",
                ).alias("governance")
            )
        )
        .crossJoin(
            sr_summary.crossJoin(sr_unused_list).select(
                F.struct(
                    "subjects_count",
                    "schemas_count",
                    "versions_count",
                    "unused_subjects_count",
                    F.struct(
                        "detected_unused",
                        F.col("unused_subjects_count").alias(
                            "detected_unused_count"
                        ),
                    ).alias("schemas_estimates"),
                ).alias("schema_registry")
            )
        )
        .select(
            F.lit(cluster_name).alias("cluster_name"),
            # spec: metadata.timestamp is required ("time the report was
            # generated"); excluded from the hash-checkable companion
            F.struct(
                F.date_format(
                    F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssxxx"
                ).alias("timestamp")
            ).alias("metadata"),
            "statistics",
            "estimated_waste",
            "governance",
            "schema_registry",
        )
    )
    return report


def cluster_report_scalars(
    snaps: dict[str, DataFrame],
    cluster_name: str = "primary",
    topics_df: DataFrame | None = None,
) -> DataFrame:
    """Hash-checkable companion of ``build_cluster_report``: every leaf of
    the nested report struct as a top-level column (maps serialized with
    ``to_json``). Selecting from the SAME nested row guarantees the
    companion can never drift from the report it vouches for."""
    r = build_cluster_report(snaps, cluster_name, topics_df=topics_df)
    cols = [
        F.col("cluster_name"),
        F.col("statistics.topics").alias("stat_topics"),
        F.col("statistics.partitions").alias("stat_partitions"),
        F.to_json(F.col("statistics.most_active_topics")).alias(
            "most_active_json"
        ),
        F.col("statistics.consumer_groups.total").alias("cg_total"),
        F.col("statistics.consumer_groups.active").alias("cg_active"),
        F.col("statistics.consumer_groups.inactive").alias("cg_inactive"),
    ]
    for cat in usage.WASTE_PREDICATES:
        base = f"estimated_waste.topic_categories.{cat}"
        cols += [
            F.to_json(F.col(f"{base}.topics")).alias(f"{cat}_topics_json"),
            F.col(f"{base}.topics_count").alias(f"{cat}_topics_count"),
            F.col(f"{base}.topic_partitions_sum").alias(
                f"{cat}_partitions_sum"
            ),
            F.col(f"{base}.cluster_percentage").alias(f"{cat}_pct"),
        ]
    for prefix, block in (
        ("gov", "topic_naming_convention"),
        ("ggov", "consumer_group_naming_convention"),
    ):
        g = f"governance.{block}"
        cols += [
            F.col(f"{g}.total").alias(f"{prefix}_total"),
            F.col(f"{g}.total_ignored").alias(f"{prefix}_total_ignored"),
            F.col(f"{g}.total_measured").alias(f"{prefix}_total_measured"),
            F.col(f"{g}.non_compliant_count").alias(
                f"{prefix}_non_compliant_count"
            ),
            F.col(f"{g}.compliant_percentage").alias(
                f"{prefix}_compliant_percentage"
            ),
        ]
    cols += [
        F.col("schema_registry.subjects_count").alias("sr_subjects_count"),
        F.col("schema_registry.schemas_count").alias("sr_schemas_count"),
        F.col("schema_registry.versions_count").alias("sr_versions_count"),
        F.col("schema_registry.unused_subjects_count").alias(
            "sr_unused_subjects_count"
        ),
        F.to_json(
            F.col("schema_registry.schemas_estimates.detected_unused")
        ).alias("sr_detected_unused_json"),
    ]
    return r.select(*cols)


def report_json(
    snaps: dict[str, DataFrame],
    cluster_name: str = "primary",
    governance_config=None,
) -> str:
    """K1: the report as a JSON document (single-row collect)."""
    row = build_cluster_report(snaps, cluster_name, governance_config).select(
        F.to_json(F.struct("*"), {"ignoreNullFields": "false"}).alias("js")
    ).collect()[0]
    return row["js"]
