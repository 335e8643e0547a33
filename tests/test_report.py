"""Report assembly: the nested ClusterReport struct (SURVEY §3.2) and the
sink surfaces (restore script, exports)."""

from __future__ import annotations

import json
import tempfile


def test_cluster_report_shape(spark, snaps):
    from kafka_overwatch_spark.operators.report import report_json

    payload = json.loads(report_json(snaps))
    assert payload["cluster_name"] == "primary"
    stats = payload["statistics"]
    assert stats["topics"] > 0 and stats["partitions"] > 0
    assert isinstance(stats["most_active_topics"], dict)
    cats = payload["estimated_waste"]["topic_categories"]
    assert set(cats) == {
        "no_messages",
        "no_messages_topics_with_multiple_partitions",
        "no_cgs_and_no_new_messages",
    }
    for cat in cats.values():
        assert set(cat) >= {
            "topics",
            "topics_count",
            "topic_partitions_sum",
            "cluster_percentage",
            "description",
        }
        assert len(cat["topics"]) == cat["topics_count"]
    gov = payload["governance"]["topic_naming_convention"]
    assert gov["total"] == stats["topics"]
    assert gov["total_measured"] == gov["total"] - gov["total_ignored"]
    assert 0 <= gov["compliant_percentage"] <= 100
    sr = payload["schema_registry"]
    assert sr["subjects_count"] > 0 and sr["unused_subjects_count"] > 0


def test_waste_category_internal_consistency(spark, snaps):
    """The empty.* fixture topics must land in the no-messages categories."""
    from kafka_overwatch_spark import registry
    from kafka_overwatch_spark.operators import usage

    topics_df = registry.get_topics_df(spark, "/root/testdata/sf0.001")
    no_msg = {
        r["name"]
        for r in usage.waste_category_topics(topics_df, "no_messages").collect()
    }
    assert any(n.startswith("empty.") for n in no_msg)
    stale = usage.waste_category_topics(
        topics_df, "no_cgs_and_no_new_messages"
    ).collect()
    assert len(stale) > 0  # the bucket%7==3 stale topics


def test_restore_script_sink(spark, snaps):
    from kafka_overwatch_spark.sinks.exports import write_restore_script

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/restore.sh"
        write_restore_script(snaps, path)
        text = open(path).read()
        lines = text.splitlines()
        assert lines[0] == "#!/usr/bin/env bash"
        # reference preamble guards BOOTSTRAP_SERVER (clusters.py:258-265)
        assert "You must specify the BOOTSTRAP_SERVER" in text
        cmds = [l for l in lines if l.startswith("kafka-topics.sh")]
        assert len(cmds) == snaps["topics"].count()
        # faithful per-entry continuation lines: --config key="value"
        assert '--config retention.ms="' in text
        assert '--config cleanup.policy="compact"' in text
        assert '--config min.insync.replicas="2"' in text
        # configs-bearing commands end with the reference trailer line
        assert (
            "--bootstrap-server ${BOOTSTRAP_SERVER} "
            "${CLIENT_CONFIG_PATH+:--command-config CLIENT_CONFIG_PATH}"
        ) in text


def test_dataframe_exports(spark, snaps):
    from kafka_overwatch_spark.sinks.exports import export_dataframe

    with tempfile.TemporaryDirectory() as tmp:
        df = snaps["consumer_groups"]
        export_dataframe(df, f"{tmp}/csv", "csv", single_file=True)
        export_dataframe(df, f"{tmp}/json", "json")
        assert spark.read.option("header", "true").csv(f"{tmp}/csv").count() == df.count()
        assert spark.read.json(f"{tmp}/json").count() == df.count()


def test_dataframe_exports_uri_scheme_path(spark, snaps):
    """K2 path contract: exports go through the Hadoop FileSystem URI
    machinery (exercised here with file://) — the identical code path an
    s3a:// destination takes, which is what makes `df.write` to object
    storage work unchanged. (A live-S3 integration test needs
    credentials/network this container doesn't have.)"""
    from kafka_overwatch_spark.sinks.exports import export_dataframe

    with tempfile.TemporaryDirectory() as tmp:
        df = snaps["consumer_groups"]
        export_dataframe(df, f"file://{tmp}/csv", "csv", single_file=True)
        got = spark.read.option("header", "true").csv(f"file://{tmp}/csv")
        assert got.count() == df.count()


def test_report_validates_against_spec_schema(spark, snaps):
    """The ported machine-checked contract (specs/report.json analog):
    every emitted report must satisfy REPORT_SCHEMA."""
    import pytest

    from kafka_overwatch_spark.operators.report import report_json
    from kafka_overwatch_spark.specs import REPORT_SCHEMA, validate_report

    payload = json.loads(report_json(snaps))
    validate_report(payload)
    # the contract has teeth: required keys / bounds are enforced
    import jsonschema

    broken = dict(payload)
    broken.pop("metadata")
    with pytest.raises(jsonschema.ValidationError):
        validate_report(broken)
    broken2 = json.loads(json.dumps(payload))
    broken2["governance"]["topic_naming_convention"][
        "compliant_percentage"
    ] = 101
    with pytest.raises(jsonschema.ValidationError):
        validate_report(broken2)
    assert REPORT_SCHEMA["required"] == ["cluster_name", "metadata"]


def test_report_new_sections(spark, snaps):
    """statistics.consumer_groups, CG naming governance, and
    schemas_estimates mirror the reference report blocks."""
    from kafka_overwatch_spark.operators.report import report_json

    payload = json.loads(report_json(snaps))
    cg = payload["statistics"]["consumer_groups"]
    assert cg["total"] == cg["active"] + cg["inactive"] > 0
    ggov = payload["governance"]["consumer_group_naming_convention"]
    assert ggov["total_measured"] == ggov["total"] - ggov["total_ignored"]
    est = payload["schema_registry"]["schemas_estimates"]
    assert est["detected_unused_count"] == len(est["detected_unused"]) > 0
    assert payload["metadata"]["timestamp"]


def test_report_json_leaves_no_cached_frame(spark, snaps):
    from kafka_overwatch_spark.operators.report import report_json

    def pinned() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    # a snapshot no other test reports on: caching a plan identical to an
    # already cached one pins nothing new, which would hide a leak
    fresh = dict(
        snaps, partition_offsets=snaps["partition_offsets"].filter("scan_id >= 0")
    )
    before = pinned()
    report_json(fresh)
    assert pinned() == before


def test_report_over_empty_topics_raises_divide_by_zero(spark, snaps):
    """Every cluster_percentage divides by the topic total; an empty total
    fails loudly under ANSI instead of reporting a percentage."""
    import pytest

    from kafka_overwatch_spark import registry
    from kafka_overwatch_spark.operators.report import cluster_report_scalars

    sf = "/root/testdata/sf0.001"
    empty = registry.get_topics_df(spark, sf).limit(0)
    # AQE may wrap the error when several stages fail at once, so match
    # the error class anywhere in the message
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        cluster_report_scalars(
            registry.get_cluster_snaps(spark, sf), topics_df=empty
        ).collect()
