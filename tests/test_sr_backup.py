"""K7 backup tar + §3.3 restore-plan round trip."""

from __future__ import annotations

import tempfile


def test_backup_restore_roundtrip(spark, snaps):
    from kafka_overwatch_spark.operators.schema_registry import backup_index
    from kafka_overwatch_spark.sinks.sr_backup import (
        parse_backup_filename,
        plan_restore,
        write_backup,
    )

    idx = backup_index(snaps)
    n_versions = idx.count()
    with tempfile.TemporaryDirectory() as tmp:
        tar_path = write_backup(idx, tmp)

        # full restore replays every version, ordered by subject/version
        ops = plan_restore(tar_path)
        assert len(ops) == n_versions
        assert all(op["mode"] == "IMPORT" for op in ops)
        subjects = [op["subject"] for op in ops]
        assert subjects == sorted(subjects)

        # filename parse inverts the backup_file format
        row = idx.limit(1).collect()[0]
        parsed = parse_backup_filename(row["backup_file"])
        assert parsed["subject"] == row["subject"]
        assert parsed["version"] == row["version"]
        assert parsed["schema_id"] == row["schema_id"]

        # existing-version diff skips already-present versions
        first = ops[0]
        ops2 = plan_restore(
            tar_path, {first["subject"]: {first["version"]}}
        )
        assert len(ops2) == n_versions - 1
        assert not any(
            o["subject"] == first["subject"] and o["version"] == first["version"]
            for o in ops2
        )


def test_backup_tar_layout_matches_reference(spark, snaps):
    """Interop contract (`schema_registry/__init__.py:108-121`): schema
    files at the tar ROOT (arcname='.'), index.json maps
    {subject: {version: filename}} with flat string values, serialized
    without indent."""
    import json
    import tarfile
    import tempfile

    from kafka_overwatch_spark.operators.schema_registry import backup_index
    from kafka_overwatch_spark.sinks.sr_backup import write_backup

    idx = backup_index(snaps)
    with tempfile.TemporaryDirectory() as tmp:
        tar_path = write_backup(idx, tmp)
        assert tar_path.endswith("schemas.tar.gz")
        with tarfile.open(tar_path, "r:gz") as tar:
            names = [m.name for m in tar.getmembers() if m.isfile()]
            # root-level entries: './<file>' (or bare), no schemas/ prefix
            assert all(
                n.lstrip("./").count("/") == 0 for n in names
            ), names[:3]
            index = json.load(
                tar.extractfile(
                    next(m for m in tar.getmembers() if m.name.endswith("index.json"))
                )
            )
        subject, versions = next(iter(index.items()))
        # values are flat filename strings, parseable by split('::')
        fname = next(iter(versions.values()))
        assert isinstance(fname, str) and fname.count("::") == 3


def test_restore_reads_reference_produced_backup(spark, snaps):
    """A tarball built exactly the way the reference builds one (files at
    root, flat index) must restore — the r1 format crashed here."""
    import json
    import os
    import tarfile
    import tempfile

    from kafka_overwatch_spark.sinks.sr_backup import plan_restore

    with tempfile.TemporaryDirectory() as tmp:
        schemas_dir = os.path.join(tmp, "work")
        os.makedirs(schemas_dir)
        files = {
            "subj-a-value::1::AVRO::11.txt": '{"schema_id": 11}',
            "subj-a-value::2::AVRO::12.txt": '{"schema_id": 12}',
            "subj-b-key::1::JSON::20.txt": '{"schema_id": 20}',
        }
        index = {
            "subj-a-value": {1: "subj-a-value::1::AVRO::11.txt",
                             2: "subj-a-value::2::AVRO::12.txt"},
            "subj-b-key": {1: "subj-b-key::1::JSON::20.txt"},
        }
        for name, body in files.items():
            with open(os.path.join(schemas_dir, name), "w") as fh:
                fh.write(body)
        with open(os.path.join(schemas_dir, "index.json"), "w") as fh:
            fh.write(json.dumps(index, sort_keys=True))
        tar_path = os.path.join(tmp, "schemas.tar.gz")
        with tarfile.open(tar_path, "w:gz") as tar:
            tar.add(schemas_dir, arcname=".")

        ops = plan_restore(tar_path)
        assert len(ops) == 3
        assert ops[0]["subject"] == "subj-a-value"
        assert ops[0]["schema_id"] == 11 and ops[0]["schema_type"] == "AVRO"
        assert ops[0]["schema"] == '{"schema_id": 11}'
        ops2 = plan_restore(tar_path, {"subj-a-value": {1, 2}})
        assert [o["schema_id"] for o in ops2] == [20]


def test_streaming_two_tier_report_cadence(spark, snaps):
    import glob
    import json
    import tempfile

    from pyspark.sql import functions as F

    from kafka_overwatch_spark.streaming.offsets import offset_sample_stream
    from kafka_overwatch_spark.streaming.report_stream import (
        StreamingUsageReporter,
    )
    from kafka_overwatch_spark.streaming.state import run

    with tempfile.TemporaryDirectory() as tmp:
        po = snaps["partition_offsets"]
        for scan in range(4):
            po.filter(F.col("scan_id") == scan).coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp}/in")
        baseline = po.filter(F.col("scan_id") == 0)
        reporter = StreamingUsageReporter(
            baseline, f"{tmp}/reports", evaluate_every=2
        )
        run(reporter, offset_sample_stream(spark, f"{tmp}/in"), f"{tmp}/ckpt")
        reports = sorted(glob.glob(f"{tmp}/reports/report_batch_*.json"))
        # 4 scan batches, evaluate every 2 → 2 reports
        assert len(reports) == 2
        last = json.load(open(reports[-1]))
        assert last["topics"] == po.select("topic").distinct().count()
        assert last["new_messages_since_baseline"] >= 0
