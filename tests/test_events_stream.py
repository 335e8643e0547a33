"""Streaming events: windowed agg totals equal the batch rollup; streaming
dedup drops replayed duplicates."""

from __future__ import annotations

import datetime
import tempfile

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, run_to_completion


def _split_events(spark, tmp, parts=4, duplicate_last=False):
    """Time-ordered slices — a replayed feed arrives roughly in event-time
    order; slicing by id would make every later file almost entirely
    late-beyond-watermark data."""
    from pyspark.sql.window import Window

    ev = spark.table("events")
    n = ev.count()
    sliced = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    )
    per = (n + parts - 1) // parts
    last = None
    for i in range(parts):
        s = sliced.filter(
            (F.col("rn") > i * per) & (F.col("rn") <= (i + 1) * per)
        ).drop("rn")
        s.coalesce(1).write.mode("append").parquet(f"{tmp}/in")
        last = s
    if duplicate_last:
        last.coalesce(1).write.mode("append").parquet(f"{tmp}/in")
    return ev


def test_windowed_counts_match_batch(spark, snaps):
    from kafka_overwatch_spark.streaming import events_stream as es

    with tempfile.TemporaryDirectory() as tmp:
        ev = _split_events(spark, tmp)
        out = run_to_completion(
            es.windowed_counts(es.event_stream(spark, f"{tmp}/in")),
            f"{tmp}/ck",
        )
        got = {
            (r["window_start"], r["event_type"]): (r["events"], r["total_value"])
            for r in out
        }
        batch = (
            ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(
                F.count("*").alias("events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(F.col("w.start").alias("ws"), "event_type", "events", "total_value")
            .collect()
        )
        want = {(r["ws"], r["event_type"]): (r["events"], r["total_value"]) for r in batch}
        # The final watermark may hold back the trailing window(s) in
        # append mode; every emitted window must match batch exactly and
        # cover all but at most the last watermark horizon.
        assert got
        for k, v in got.items():
            assert want[k] == v, k
        missing = set(want) - set(got)
        if missing:
            max_emitted = max(ws for ws, _ in got)
            assert all(ws > max_emitted for ws, _ in missing)


def test_streaming_dedup_drops_replayed_batch(spark, snaps):
    from kafka_overwatch_spark.streaming import events_stream as es

    with tempfile.TemporaryDirectory() as tmp:
        ev = _split_events(spark, tmp, duplicate_last=True)
        out = run_to_completion(
            es.streaming_dedup(es.event_stream(spark, f"{tmp}/in")),
            f"{tmp}/ck2",
        )
        ids = [r["event_id"] for r in out]
        assert len(ids) == len(set(ids)) == ev.count()


def test_streaming_contamination_matches_batch(spark, snaps):
    """The stream-static ingest screen, drained over a sliced document
    feed, must produce exactly the batch contamination result — the
    verdict is per-document, so slicing into micro-batches is invisible."""
    import tempfile

    from kafka_overwatch_spark.pipelines.text import (
        contamination,
        probe_shingles,
    )
    from kafka_overwatch_spark.streaming.documents_stream import (
        ContaminationScreen,
    )
    from kafka_overwatch_spark.streaming.state import file_stream, run

    docs = spark.table("documents")
    probes = probe_shingles(docs)
    with tempfile.TemporaryDirectory() as tmp:
        n = docs.count()
        per = (n + 3) // 4
        for i in range(4):
            docs.filter(
                (F.col("doc_id") >= i * per) & (F.col("doc_id") < (i + 1) * per)
            ).coalesce(1).write.mode("append").parquet(f"{tmp}/in")
        run(
            ContaminationScreen(probes, f"{tmp}/out"),
            file_stream(spark, f"{tmp}/in"),
            f"{tmp}/ck",
        )
        streamed = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{tmp}/out").drop("batch_id").collect()
        )
        batch = sorted(tuple(r) for r in contamination(docs).collect())
        assert streamed == batch
        assert len(streamed) > 0


def test_streaming_sessionize_matches_python_closed_sessions(spark, snaps):
    """Streamed sessions (inline-closed + watermark-timeout-closed) match
    a straight-Python sessionization: every session provably closed at
    stream end (end + gap < global max ts) is emitted exactly once, and
    nothing emitted disagrees with the reference fold. Later sessions
    legitimately remain open in state."""
    import tempfile

    from kafka_overwatch_spark.streaming import events_stream as es

    gap = 3600
    with tempfile.TemporaryDirectory() as tmp:
        ev = _split_events(spark, tmp)
        out = run_to_completion(
            es.streaming_sessionize(
                es.event_stream(spark, f"{tmp}/in"), gap_seconds=gap
            ),
            f"{tmp}/ck",
        )
        streamed = sorted(
            (r["user_id"], r["session_id"], r["events"], r["duration_sec"])
            for r in out
        )
        rows = ev.select("user_id", "ts", "event_id").collect()
        max_ts = max(int(r["ts"].timestamp()) for r in rows)
        per_user = {}
        for r in sorted(
            rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])
        ):
            per_user.setdefault(r["user_id"], []).append(
                int(r["ts"].timestamp())
            )
        all_sessions, expected_closed = set(), set()
        for uid, ts_list in per_user.items():
            sessions = []
            ord_, start, last, n = 0, None, None, 0
            for t in ts_list:
                if start is None:
                    ord_, start, last, n = ord_ + 1, t, t, 1
                elif t - last > gap:
                    sessions.append((uid, ord_, n, last - start, last))
                    ord_, start, last, n = ord_ + 1, t, t, 1
                else:
                    last, n = max(last, t), n + 1
            sessions.append((uid, ord_, n, last - start, last))
            for uid_, o, n_, d, end in sessions:
                all_sessions.add((uid_, o, n_, d))
                if end + gap < max_ts:
                    expected_closed.add((uid_, o, n_, d))
        assert len(streamed) == len(set(streamed))  # no double emission
        assert expected_closed <= set(streamed)  # all provably-closed out
        assert set(streamed) <= all_sessions  # nothing contradicts batch
        assert len(expected_closed) > 0


def test_streaming_dedup_screen_matches_batch(spark, snaps):
    """Streamed new-vs-corpus near-dup verdicts over a sliced feed equal
    the batch incremental screen — per-document verdicts make batch
    boundaries invisible."""
    import tempfile

    from kafka_overwatch_spark.pipelines.dedup import (
        INCREMENTAL_SPLIT_DOC_ID,
        incremental_minhash_screen,
        shingle_docs,
    )
    from kafka_overwatch_spark.streaming.documents_stream import DedupScreen
    from kafka_overwatch_spark.streaming.state import file_stream, run

    docs = spark.table("documents")
    corpus_sh = shingle_docs(
        docs.filter(F.col("doc_id") < INCREMENTAL_SPLIT_DOC_ID)
    ).localCheckpoint(eager=True)
    new = docs.filter(F.col("doc_id") >= INCREMENTAL_SPLIT_DOC_ID)
    with tempfile.TemporaryDirectory() as tmp:
        n_lo, n_hi = INCREMENTAL_SPLIT_DOC_ID, 500
        per = (n_hi - n_lo + 2) // 3
        for i in range(3):
            new.filter(
                (F.col("doc_id") >= n_lo + i * per)
                & (F.col("doc_id") < n_lo + (i + 1) * per)
            ).coalesce(1).write.mode("append").parquet(f"{tmp}/in")
        run(
            DedupScreen(corpus_sh, f"{tmp}/out"),
            file_stream(spark, f"{tmp}/in"),
            f"{tmp}/ck",
        )
        streamed = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{tmp}/out").drop("batch_id").collect()
        )
        batch = sorted(
            tuple(r) for r in incremental_minhash_screen(docs).collect()
        )
        assert streamed == batch
        assert len(streamed) > 0


def test_streaming_sessionize_monotonic_ids_across_timeout(spark, snaps):
    """A user whose session closes by TIMEOUT (not inline) and who later
    returns must get the NEXT session id, not a duplicate id 1 — the
    closed-sentinel state carries the ordinal across the gap."""
    import datetime
    import tempfile

    from kafka_overwatch_spark.streaming import events_stream as es

    base = datetime.datetime(2024, 1, 1)

    def _ev(eid, sec, uid):
        return (eid, base + datetime.timedelta(seconds=sec), uid, "click", 1.0, "{}")

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    batches = [
        [_ev(1, 0, 1), _ev(2, 10, 1), _ev(3, 50, 2)],
        [_ev(4, 1000, 2)],   # advances watermark past user1's last+gap
        [_ev(5, 1100, 2)],   # user1 times out HERE (no user1 data)
        [_ev(6, 2000, 1), _ev(7, 2010, 1)],  # user1 returns
        [_ev(8, 5000, 2)],   # closes user1's second session by timeout
    ]
    with tempfile.TemporaryDirectory() as tmp:
        for rows in batches:
            spark.createDataFrame(rows, cols).coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp}/in")
        out = run_to_completion(
            es.streaming_sessionize(
                es.event_stream(spark, f"{tmp}/in"), gap_seconds=100
            ),
            f"{tmp}/ck",
        )
        u1 = sorted(
            (r["session_id"], r["events"], r["duration_sec"])
            for r in out
            if r["user_id"] == 1
        )
        assert u1 == [(1, 2, 10), (2, 2, 10)], u1


def test_streaming_sketch_state_matches_batch_reach(spark, snaps):
    """The incrementally-maintained HLL state table serves the same
    per-type reach estimates as the one-shot batch sketch rollup, and
    re-unioning a replayed batch leaves every estimate unchanged
    (HLL idempotence — the replay-safety property the maintainer's
    docstring claims)."""
    from kafka_overwatch_spark.operators.relational import (
        events_user_reach_sketch,
    )
    from kafka_overwatch_spark.streaming import events_stream as es
    from kafka_overwatch_spark.streaming.state import run

    with tempfile.TemporaryDirectory() as tmp:
        _split_events(spark, tmp, parts=3)
        state = f"{tmp}/sketch_state"
        run(
            es.ReachSketchMaintainer(state),
            es.event_stream(spark, f"{tmp}/in"),
            f"{tmp}/ckpt",
        )
        streamed = {
            r["event_type"]: r["sketch_users"]
            for r in es.reach_from_sketch_state(spark, state).collect()
        }
        batch = {
            r["event_type"]: r["sketch_users"]
            for r in events_user_reach_sketch(spark.table("events")).collect()
        }
        assert streamed == batch
        # idempotence: replay the whole feed as one extra "batch"
        es.ReachSketchMaintainer(state)(spark.table("events"), batch_id=99)
        replayed = {
            r["event_type"]: r["sketch_users"]
            for r in es.reach_from_sketch_state(spark, state).collect()
        }
        assert replayed == streamed


def test_reach_sketch_state_commit_protocol(spark, snaps):
    """The generational state write's crash-recovery contract:
    (a) a fully-written-but-unrenamed pointer tmp is promoted on read,
    (b) generation dirs with NO pointer at all fail loudly instead of
    being mistaken for 'first batch' (which would silently reset
    accumulated history), (c) an uncommitted newer generation is
    invisible — reads serve the committed one."""
    import os
    import shutil

    import pytest

    from kafka_overwatch_spark.streaming import events_stream as es

    with tempfile.TemporaryDirectory() as tmp:
        state = f"{tmp}/state"
        m = es.ReachSketchMaintainer(state)
        m(spark.table("events"), batch_id=0)
        committed = {
            r["event_type"]: r["sketch_users"]
            for r in es.reach_from_sketch_state(spark, state).collect()
        }

        # (c) crash AFTER writing gen-1 but BEFORE the pointer flip:
        # the new generation exists on disk but reads still serve gen-0
        shutil.copytree(f"{state}/gen-{0:010d}", f"{state}/gen-{1:010d}")
        assert m.current_generation(spark) == f"gen-{0:010d}"

        # (a) crash INSIDE the flip: CURRENT deleted, tmp fully written —
        # the tmp is promoted and reads resume from it
        os.rename(f"{state}/CURRENT", f"{state}/CURRENT.tmp")
        with open(f"{state}/CURRENT.tmp", "w") as fh:
            fh.write(f"gen-{1:010d}")
        assert m.current_generation(spark) == f"gen-{1:010d}"
        assert os.path.exists(f"{state}/CURRENT")
        after = {
            r["event_type"]: r["sketch_users"]
            for r in es.reach_from_sketch_state(spark, state).collect()
        }
        assert after == committed  # gen-1 is a byte copy of gen-0

        # (b) pointer gone entirely but generations remain → loud failure
        os.remove(f"{state}/CURRENT")
        with pytest.raises(RuntimeError, match="no CURRENT pointer"):
            m.current_generation(spark)

        # pristine dir (no artifacts at all) reads as first-batch None
        assert es.ReachSketchMaintainer(f"{tmp}/fresh").current_generation(
            spark
        ) is None


def test_streaming_click_attribution_matches_batch(spark, snaps):
    """The stream-stream interval join, drained over a replayed feed and
    aggregated per purchase, must equal the batch bucketized range join
    — including zero-click purchases emitted via the outer side."""
    from kafka_overwatch_spark.operators.relational import (
        events_preceding_window_join,
    )
    from kafka_overwatch_spark.streaming import events_stream as es

    with tempfile.TemporaryDirectory() as tmp:
        ev = _split_events(spark, tmp)
        # outer-join results near the end of a finite feed are withheld:
        # null-padded rows emit only when the watermark passes their join
        # horizon, and the watermark stops at the last batch. A far-future
        # sentinel purchase + click (disjoint user) advances BOTH sides'
        # watermarks so every real purchase's state expires and emits.
        spark.createDataFrame(
            [
                (-999, datetime.datetime(2099, 1, 1), -1, "purchase", 0.0, ""),
                (-998, datetime.datetime(2099, 1, 1), -1, "click", 0.0, ""),
            ],
            schema=es.EVENT_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(f"{tmp}/in")
        pairs = [
            r
            for r in run_to_completion(
                es.streaming_click_attribution(
                    es.event_stream(spark, f"{tmp}/in")
                ),
                f"{tmp}/ck",
            )
            if r["purchase_id"] >= 0
        ]
        got: dict = {}
        for r in pairs:
            cnt, val = got.get(r["purchase_id"], (0, 0.0))
            if r["click_id"] is not None:
                got[r["purchase_id"]] = (cnt + 1, val + r["click_value"])
            else:
                got.setdefault(r["purchase_id"], (0, 0.0))
        want = {
            r["purchase_id"]: (r["clicks_1h"], r["click_value_1h"])
            for r in events_preceding_window_join(ev).collect()
        }
        assert set(got) == set(want)
        for pid, (cnt, val) in got.items():
            assert cnt == want[pid][0], (pid, cnt, want[pid])
            assert abs(val - want[pid][1]) < 1e-6, (pid, val, want[pid])


def test_streaming_click_attribution_checkpoint_recovery(spark, snaps):
    """Kill the stream-stream join after the first half of the feed,
    restart from the SAME checkpoint with the rest: buffered join state
    (clicks awaiting purchases and vice versa) must survive the restart
    — cross-restart matches appear exactly once and the final aggregate
    still equals the batch range join."""
    import glob
    import os
    import time

    from kafka_overwatch_spark.operators.relational import (
        events_preceding_window_join,
    )
    from kafka_overwatch_spark.streaming import events_stream as es
    from pyspark.sql.window import Window

    with tempfile.TemporaryDirectory() as tmp:
        ev = spark.table("events")
        n = ev.count()
        sliced = ev.withColumn(
            "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
        )
        per = (n + 3) // 4
        t0 = time.time() - 100
        seen: set = set()

        def write_slice(i, df=None):
            part = (
                df
                if df is not None
                else sliced.filter(
                    (F.col("rn") > i * per) & (F.col("rn") <= (i + 1) * per)
                ).drop("rn")
            )
            part.coalesce(1).write.mode("append").parquet(f"{tmp}/in")
            for f in glob.glob(f"{tmp}/in/*.parquet"):
                if f not in seen:
                    os.utime(f, (t0 + i, t0 + i))
                    seen.add(f)

        ckpt, sink = f"{tmp}/ck", f"{tmp}/out"

        def run_once():
            q = (
                es.streaming_click_attribution(
                    es.event_stream(spark, f"{tmp}/in")
                )
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300)

        write_slice(0)
        write_slice(1)
        run_once()
        write_slice(2)
        write_slice(3)
        write_slice(
            4,
            spark.createDataFrame(
                [
                    (-999, datetime.datetime(2099, 1, 1), -1, "purchase", 0.0, ""),
                    (-998, datetime.datetime(2099, 1, 1), -1, "click", 0.0, ""),
                ],
                schema=es.EVENT_SCHEMA,
            ),
        )
        run_once()

        rows = [
            r
            for r in spark.read.parquet(sink).collect()
            if r["purchase_id"] >= 0
        ]
        # no pair emitted twice across the restart
        matched = [
            (r["purchase_id"], r["click_id"])
            for r in rows
            if r["click_id"] is not None
        ]
        assert len(matched) == len(set(matched))
        got: dict = {}
        for r in rows:
            cnt, val = got.get(r["purchase_id"], (0, 0.0))
            if r["click_id"] is not None:
                got[r["purchase_id"]] = (cnt + 1, val + r["click_value"])
            else:
                got.setdefault(r["purchase_id"], (0, 0.0))
        want = {
            r["purchase_id"]: (r["clicks_1h"], r["click_value_1h"])
            for r in events_preceding_window_join(ev).collect()
        }
        assert set(got) == set(want)
        for pid, (cnt, val) in got.items():
            assert cnt == want[pid][0], (pid, cnt, want[pid])
            assert abs(val - want[pid][1]) < 1e-6


def test_late_data_metrics_surface_watermark_drops(spark, snaps):
    """A feed replayed with an out-of-order tail and a tight watermark
    must report dropped-late rows through the progress-based metrics —
    and a well-ordered feed must report zero."""
    from kafka_overwatch_spark.streaming import events_stream as es

    def run(tmp, shuffle_tail):
        ev = spark.table("events")
        n = ev.count()
        from pyspark.sql.window import Window

        sliced = ev.withColumn(
            "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
        )
        per = (n + 3) // 4
        order = [0, 1, 2, 3]
        if shuffle_tail:
            order = [1, 2, 3, 0]  # oldest quarter arrives LAST
        import glob
        import os
        import time

        t0 = time.time() - 100
        seen: set = set()
        for pos, i in enumerate(order):
            part = sliced.filter(
                (F.col("rn") > i * per) & (F.col("rn") <= (i + 1) * per)
            ).drop("rn")
            part.coalesce(1).write.mode("append").parquet(f"{tmp}/in")
            for f in glob.glob(f"{tmp}/in/*.parquet"):
                if f not in seen:
                    os.utime(f, (t0 + pos, t0 + pos))
                    seen.add(f)
        q = (
            es.windowed_counts(
                es.event_stream(spark, f"{tmp}/in"), watermark="1 hour"
            )
            .writeStream.format("memory")
            .queryName(f"late_{shuffle_tail}")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ck")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return es.late_data_metrics(q)

    with tempfile.TemporaryDirectory() as tmp:
        late = run(tmp, shuffle_tail=True)
    with tempfile.TemporaryDirectory() as tmp:
        ordered = run(tmp, shuffle_tail=False)
    assert sum(m["value"] for m in late) > 0, late
    assert all(
        m["metric"] == "streaming_rows_dropped_by_watermark" for m in late
    )
    assert sum(m["value"] for m in ordered) == 0, ordered


def test_streaming_session_windows_match_batch_native(spark, snaps):
    """The native session_window aggregate must produce identical
    sessions run as a stateful stream (append mode, sessions emitted on
    watermark passage) and as a batch aggregate — minus at most the
    trailing sessions the final watermark still holds open."""
    from kafka_overwatch_spark.operators.relational import (
        events_session_window_native,
    )
    from kafka_overwatch_spark.streaming import events_stream as es

    with tempfile.TemporaryDirectory() as tmp:
        ev = _split_events(spark, tmp)
        out = run_to_completion(
            es.streaming_session_windows(es.event_stream(spark, f"{tmp}/in")),
            f"{tmp}/ck",
        )
        got = {
            (r["user_id"], r["session_start_sec"]): (
                r["session_end_sec"], r["events"], r["total_value"],
            )
            for r in out
        }
        want = {
            (r["user_id"], r["session_start_sec"]): (
                r["session_end_sec"], r["events"], r["total_value"],
            )
            for r in events_session_window_native(ev).collect()
        }
        assert got, "stream emitted nothing"
        for k, v in got.items():
            assert want.get(k) == v, (
                f"session {k}: stream {v} != batch {want.get(k)}"
            )
        missing = set(want) - set(got)
        if missing:
            # append mode may hold exactly the sessions whose END is not
            # yet past the final watermark (global max ts - 1 day)
            horizon = (
                ev.agg(F.max(F.unix_timestamp("ts"))).collect()[0][0] - 86400
            )
            held_ends = [want[k][0] for k in missing]
            assert all(e >= horizon - 1 for e in held_ends), (
                f"sessions ending before the watermark were never "
                f"emitted: {sorted(held_ends)[:5]} vs horizon {horizon}"
            )


def test_streaming_dedup_within_watermark_bounded_state(spark, snaps):
    """The state-bounded dedup must drop a replayed batch exactly like
    the state-forever form (duplicates arrive within the horizon), while
    evicting old keys — streamed distinct count equals the batch one."""
    from kafka_overwatch_spark.streaming import events_stream as es

    with tempfile.TemporaryDirectory() as tmp:
        ev = _split_events(spark, tmp, duplicate_last=True)
        out = run_to_completion(
            es.streaming_dedup_within_watermark(
                es.event_stream(spark, f"{tmp}/in")
            ),
            f"{tmp}/ck3",
        )
        ids = [r["event_id"] for r in out]
        assert len(ids) == len(set(ids)) == ev.count()
