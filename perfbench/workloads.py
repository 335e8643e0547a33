"""The benchmark's workloads. Each drives the package only through its
public functions and exposes the same interface to ``run.py``:

- ``generate()``: write the seeded inputs (not part of set-up time);
- ``start(spark, rep)``: per-session state for set-up repetition ``rep``;
- ``warm(spark)``: untimed warm-up ops before measuring;
- ``op(spark)``: one closed-loop operation; returns its latency in s;
- ``check(spark)``: mismatches of the outputs against the oracles
  (empty when correct);
- ``stop()``: release per-session state.

Every layer's output is forced with the noop sink inside that layer's
span, so lazy work is charged to the layer that built it.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import LongType, StringType, StructField, StructType

import gen
import oracle
from kafka_overwatch_spark.operators import governance as gov
from kafka_overwatch_spark.operators import lag as lagops
from kafka_overwatch_spark.operators import metrics as metricsops
from kafka_overwatch_spark.operators import report as reportops
from kafka_overwatch_spark.operators import schema_registry as sr
from kafka_overwatch_spark.operators import usage, windows
from kafka_overwatch_spark.sinks import exports, prometheus
from kafka_overwatch_spark.snapshot import filter_cluster
from kafka_overwatch_spark.sources.files import read_table
from kafka_overwatch_spark.streaming import offsets, report_stream


def _schema(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t) for n, t in fields])


S, L = StringType(), LongType()
SNAPSHOT_SCHEMAS = {
    "partition_offsets": offsets.OFFSET_SCHEMA,
    "topics": _schema(("cluster", S), ("name", S), ("partitions", L),
                      ("retention_ms", L), ("cleanup_policy", S)),
    "consumer_groups": _schema(("cluster", S), ("group_id", S),
                               ("state", S), ("members", L)),
    "group_offsets": _schema(("cluster", S), ("group_id", S), ("topic", S),
                             ("partition_id", L), ("committed_offset", L)),
    "subjects": _schema(("registry", S), ("subject", S)),
    "subject_versions": _schema(("registry", S), ("subject", S),
                                ("version", L), ("schema_id", L)),
    "schemas": _schema(("registry", S), ("schema_id", L),
                       ("schema_type", S), ("schema_string", S)),
    "topic_configs": _schema(("cluster", S), ("topic", S),
                             ("config_key", S), ("config_value", S)),
}


class _Workload:
    """Shared plumbing. ``emit`` forces a layer's output through the noop
    sink; during the check op it collects the output instead, under its
    registered query name, for comparison with that query's oracle."""

    def __init__(self, workdir: str, rng: np.random.Generator, tracer):
        self.workdir = workdir
        self.rng = rng
        self.tracer = tracer
        self.capture: dict | None = None
        self.problems: list[str] = []

    def start(self, spark, rep: int) -> None:
        pass

    def stop(self) -> None:
        pass

    def check(self, spark) -> list[str]:
        return self.problems

    def emit(self, name: str | None, df) -> None:
        if self.capture is not None and name:
            self.capture[name] = df.toArrow()
        else:
            df.write.format("noop").mode("overwrite").save()
        self.tracer.add_plan(df)

    def keep(self, name: str | None, df):
        """Materialize ``df`` once (local checkpoint) for the layers that
        read it again."""
        out = df.localCheckpoint(eager=True)
        self.tracer.add_plan(df)
        if self.capture is not None and name:
            self.capture[name] = out.toArrow()
        return out


class FleetReport(_Workload):
    """Closed loop, one client. Each op is ``primary``'s report cycle over
    a new generated two-cluster fleet window (a pool of windows is cycled
    through): read the eight snapshot tables pruned to ``primary``, then
    every report layer in the order the report consumes them. Every op
    reports the same cluster, so every op is the same amount of work.
    The first warm-up op (window 0) is the checked one."""

    name = "fleet_report"
    CLUSTER = oracle.CHECK_CLUSTER
    TOPICS = {"primary": 800, "analytics": 600}
    GROUPS = {"primary": 60, "analytics": 40}
    POOL = 3

    def __init__(self, workdir: str, rng: np.random.Generator, tracer):
        super().__init__(workdir, rng, tracer)
        self.dir = os.path.join(workdir, "fleet")
        self.cycle = 0

    def generate(self) -> None:
        for w in range(self.POOL):
            gen.write_tables(
                gen.fleet_window(self.rng, self.TOPICS, self.GROUPS),
                os.path.join(self.dir, f"w{w}"))

    def _read(self, spark, window: str) -> dict:
        return {t: read_table(spark, os.path.join(window, f"{t}.parquet"), s)
                for t, s in SNAPSHOT_SCHEMAS.items()}

    def op(self, spark) -> float:
        """``primary``'s report over the next window of the pool."""
        tr, emit, keep = self.tracer, self.emit, self.keep
        window = os.path.join(self.dir, f"w{self.cycle % self.POOL}")
        cluster = self.CLUSTER
        self.cycle += 1
        t0 = time.perf_counter()
        with tr.span("fleet_report"):
            with tr.span("sources.files"):
                snaps = {t: keep(None, df) for t, df in filter_cluster(
                    self._read(spark, window), cluster).items()}
            with tr.span("operators.usage"):
                topics_df = keep("topics_df", usage.build_topics_df(snaps))
                emit("waste_summary", usage.waste_summary(topics_df))
                emit("most_active_topics", usage.most_active_topics(topics_df))
            with tr.span("operators.lag"):
                lag_rows = keep("lag_per_partition",
                                lagops.lag_per_partition(snaps))
                emit("groups_df",
                     lagops.build_groups_df(snaps, lag_rows=lag_rows))
                emit("lag_per_topic",
                     lagops.lag_per_topic(snaps, lag_rows=lag_rows))
            with tr.span("operators.governance"):
                emit("governance_summary", gov.naming_convention_summary(
                    gov.governance_topics(snaps)))
                emit(None, gov.naming_convention_summary(
                    gov.governance_groups(snaps)))
            with tr.span("operators.schema_registry"):
                emit("sr_unused_subjects", sr.unused_subjects(snaps))
                emit("sr_backup_index", sr.backup_index(snaps))
            with tr.span("operators.windows"):
                emit("w1_offset_deltas", windows.offset_delta_per_scan(snaps))
                emit("w2_new_since_baseline",
                     windows.new_messages_since_baseline(snaps))
                emit("w3_first_offset_evolution",
                     windows.first_offset_evolution(snaps))
            with tr.span("operators.report"):
                emit("cluster_report_scalars", reportops.cluster_report_scalars(
                    snaps, cluster, topics_df=topics_df))
            with tr.span("operators.metrics"):
                gauges = keep("metrics_snapshot", metricsops.metrics_snapshot(
                    snaps, lag_rows=lag_rows))
            with tr.span("sinks.prometheus"):
                text = prometheus.render_exposition(gauges)
            with tr.span("sinks.exports"):
                emit("restore_commands", exports.restore_commands(snaps))
            for df in (topics_df, lag_rows, gauges, *snaps.values()):
                df.unpersist()
        if self.capture is not None:
            self._check(window, text)
        return time.perf_counter() - t0

    def warm(self, spark) -> None:
        """Two untimed warm-up ops. The first, on window 0, is checked:
        its outputs are compared with the registered oracles on the same
        pruned tables. The second lets the JVM's compilers settle:
        with one warm-up op, the first measured op ran ~10% slower than
        the next."""
        self.capture = {}
        try:
            self.op(spark)
        finally:
            self.capture = None
        self.op(spark)

    def _check(self, window: str, exposition: str) -> None:
        self.problems += oracle.compare_snapshot_surfaces(self.capture, window)
        self.problems += oracle.fleet_coverage(window)
        samples = sum(1 for ln in exposition.splitlines()
                      if not ln.startswith("#"))
        rows = self.capture["metrics_snapshot"].num_rows
        if samples != rows:
            self.problems.append(
                f"prometheus: {samples} samples for {rows} gauges")


class _Progress(StreamingQueryListener):
    """Collects every executed micro-batch's progress, keyed by run id,
    and wakes waiters."""

    def __init__(self) -> None:
        self.cv = threading.Condition()
        self.batches: dict[str, dict[int, object]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.cv:
            self.batches.setdefault(str(p.runId), {})[p.batchId] = p
            self.cv.notify_all()

    def wait(self, run_ids: list[str], batch_id: int, timeout: float) -> None:
        deadline = time.monotonic() + timeout
        with self.cv:
            while not all(batch_id in self.batches.get(r, {})
                          for r in run_ids):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"scan {batch_id} not processed")
                self.cv.wait(left)


class ScanStream(_Workload):
    """Closed loop over a generated offset-sample feed for one cluster.
    Three long-running queries in one session, each watching its own
    copy of the feed: ``offsets.per_interval_deltas`` (noop sink),
    ``offsets.streaming_lag`` (memory sink, read by the check) and a
    ``StreamingUsageReporter`` (foreachBatch). Each op hands the next scan
    to the three queries in turn, waiting for each one's micro-batch; its
    latency is the sum, the scan's cost through all three monitors."""

    name = "scan_stream"
    TOPICS, GROUPS, SCANS = 60, 40, 48
    # scans 1..3 are the warm-up: scan 3 carries the reporter's first,
    # cold report (every 4th batch reports), so the measured ops hold at
    # most one report op in four and their median is never a report op
    WARM_SCANS = 4

    def __init__(self, workdir: str, rng: np.random.Generator, tracer):
        super().__init__(workdir, rng, tracer)
        self.feed = os.path.join(workdir, "feed")
        self.queries: list = []

    def generate(self) -> None:
        gen.write_scan_feed(self.rng, self.feed, self.TOPICS, self.GROUPS,
                            self.SCANS)

    def start(self, spark, rep: int) -> None:
        """Fresh input and checkpoint dirs; the three queries start and
        process scan 0, the baseline."""
        base = os.path.join(self.workdir, f"session{rep}")
        # (feed kind, watched dir, layer) per query, in op order
        self.inputs = [(kind, os.path.join(base, f"in_{name}"), layer)
                       for kind, name, layer in (
                           ("offsets", "deltas", "streaming.offsets"),
                           ("lag", "lag", "streaming.offsets"),
                           ("offsets", "report", "streaming.report_stream"))]
        for _, watched, _ in self.inputs:
            os.makedirs(watched)
        self.listener = _Progress()
        spark.streams.addListener(self.listener)
        baseline = read_table(spark, self._feed_file("offsets", 0),
                              offsets.OFFSET_SCHEMA)
        reporter = report_stream.StreamingUsageReporter(
            baseline, os.path.join(base, "reports"), evaluate_every=4)
        self.lag_table = f"lag_{rep}"

        def start(writer, name):
            return writer.option(
                "checkpointLocation", os.path.join(base, name)).start()

        dirs = [watched for _, watched, _ in self.inputs]
        deltas = offsets.per_interval_deltas(
            offsets.offset_sample_stream(spark, dirs[0]))
        lag = offsets.streaming_lag(offsets.lag_sample_stream(spark, dirs[1]))
        usage_feed = offsets.offset_sample_stream(spark, dirs[2])
        self.queries = [
            start(deltas.writeStream.format("noop"), "ck_deltas"),
            start(lag.writeStream.format("memory")
                  .queryName(self.lag_table), "ck_lag"),
            start(usage_feed.writeStream.foreachBatch(reporter), "ck_report"),
        ]
        self.run_ids = [str(q.runId) for q in self.queries]
        self.next_scan = 0
        self.op(spark)  # scan 0, the baseline

    def stop(self) -> None:
        for q in self.queries:
            q.stop()
        self.queries = []

    def _feed_file(self, kind: str, scan: int) -> str:
        return os.path.join(self.feed, kind, f"scan-{scan:04d}.parquet")

    def _publish(self, kind: str, watched: str, k: int) -> None:
        """Atomically add scan ``k``'s file to a watched dir (a
        dot-prefixed name is invisible to the file source until renamed)."""
        tmp = os.path.join(watched, f".scan-{k:04d}.parquet")
        shutil.copyfile(self._feed_file(kind, k), tmp)
        os.rename(tmp, os.path.join(watched, f"scan-{k:04d}.parquet"))

    def op(self, spark) -> float:
        if self.next_scan >= self.SCANS:
            raise RuntimeError("scan feed exhausted")
        k = self.next_scan
        self.next_scan += 1
        tr = self.tracer
        latency, rows, nbytes = 0.0, 0, 0
        for (kind, watched, layer), rid in zip(self.inputs, self.run_ids):
            first_job = tr.next_job_id() if tr.active else 0
            t0 = time.perf_counter()
            self._publish(kind, watched, k)
            self.listener.wait([rid], k, 120)
            latency += time.perf_counter() - t0
            if tr.active:
                p = self.listener.batches[rid][k]
                # a query's jobs carry its run id as their job group
                jobs = [j for j in spark.sparkContext.statusTracker()
                        .getJobIdsForGroup(rid) if j >= first_job]
                tr.add_jobs(layer, jobs, p.batchDuration / 1e3,
                            p.durationMs.get("queryPlanning", 0))
                for st in p.stateOperators:
                    rows += st.numRowsTotal
                    nbytes += st.memoryUsedBytes
        tr.gauge("streaming.offsets.state_rows", rows)
        tr.gauge("streaming.offsets.state_bytes", nbytes)
        return latency

    def warm(self, spark) -> None:
        while self.next_scan < self.WARM_SCANS:
            self.op(spark)

    def check(self, spark) -> list[str]:
        """The streamed lag as of the last processed scan equals batch
        ``lag_per_partition`` over the same scans."""
        last = self.next_scan - 1
        streamed = spark.table(self.lag_table).filter(
            F.col("as_of_scan") == last).drop("as_of_scan")
        samples = read_table(spark, self._feed_file("lag", last),
                             offsets.LAG_SAMPLE_SCHEMA)
        snaps = {
            # lag_per_partition reads the final scan (usage.FINAL_SCAN)
            "partition_offsets": samples.filter(F.col("group_id").isNull())
            .withColumn("scan_id", F.lit(usage.FINAL_SCAN).cast("long")),
            "group_offsets": samples.filter(F.col("group_id").isNotNull()),
        }
        return oracle.compare_frames(
            "streaming_lag", streamed.toArrow(),
            lagops.lag_per_partition(snaps).toArrow())


WORKLOADS = {w.name: w for w in (FleetReport, ScanStream)}
