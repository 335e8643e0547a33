"""Spans around the benchmark's calls into each layer, with Spark's own
counters attributed to them.

A span records name, start, end, parent and op id in memory. The Spark
jobs a span submitted are the job ids handed out while it was open (the
benchmark is a single client, so nothing else submits jobs meanwhile);
its *own* jobs exclude those of its child spans. Stage counters
(executor run and CPU time, shuffle write) come from the
application status store, which Spark keeps with the UI disabled. Each
stage is counted once, in the first job that lists it, so a shuffle
stage reused by a later job is not counted twice.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

KINDS = ("self_s", "plan_ms", "jobs", "cpu_s", "run_s", "shuffle_bytes")


class Tracer:
    """Records only between ``begin`` and ``end`` of a traced run; the
    untraced run pays one attribute test per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.active = False
        self.op_id: object = None
        self.spans: list[dict] = []
        self.layers: dict[str, dict[str, float]] = {}
        self.gauges: dict[str, float] = {}
        self._stack: list[int] = []
        self._sc = None
        self._seen_stages: set[int] = set()

    def bind(self, spark) -> None:
        """Attach to the current SparkContext (again after a restart)."""
        self._sc = spark.sparkContext._jsc.sc()
        self._seen_stages = set()

    def begin(self, op_id: object) -> None:
        self.active = self.enabled
        self.op_id = op_id

    def end(self) -> None:
        """Stop recording and attribute stage counters to the spans of
        this op."""
        if self.active:
            self._settle()
        self.active = False

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "job_lo": self.next_job_id(),
            "plan_ms": 0.0,
            "probe_s": 0.0,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["job_hi"] = self.next_job_id()
            self._stack.pop()

    def add_plan(self, df) -> None:
        """Charge ``df``'s analysis + optimization + planning time to the
        innermost open span, read from the tracker of the frame's own
        QueryExecution (planning it there if it has not run). The probe's
        own time is not charged to the span."""
        if not self.active or not self._stack:
            return
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().values().iterator()
        total = 0
        while it.hasNext():
            total += it.next().durationMs()
        rec = self.spans[self._stack[-1]]
        rec["plan_ms"] += float(total)
        rec["probe_s"] += time.perf_counter() - t0

    def add(self, layer: str, **kinds: float) -> None:
        """Charge measured quantities to ``layer`` directly."""
        if self.active:
            agg = self._layer(layer)
            for k, v in kinds.items():
                agg[k] += v

    def _layer(self, name: str) -> dict[str, float]:
        return self.layers.setdefault(name, dict.fromkeys(KINDS, 0.0))

    def gauge(self, name: str, value: float) -> None:
        if self.active:
            self.gauges[name] = float(value)

    def add_jobs(self, layer: str, job_ids, busy_s: float,
                 plan_ms: float) -> None:
        """Charge work that ran outside any span (a streaming query's
        micro-batch) to ``layer``: its busy time, planning time and
        jobs."""
        if not self.active:
            return
        self._sc.listenerBus().waitUntilEmpty()
        agg = self._layer(layer)
        agg["self_s"] += busy_s
        agg["plan_ms"] += plan_ms
        self._add_counters(agg, job_ids)

    def _add_counters(self, agg: dict[str, float], job_ids) -> None:
        store = self._sc.statusStore()
        agg["jobs"] += len(job_ids)
        for jid in job_ids:
            try:
                stage_ids = store.job(jid).stageIds()
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — never ran (skipped)
                    continue
                agg["cpu_s"] += st.executorCpuTime() / 1e9
                agg["run_s"] += st.executorRunTime() / 1e3
                agg["shuffle_bytes"] += st.shuffleWriteBytes()

    def _settle(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()
        mine = [i for i, s in enumerate(self.spans)
                if s["op"] == self.op_id and "settled" not in s]
        for i in mine:
            rec = self.spans[i]
            children = [c for c in self.spans if c["parent"] == i]
            child_jobs = set()
            for c in children:
                child_jobs.update(range(c["job_lo"], c["job_hi"]))
            own = [j for j in range(rec["job_lo"], rec["job_hi"])
                   if j not in child_jobs]
            agg = self._layer(rec["name"])
            agg["self_s"] += (rec["end"] - rec["start"] - rec["probe_s"]
                              - sum(c["end"] - c["start"] for c in children))
            agg["plan_ms"] += rec["plan_ms"]
            self._add_counters(agg, own)
            rec["settled"] = True

    def dump(self, path: str) -> None:
        """Write the spans (name, start, end, parent, op id, plan time) as
        JSON lines."""
        with open(path, "w") as fh:
            for i, rec in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **rec}) + "\n")


def peak_rss_kb() -> int:
    """Summed peak resident memory (the kernel's ``VmHWM``) of this
    process's live descendants: the driver JVM, the Python worker daemon
    and its workers. Read once, after measuring, so it costs the timed
    ops nothing; a worker that already exited is not counted."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    todo, total = list(kids.get(os.getpid(), [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += next(int(ln.split()[1]) for ln in fh
                              if ln.startswith("VmHWM:"))
        except (OSError, StopIteration, IndexError, ValueError):
            continue
    return total
