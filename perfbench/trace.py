"""Spans and Spark status-store counters, recorded from outside the program.

A `Tracer` times every call the benchmark makes into a layer of the
package. With tracing on it also

- tags the call's Spark jobs with a job group of its own, and reads that
  group's jobs and stages from the driver's live status store right after
  the call (the store evicts entries beyond `spark.ui.retainedJobs` and
  `spark.ui.retainedStages`, so a later read could miss them);
- reads a streaming query's jobs by its `runId`, the job group Structured
  Streaming gives every job of the query, and turns each entry of
  `query.recentProgress` into a micro-batch span under the call.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Per-call counters read from the status store; times in seconds, sizes
# in bytes. Failed jobs are counted apart, as `failed_jobs`.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    name: str
    kind: str  # run | setup | unit | call | batch
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    layer: str | None = None
    counters: dict = field(default_factory=dict)
    stage_windows: list = field(default_factory=list)  # [(start, end)] epoch s
    failed: bool = False

    @property
    def seconds(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class StatusStore:
    """Reads jobs and stages of one job group from the driver's
    `AppStatusStore`, which is populated with the UI off. Each object is
    serialised to JSON inside the JVM, so a job or stage costs two py4j
    round trips whatever its width."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def group_counters(self, group: str) -> tuple[dict, list]:
        """(counters, stage windows) over every job of `group`."""
        c = dict.fromkeys(COUNTERS, 0)
        c["failed_jobs"] = 0
        windows = []
        seen_stages = set()
        for job_id in self._tracker.getJobIdsForGroup(group):
            job = self._json(self._store.job(job_id))
            c["jobs"] += 1
            c["failed_jobs"] += job["status"] == "FAILED"
            for sid in job["stageIds"]:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self._json(self._store.lastStageAttempt(sid))
                if st["status"] == "SKIPPED" or st["submissionTime"] is None:
                    continue
                c["stages"] += 1
                c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                c["executor_run_s"] += st["executorRunTime"] / 1e3
                c["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                c["gc_s"] += st["jvmGcTime"] / 1e3
                c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                c["shuffle_read_bytes"] += st["shuffleReadBytes"]
                c["spill_bytes"] += st["diskBytesSpilled"]
                end = st["completionTime"] or time.time() * 1e3
                windows.append((st["submissionTime"] / 1e3, end / 1e3))
        return c, windows


class Tracer:
    """Span recorder. Spans are always timed, which is what the
    end-to-end metrics need. Only while `enabled` (a traced pass) does a
    call get a job group and its status-store counters; `enabled` can be
    set only on a tracer made `with_counters`."""

    def __init__(self, spark, with_counters: bool):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seq = 0
        self._store = StatusStore(spark) if with_counters else None

    @contextmanager
    def span(self, name: str, kind: str, layer: str | None = None):
        """Time a block; kind 'call' spans are attributed to `layer`."""
        s = Span(name, kind, time.time(), parent=self._stack[-1] if self._stack else None,
                 layer=layer)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        group = None
        if self.enabled and kind == "call":
            self._seq += 1
            group = f"perfbench-{self._seq}"
            self.spark.sparkContext.setJobGroup(group, name, False)
        try:
            yield s
        except BaseException:
            s.failed = True
            raise
        finally:
            s.end = time.time()
            self._stack.pop()
            if group is not None:
                self.spark.sparkContext._jsc.clearJobGroup()
                self._add_group(s, group)

    def _add_group(self, s: Span, group: str) -> None:
        counters, windows = self._store.group_counters(group)
        for k, v in counters.items():
            s.counters[k] = s.counters.get(k, 0) + v
        s.stage_windows.extend(windows)

    def add_stream(self, call: Span, query) -> list[Span]:
        """Attach a finished streaming query to its call span: its jobs
        (job group = the query's runId) and one span per micro-batch."""
        batches = []
        parent = self.spans.index(call)
        for p in query.recentProgress:
            if not p.get("numInputRows"):
                continue
            d = p["durationMs"]
            start = _iso_epoch(p["timestamp"])
            b = Span(f"batch {p['batchId']}", "batch", start, start + d["triggerExecution"] / 1e3,
                     parent=parent, layer=call.layer)
            b.counters = {
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "offset_s": (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3,
                "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
                "rows": p["numInputRows"],
            }
            self.spans.append(b)
            batches.append(b)
        if self.enabled:
            self._add_group(call, str(query.runId))
        return batches

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_seconds(self, idx: int) -> float:
        s = self.spans[idx]
        return s.seconds - union_length(
            [(c.start, c.end) for c in self.children(idx)], s.start, s.end
        )

    def dump(self) -> list[dict]:
        out = []
        for i, s in enumerate(self.spans):
            out.append({
                "id": i, "name": s.name, "kind": s.kind, "layer": s.layer,
                "parent": s.parent, "start": s.start, "end": s.end,
                "self_s": self.self_seconds(i), "failed": s.failed,
                "counters": s.counters,
            })
        return out


def _iso_epoch(ts: str) -> float:
    """'2026-10-17T03:21:30.123Z' → epoch seconds."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()
