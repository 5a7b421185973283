"""Traced-run instruments: spans tagged with Spark job groups, a
streaming-progress recorder, and the event-log fold.

Spans are kept in memory and written once, at the end of the run. Each
span runs its Spark jobs under its own job group, so the jobs, tasks
and executor counters of a layer are read by group: from
``statusTracker()`` while the context is alive, and from the event log
after it stops. A streaming query's jobs carry its ``runId`` as group;
the recorder attributes each run id to the span that was open when the
query started.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

JOB_GROUP = "spark.jobGroup.id"


def progress_record(p: dict) -> dict:
    """The fields the benchmark uses from one ``StreamingQueryProgress``
    (as parsed JSON)."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    dur = p.get("durationMs") or {}
    src = p["sources"][0] if p.get("sources") else {}
    end_offset = src.get("endOffset") or {}
    if isinstance(end_offset, str):
        end_offset = json.loads(end_offset)
    ops = p.get("stateOperators") or []
    return {
        "batch_id": p["batchId"],
        "run_id": p["runId"],
        "end_s": start + dur.get("triggerExecution", 0) / 1000.0,
        "end_offsets": {int(k): int(v) for k, v in end_offset.items()},
        "rows": p.get("numInputRows", 0),
        "duration_ms": dur,
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "dropped": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
    }


def poll_progress(query, seen: dict[int, dict]) -> None:
    """Untraced progress reads: fold ``recentProgress`` (the last 100
    batches) into ``seen`` by batch id. Call often enough that fewer
    than 100 batches complete between calls."""
    for p in query.recentProgress:
        rec = progress_record(json.loads(p.json))
        seen.setdefault(rec["batch_id"], rec)


class Tracer(StreamingQueryListener):
    """Spans, plus every streaming batch reported while it listens."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.batches: list[dict] = []
        self.run_span: dict[str, int] = {}
        self._running: set[str] = set()
        self._open: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def listening(self, timeout_s: float = 10.0):
        """Receive streaming progress only inside this block, so the
        untraced passes of a traced run carry no listener. Listener
        events arrive asynchronously: on exit, wait until every query
        that started inside the block has reported its end, so no last
        batch is lost."""
        self.spark.streams.addListener(self)
        try:
            yield
        finally:
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                with self._lock:
                    if not self._running:
                        break
                time.sleep(0.02)
            self.spark.streams.removeListener(self)

    def bind_run(self, run_id: str, rec: dict) -> None:
        """Attribute a query started before listening to a span."""
        with self._lock:
            self.run_span[run_id] = rec["id"]

    def add_span(self, name: str, start: float, end: float | None = None) -> dict:
        """Record a span; its jobs run under the job group it returns."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "group": f"perfbench-{sid}-{name}",
            "start": start,
            "end": end,
        }
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str):
        rec = self.add_span(name, time.time())
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, rec["group"])
        with self._lock:
            self._open.append(rec["id"])
        try:
            yield rec
        finally:
            with self._lock:
                self._open.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev_group)
            rec["end"] = time.time()

    def finish(self) -> None:
        """Count each span's jobs while the context is still alive."""
        for rec in self.spans:
            self.count_jobs(rec)

    def groups_of(self, rec: dict) -> list[str]:
        with self._lock:
            runs = [r for r, s in self.run_span.items() if s == rec["id"]]
        return [rec["group"], *runs]

    def count_jobs(self, rec: dict) -> None:
        """Jobs, tasks and failed tasks of a span, per job group."""
        tracker = self.sc.statusTracker()
        rec["groups"] = {}
        for group in self.groups_of(rec):
            jobs = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(group):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st:
                        tasks += st.numTasks
                        failed += st.numFailedTasks
            rec["groups"][group] = {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}

    def span_batches(self, rec: dict) -> list[dict]:
        runs = set(self.groups_of(rec))
        with self._lock:
            return [b for b in self.batches if b["run_id"] in runs]

    # StreamingQueryListener callbacks run on the py4j callback thread.
    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.run_span[str(event.runId)] = self._open[-1] if self._open else -1
            self._running.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        rec = progress_record(json.loads(event.progress.json))
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._running.discard(str(event.runId))

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans}, f, indent=1, default=str)


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Executor counters per job group from every uncompressed event
    log under ``log_dir``: run, CPU and GC ms, and shuffle bytes
    written."""
    out: dict[str, dict[str, float]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        stage_group: dict[int, str] = {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(JOB_GROUP)
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out.setdefault(
                        group, {"run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_bytes": 0.0}
                    )
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return out
