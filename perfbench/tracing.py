"""Outside-in tracing for the benchmark's traced runs.

Nothing here touches the package's code. The tracer

- records spans (name, start, end, parent, op id) around calls into the
  package's public entry points, kept in memory until the run ends;
- gives every span its own Spark job group, so ``statusTracker`` can
  say which jobs each (op, phase) launched;
- listens to streaming progress with a ``StreamingQueryListener``
  (stream jobs do not inherit the caller's job group, so streaming is
  attributed by time window instead);
- parses Spark's event log afterwards for per-stage task time, GC,
  shuffle, spill, input bytes and the Python-worker byte counters.

:class:`NullTracer` is the untraced stand-in: same interface, no work.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    forces_plan = False

    @contextlib.contextmanager
    def span(self, name: str, op: str = ""):
        yield None


class Tracer:
    """Spans with one job group each; see the module docstring."""

    # traced runs force ``executedPlan`` before a query's write, so that
    # planning gets a span of its own (``spark.plan_s``)
    forces_plan = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.progress: list[dict] = []
        self._listener = _progress_listener(self.progress)
        spark.streams.addListener(self._listener)
        self._spark = spark

    @contextlib.contextmanager
    def span(self, name: str, op: str = ""):
        parent = self._stack[-1] if self._stack else None
        op = op or (self.spans[parent].op if parent is not None else "")
        idx = len(self.spans)
        group = f"pb{idx}"
        self.sc.setJobGroup(group, f"{op}:{name}")
        sp = Span(name, op, time.time(), parent=parent)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            if self._stack:
                self.sc.setJobGroup(f"pb{self._stack[-1]}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def close(self) -> None:
        """Flush pending listener events and detach the listener."""
        bus = self.sc._jsc.sc().listenerBus()  # noqa: SLF001
        bus.waitUntilEmpty(10_000)
        self._spark.streams.removeListener(self._listener)

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the time its direct children cover (spans
        come from one thread, so children never overlap)."""
        idx = self.spans.index(sp)
        return sp.seconds - sum(c.seconds for c in self.spans if c.parent == idx)

    def in_window(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if s.start >= t0 and s.end <= t1]


def _progress_listener(sink: list[dict]):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            sink.append({
                "time": start.timestamp(),
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def streaming_metrics(progress: list[dict], t0: float, t1: float) -> dict:
    evs = [p for p in progress if t0 <= p["time"] <= t1]
    dur = lambda k: sum(p["duration_ms"].get(k, 0) for p in evs) / 1000.0  # noqa: E731
    return {
        "batches": len(evs),
        "input_rows": sum(p["rows"] for p in evs),
        "batch_s": dur("triggerExecution"),
        "commit_s": dur("commitOffsets") + dur("walCommit"),
        "state_rows": sum(p["state_rows"] for p in evs),
    }


# --- event log ---------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class StageStats:
    submitted: float
    tasks: int
    run_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    input_bytes: int
    py_sent: int
    py_recv: int
    task_s: list[float] = field(default_factory=list)


def _acc(stage_info: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for a in stage_info.get("Accumulables", []):
        name, value = a.get("Name"), a.get("Value")
        if name is None or value is None:
            continue
        try:
            out[name] = out.get(name, 0) + int(value)
        except (TypeError, ValueError):
            continue
    return out


def parse_event_log(log_dir: Path) -> tuple[list[StageStats], list[dict]]:
    """Completed stages and SQL executions (start time, scan-node count).

    Called after the session has stopped, when Spark has closed the
    log file.
    """
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stages: dict[tuple[int, int], StageStats] = {}
    task_times: dict[tuple[int, int], list[float]] = {}
    executions: list[dict] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                task_times.setdefault(key, []).append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0
                )
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                a = _acc(si)
                m = lambda k: a.get(f"internal.metrics.{k}", 0)  # noqa: E731
                stages[(si["Stage ID"], si["Stage Attempt ID"])] = StageStats(
                    submitted=si.get("Submission Time", 0) / 1000.0,
                    tasks=si.get("Number of Tasks", 0),
                    run_s=m("executorRunTime") / 1000.0,
                    gc_s=m("jvmGCTime") / 1000.0,
                    shuffle_write=m("shuffle.write.bytesWritten"),
                    shuffle_read=m("shuffle.read.remoteBytesRead")
                    + m("shuffle.read.localBytesRead"),
                    spill=m("diskBytesSpilled"),
                    input_bytes=m("input.bytesRead"),
                    py_sent=a.get(_PY_SENT, 0),
                    py_recv=a.get(_PY_RECV, 0),
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                executions.append({
                    "time": ev["time"] / 1000.0,
                    "scans": _count_scans(ev.get("sparkPlanInfo", {})),
                })
    for key, st in stages.items():
        st.task_s = task_times.get(key, [])
    return list(stages.values()), executions


def _count_scans(plan: dict) -> int:
    own = 1 if plan.get("nodeName", "").startswith("Scan ") else 0
    return own + sum(_count_scans(c) for c in plan.get("children", []))


def stage_metrics(stages: list[StageStats], t0: float, t1: float) -> dict:
    """Totals over stages submitted in ``[t0, t1]``."""
    sel = [s for s in stages if t0 <= s.submitted <= t1]
    mb = 1024.0 * 1024.0
    skews = []
    for s in sel:
        if len(s.task_s) >= 2:
            med = statistics.median(s.task_s)
            if med > 0:
                skews.append(max(s.task_s) / med)
    return {
        "stages": len(sel),
        "tasks": sum(s.tasks for s in sel),
        "task_s": sum(s.run_s for s in sel),
        "gc_s": sum(s.gc_s for s in sel),
        "shuffle_write_mb": sum(s.shuffle_write for s in sel) / mb,
        "shuffle_read_mb": sum(s.shuffle_read for s in sel) / mb,
        "spill_mb": sum(s.spill for s in sel) / mb,
        "input_mb": sum(s.input_bytes for s in sel) / mb,
        "stage_skew": statistics.median(skews) if skews else 1.0,
        "py_sent_mb": sum(s.py_sent for s in sel) / mb,
        "py_recv_mb": sum(s.py_recv for s in sel) / mb,
        "py_task_s": sum(s.run_s for s in sel if s.py_sent or s.py_recv),
    }
