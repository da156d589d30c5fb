"""Tracing of the benchmark's traced run: spans around each call into an
engine layer, a summary of Spark's own event log per span, and a
streaming-progress listener.

Spans are kept in memory and written when the run ends. The event log
must be written with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``: the default is a zstd rolling
directory, which the standard library cannot read.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory. ``enabled=False`` makes ``span`` a
    no-op context, so timed and traced runs share one code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, layer, time.time(), parent=self._stack[-1] if self._stack else None,
                 attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def total(self, layer: str, pass_id: int | None = None) -> float:
        return sum(
            s.dur for s in self.spans
            if s.layer == layer and (pass_id is None or s.attrs.get("pass") == pass_id)
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **asdict(s)}) + "\n")


@dataclass
class ExecStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    in_stage_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0

    def add(self, o: "ExecStats") -> None:
        self.jobs += o.jobs
        self.stages += o.stages
        self.tasks += o.tasks
        self.in_stage_s += o.in_stage_s
        self.executor_cpu_s += o.executor_cpu_s
        self.shuffle_read_bytes += o.shuffle_read_bytes
        self.shuffle_write_bytes += o.shuffle_write_bytes
        self.spill_bytes += o.spill_bytes
        self.peak_exec_mem_bytes = max(self.peak_exec_mem_bytes, o.peak_exec_mem_bytes)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(path: str) -> tuple[list[dict], dict[int, dict], dict[int, list[dict]]]:
    """(jobs, stages by id, task ends by stage id) from one
    uncompressed, non-rolling event log file."""
    jobs, stages, tasks = [], {}, {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append(ev)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
    return jobs, stages, tasks


def exec_stats(log: tuple, start: float, end: float) -> ExecStats:
    """Spark's record of the jobs submitted in [start, end] (wall-clock
    seconds). The benchmark runs one client, so a span's jobs are those
    submitted while it was open; stream queries tag their jobs with
    their own run id, which rules out grouping by job group."""
    jobs, stages, tasks = log
    out = ExecStats()
    spans = []
    for job in jobs:
        t = job["Submission Time"] / 1000.0
        if not start <= t <= end:
            continue
        out.jobs += 1
        for sid in job["Stage IDs"]:
            info = stages.get(sid)
            if info is None or "Submission Time" not in info:
                continue  # skipped stage: its output was reused
            out.stages += 1
            spans.append((info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0))
            for t_end in tasks.get(sid, []):
                m = t_end.get("Task Metrics") or {}
                out.tasks += 1
                out.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics", {})
                out.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                out.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                out.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                out.peak_exec_mem_bytes = max(out.peak_exec_mem_bytes, m.get("Peak Execution Memory", 0))
    out.in_stage_s = _union_len([(max(s, start), min(e, end)) for s, e in spans if e > start])
    return out


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def progress_listener():
    """A StreamingQueryListener that keeps every progress report as a
    dict, keyed by query name (or id)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.reports: dict[str, list[dict]] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            self.reports.setdefault(str(p.get("name") or p["id"]), []).append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()
