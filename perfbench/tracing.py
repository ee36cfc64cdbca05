"""Spans recorded from the benchmark's own code, and the Spark event-log
parser that turns task metrics into per-layer figures.

A span is opened around each call into a layer. While it is open the
Spark job description is the span's name, so every Spark job the call
triggers carries it into the event log; ``parse_event_log`` then sums
the task metrics of those jobs per description. Descriptions that start
with ``bench:`` mark the benchmark's own jobs (inputs, checks, counts).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

BENCH_PREFIX = "bench:"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written once, when the run ends."""

    # description of jobs run while no span is open: the benchmark's own
    IDLE = BENCH_PREFIX + "idle"

    def __init__(self, run_id: str, set_description=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []
        # sc.setJobDescription; None outside a Spark session (tests)
        self._set_description = set_description or (lambda _name: None)
        self._set_description(self.IDLE)
        # attr -> (args, kwargs, result) of its latest call under around()
        self.calls: dict[str, tuple] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_description(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._set_description(self._stack[-1] if self._stack else self.IDLE)
            self.spans.append(Span(name, start, end, parent, self.run_id))

    @contextlib.contextmanager
    def around(self, module, attr: str, name):
        """Open span ``name`` around every call of ``module.attr`` made
        while the block runs (for layer calls made inside another
        layer's entry point); the attribute is restored afterwards.

        ``name`` may instead be a function of the call's arguments that
        returns the span name, or None for a call that gets no span.
        Either way the latest call's arguments and result are kept in
        ``calls[attr]``, for counts taken after the entry point returns.
        """
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            with self.span(span_name) if span_name else contextlib.nullcontext():
                result = original(*args, **kwargs)
            self.calls[attr] = (args, kwargs, result)
            return result

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, original)

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Duration of the spans called ``name`` minus the time their
        direct children cover."""
        own = self.total(name)
        children = sum(s.seconds for s in self.spans if s.parent == name)
        return own - children

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


_METRIC_KEYS = ("task_s", "gc_s", "shuffle_mb", "spill_mb", "jobs", "tasks", "tasks_failed")


def _new_bucket() -> dict[str, float]:
    return {k: 0 for k in _METRIC_KEYS}


def event_log_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``, in
    write order (rolling ``eventlog_v2_*/events_<n>_*`` or single-file)."""
    def order(path: str) -> tuple[str, int]:
        base = os.path.basename(path)
        parts = base.split("_")
        n = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return os.path.dirname(path), n

    rolling = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    single = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    return sorted(rolling, key=order) + sorted(single)


def parse_event_log(paths: list[str]) -> dict[str | None, dict[str, float]]:
    """Sum task metrics per job description.

    A task belongs to the job that first listed its stage (a stage shared
    by a later job is skipped there and runs no tasks). The ``None`` key
    collects tasks of jobs that ran with no description — unattributed.
    Shuffle is bytes written (each shuffled byte is written once and read
    once); spill is bytes spilled to disk.
    """
    job_desc: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    out: dict[str | None, dict[str, float]] = defaultdict(_new_bucket)
    wanted = ('"SparkListenerJobStart"', '"SparkListenerTaskEnd"')
    for path in paths:
        with open(path) as f:
            for line in f:
                head = line[:60]
                if not any(w in head for w in wanted):
                    continue
                e = json.loads(line)
                if e["Event"] == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    desc = (e.get("Properties") or {}).get("spark.job.description")
                    job_desc[jid] = desc
                    out[desc]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                    continue
                desc = job_desc.get(stage_job.get(e["Stage ID"], -1))
                b = out[desc]
                b["tasks"] += 1
                if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                    b["tasks_failed"] += 1
                m = e.get("Task Metrics") or {}
                b["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                b["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                sw = m.get("Shuffle Write Metrics") or {}
                b["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
    return dict(out)


def unattributed_tasks(parsed: dict[str | None, dict[str, float]], known: set[str]) -> int:
    """Tasks whose job carried no description, or one that names neither
    a known layer span nor the benchmark's own work."""
    return int(sum(
        b["tasks"] for desc, b in parsed.items()
        if desc is None or (desc not in known and not desc.startswith(BENCH_PREFIX))
    ))


def layer_totals(parsed: dict[str | None, dict[str, float]], descriptions: list[str]) -> dict[str, float]:
    """Task metrics of all jobs run under any of ``descriptions``."""
    total = _new_bucket()
    for d in descriptions:
        for k, v in parsed.get(d, {}).items():
            total[k] += v
    return total
