"""Spans around calls into the package's layers, and the fold of Spark's
own event log into per-layer numbers.

A span records the layer name, the operation, start, end and its parent
iteration id. While tracing is on, each span also sets the Spark job group
to ``perfbench|<iteration>|<layer>|<op>``, so every stage submitted inside
it carries that tag in the event log (``SparkListenerStageSubmitted``
properties). ``fold`` then charges each task of the log to the layer whose
tag its stage carries. Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

TAG_PREFIX = "perfbench"
_UNTAGGED = f"{TAG_PREFIX}|-|-|-"
# SQL metric, milliseconds. Its siblings "time to start/initialize Python
# workers" are measured from the worker's boot, so a reused worker reports
# its whole age; they are left out.
_PY_TIME = "time to run Python workers"


@dataclass
class Span:
    layer: str
    op: str
    start: float
    end: float
    parent: str | None  # iteration id; None for the iteration span itself

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, op: str, parent: str | None):
        """A layer span (tags its Spark jobs while tracing is on) or, with
        ``parent=None``, an iteration span (tags nothing)."""
        tag = self.enabled and parent is not None
        if tag:
            self.sc.setJobGroup(f"{TAG_PREFIX}|{parent}|{layer}|{op}", op)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(layer, op, start, time.time(), parent))
            if tag:
                self.sc.setJobGroup(_UNTAGGED, "")

    def iteration(self, it_id: str):
        return self.span("iteration", it_id, None)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


def read_events(log_dir: str) -> list[dict]:
    """Every JSON event under ``log_dir`` (plain or rolling layout; the
    session must run with ``spark.eventLog.compress=false``)."""
    events = []
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        events.append(json.loads(line))
    return events


@dataclass
class _Acc:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    python_ms: int = 0


def tasks_by_tag(events: list[dict]) -> list[tuple[str | None, dict]]:
    """(job-group tag of the task's stage, TaskEnd event) for every task."""
    stage_tag: dict[int, str | None] = {}
    for e in events:
        if e["Event"] == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_tag[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
    return [
        (stage_tag.get(e["Stage ID"]), e)
        for e in events
        if e["Event"] == "SparkListenerTaskEnd"
    ]


def fold_iterations(
    events: list[dict], spans: list[Span], cores: int
) -> dict[tuple[str, str], dict]:
    """Metrics per (iteration id, layer) for every layer span.

    ``busy_s`` is span self time (layer spans are leaves, so their whole
    duration); ``idle_core_s`` is ``busy_s × cores`` minus the task run
    time, i.e. the core-seconds the layer held but left idle (barriers,
    driver-side work, scheduling).
    """
    acc: dict[tuple[str, str], _Acc] = {}
    stage_runs: dict[tuple[str, str], dict[int, list[int]]] = {}
    for tag, e in tasks_by_tag(events):
        if not tag or not tag.startswith(TAG_PREFIX + "|") or tag == _UNTAGGED:
            continue
        _, it_id, layer, _op = tag.split("|", 3)
        key = (it_id, layer)
        a = acc.setdefault(key, _Acc())
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics", {})
        a.tasks += 1
        a.run_ms += m.get("Executor Run Time", 0)
        a.cpu_ns += m.get("Executor CPU Time", 0)
        a.gc_ms += m.get("JVM GC Time", 0)
        a.shuffle_write += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        a.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        a.spill += m.get("Disk Bytes Spilled", 0)
        for u in e["Task Info"].get("Accumulables", []):
            if u.get("Name") == _PY_TIME:
                a.python_ms += int(u.get("Update") or 0)
        stage_runs.setdefault(key, {}).setdefault(e["Stage ID"], []).append(
            m.get("Executor Run Time", 0)
        )

    busy: dict[tuple[str, str], float] = {}
    for s in spans:
        if s.parent is not None:
            busy[(s.parent, s.layer)] = busy.get((s.parent, s.layer), 0.0) + s.seconds

    out = {}
    for key, busy_s in busy.items():
        a = acc.get(key, _Acc())
        out[key] = {
            "busy_s": busy_s,
            "idle_core_s": busy_s * cores - a.run_ms / 1e3,
            "cpu_s": a.cpu_ns / 1e9,
            "gc_s": a.gc_ms / 1e3,
            "python_s": a.python_ms / 1e3,
            "shuffle_write_mb": a.shuffle_write / 2**20,
            "shuffle_read_mb": a.shuffle_read / 2**20,
            "spill_mb": a.spill / 2**20,
            "tasks": a.tasks,
            "task_skew": _skew(stage_runs.get(key, {})),
        }
    return out


def fold(events: list[dict], spans: list[Span], cores: int) -> dict[str, dict]:
    """``{layer: {metric: median over the traced iterations}}``."""
    per_layer: dict[str, list[dict]] = {}
    for (_, layer), metrics in fold_iterations(events, spans, cores).items():
        per_layer.setdefault(layer, []).append(metrics)
    return {
        layer: {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        for layer, rows in per_layer.items()
    }


def _skew(stages: dict[int, list[int]]) -> float:
    """Run-time-weighted mean over stages of max / median task run time."""
    num = den = 0.0
    for runs in stages.values():
        if len(runs) < 2:
            continue
        weight = float(sum(runs))
        num += weight * max(runs) / max(statistics.median(runs), 1)
        den += weight
    return num / den if den else 1.0


def attribution_errors(
    events: list[dict], spans: list[Span], slack_s: float = 0.05
) -> list[str]:
    """Tasks launched inside a traced iteration that are not charged to
    exactly one layer span: untagged, or running outside every span of the
    layer their tag names."""
    by_key: dict[tuple[str, str], list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_key.setdefault((s.parent, s.layer), []).append(s)
    traced = {it_id for it_id, _ in by_key}
    iterations = [s for s in spans if s.parent is None and s.op in traced]
    errors = []
    for tag, e in tasks_by_tag(events):
        info = e["Task Info"]
        launch, finish = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
        if not any(it.start <= launch <= it.end for it in iterations):
            continue
        tid = info["Task ID"]
        if not tag or tag == _UNTAGGED or not tag.startswith(TAG_PREFIX + "|"):
            errors.append(f"task {tid}: no layer tag ({tag!r})")
            continue
        _, it_id, layer, _ = tag.split("|", 3)
        owners = [
            s
            for s in by_key.get((it_id, layer), [])
            if s.start - slack_s <= launch and finish <= s.end + slack_s
        ]
        if len(owners) != 1:
            errors.append(
                f"task {tid}: tag {tag} matches {len(owners)} spans of its layer"
            )
    return errors
