"""Spans around the engine's public layer functions, and the Spark event-log
phase table.

Spans are recorded from outside the engine: :class:`Spans` replaces a
function or method with a timing wrapper for the life of a ``with`` block
and restores the original afterwards. Each span keeps wall-clock start/end
(``time.time``) so it can be lined up with the event log's job times.

:func:`phase_table` reads the event log Spark writes when
``spark.eventLog.enabled`` is set, and groups jobs by the crawl's job
labels (``r<k>:<phase>``, ``init_frontier``, ``compact``).
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable

_ABSENT = object()


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds
    end: float
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Spans:
    """Record spans around patched callables; restore them on exit."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []

    def wrap(self, owner: Any, attr: str, name: str,
             attrs_fn: Callable[..., dict] | None = None,
             result_fn: Callable[[Any], dict] | None = None) -> None:
        """Patch ``owner.attr``; ``attrs_fn(*args, **kw)`` and
        ``result_fn(result)`` add attributes to each span."""
        orig = getattr(owner, attr)
        spans = self.spans

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            t0 = time.time()
            res = orig(*args, **kw)
            t1 = time.time()
            a = attrs_fn(*args, **kw) if attrs_fn else {}
            if result_fn:
                a.update(result_fn(res))
            spans.append(Span(name, t0, t1, a))
            return res

        self._patches.append((owner, attr, vars(owner).get(attr, _ABSENT)))
        setattr(owner, attr, wrapper)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def __enter__(self) -> "Spans":
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is _ABSENT:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()


def spans_outside_rounds(spans: list[Span], rounds: list[Span]) -> int:
    """Spans that start inside a ``run_round`` call but end after it: work a
    round left running past its own return."""
    bad = 0
    for s in spans:
        for r in rounds:
            if r.start <= s.start <= r.end and s.end > r.end + 1e-3:
                bad += 1
    return bad


# ---------------------------------------------------------------- event log

def _label(desc: str | None) -> str | None:
    """``r3:commit:seen`` -> ``commit_seen``; unlabeled jobs -> None."""
    if not desc:
        return None
    if desc[0] == "r" and ":" in desc and desc[1:desc.index(":")].isdigit():
        desc = desc[desc.index(":") + 1:]
    return desc.replace(":", "_")


def _union(intervals: list[tuple[float, float]]) -> list[list[float]]:
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def read_event_log(events_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """Jobs (label, start/end seconds, stage ids) and tasks per stage from
    every uncompressed event-log file under ``events_dir``."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for dirpath, _dirs, files in os.walk(events_dir):
        for fname in sorted(files):
            if fname.startswith("appstatus") or fname.endswith(".inprogress.crc"):
                continue
            with open(os.path.join(dirpath, fname), encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jobs[ev["Job ID"]] = {
                            "label": _label(props.get("spark.job.description")),
                            "start": ev["Submission Time"] / 1000.0,
                            "stages": ev.get("Stage IDs", []),
                        }
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        info = ev.get("Task Info") or {}
                        m = ev.get("Task Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        tasks[ev["Stage ID"]].append({
                            "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        })
    done = [j for j in jobs.values() if "end" in j]
    return done, tasks


def phase_table(jobs: list[dict], tasks: dict[int, list[dict]]) -> dict[str, dict[str, float]]:
    """Per phase label: merged job wall, busy core-seconds, shuffle MB
    written, and task skew (max / median task time)."""
    by: dict[str, list[dict]] = defaultdict(list)
    for j in jobs:
        if j["label"]:
            by[j["label"]].append(j)
    out = {}
    for label, js in by.items():
        wall = sum(b - a for a, b in _union([(j["start"], j["end"]) for j in js]))
        ts = [t for j in js for sid in j["stages"] for t in tasks.get(sid, ())]
        durs = [t["dur"] for t in ts]
        med = statistics.median(durs) if durs else 0.0
        out[label] = {
            "wall_s": wall,
            "busy_core_s": sum(durs),
            "shuffle_mb": sum(t["shuffle_bytes"] for t in ts) / 1e6,
            "task_skew": (max(durs) / med) if med > 0 else 0.0,
        }
    return out


def round_job_stats(jobs: list[dict], rounds: list[Span]) -> tuple[float, float]:
    """Median jobs per round and median driver gap per round: the part of a
    ``run_round`` wall that no Spark job covers."""
    n_jobs, gaps = [], []
    for r in rounds:
        inside = [(max(j["start"], r.start), min(j["end"], r.end))
                  for j in jobs if j["end"] > r.start and j["start"] < r.end]
        n_jobs.append(len(inside))
        covered = sum(b - a for a, b in _union(inside))
        gaps.append(max(0.0, r.dur - covered))
    if not rounds:
        return 0.0, 0.0
    return float(statistics.median(n_jobs)), float(statistics.median(gaps))
