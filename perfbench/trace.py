"""In-memory spans around the program's public calls, and the Spark event
log reader that attributes jobs, tasks and bytes to those spans.

Nothing here edits ``geocrawl_spark``: :func:`install_wrappers` swaps a
few public module attributes for timing wrappers for the duration of a
traced run and :func:`remove_wrappers` restores them.  Each wrapper also
tags the Spark jobs its thread launches (a thread-local Spark property),
so the event log can name the layer that launched every job.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    thread: int


class Tracer:
    """Records spans (name, start, end, parent); parents are per thread."""

    def __init__(self, sc=None):
        self.sc = sc  # SparkContext for job tagging, or None
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; jobs it launches carry ``name``."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            idx = len(self.spans)
            parent = stack[-1] if stack else None
            self.spans.append(Span(name, time.time(), 0.0, parent, threading.get_ident()))
        stack.append(idx)
        prev_tag = None
        if self.sc is not None:
            prev_tag = self.sc.getLocalProperty(SPAN_PROPERTY)
            self.sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans[idx].end = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, prev_tag)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def busy_seconds(spans: list[Span], lo: float, hi: float) -> float:
    """Wall time within [lo, hi] covered by at least one of ``spans``."""
    iv = sorted((max(s.start, lo), min(s.end, hi)) for s in spans if s.end > lo and s.start < hi)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- wrappers around the program's public calls -----------------------------

_ORIGINALS: list[tuple[object, str, object]] = []


def _wrap(tracer: Tracer, owner, attr: str, name: str) -> None:
    orig = getattr(owner, attr)
    _ORIGINALS.append((owner, attr, orig))

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        return tracer.call(name, orig, *args, **kwargs)

    setattr(owner, attr, wrapper)


def install_wrappers(tracer: Tracer) -> None:
    """Time the engine's eager layer boundaries: table writes, reads and
    commits, the distributed fetch_seq rank, and the seen-store append."""
    from geocrawl_spark import catalog, checkpoint, frontier, seen

    for attr in ("write_table", "write_table_delta"):
        _wrap(tracer, checkpoint.TableIO, attr, "checkpoint.write")
    _wrap(tracer, checkpoint.TableIO, "read_table", "checkpoint.read")
    _wrap(tracer, checkpoint.TableIO, "commit_round", "checkpoint.commit")
    _wrap(tracer, frontier, "read_all_rounds", "checkpoint.read")
    _wrap(tracer, catalog, "read_all_rounds", "checkpoint.read")
    _wrap(tracer, frontier, "global_sequence", "frontier.gseq")

    orig = seen.filter_and_update_abucket_flagged
    _ORIGINALS.append((seen, "filter_and_update_abucket_flagged", orig))

    @functools.wraps(orig)
    def admit(*args, **kwargs):
        flagged, stats, append_fn = orig(*args, **kwargs)
        return flagged, stats, functools.partial(tracer.call, "seen.append", append_fn)

    seen.filter_and_update_abucket_flagged = admit


def remove_wrappers() -> None:
    while _ORIGINALS:
        owner, attr, orig = _ORIGINALS.pop()
        setattr(owner, attr, orig)


# --- Spark event log ----------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submitted: float  # seconds since the epoch
    span: str | None  # SPAN_PROPERTY of the launching thread
    site: str  # call site of the job's last stage
    stages: list[int]


@dataclass
class StageTotals:
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, StageTotals]]:
    """Jobs and per-stage task totals from every event-log file under
    ``log_dir`` (plain JSON lines; rolling or single-file layout)."""
    jobs: list[Job] = []
    stages: dict[int, StageTotals] = defaultdict(StageTotals)
    mb = 1024.0 * 1024.0
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(f)]
    for path in sorted(files):
        if os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    infos = e.get("Stage Infos") or [{}]
                    jobs.append(
                        Job(
                            e["Job ID"],
                            e["Submission Time"] / 1000.0,
                            (e.get("Properties") or {}).get(SPAN_PROPERTY),
                            infos[-1].get("Stage Name", ""),
                            list(e.get("Stage IDs", [])),
                        )
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    st = stages[e["Stage ID"]]
                    st.tasks += 1
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / mb
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / mb
                    st.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
    return jobs, stages
