"""Tracing for the ``--trace 1`` run: in-memory spans, attribute patching
and a stdlib fold of Spark's (uncompressed) event log.

Spans are ``[name, start, end, parent]`` rows kept in memory and written to
the run directory when the benchmark ends.  Layer functions are wrapped at
the attribute their caller looks up (``store.py`` imports ``upsert_parquet``
by name, so the wrapper goes on ``changesetmd_spark.sinks.store``), and every
wrapper is removed again by ``Tracer.restore``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._open: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record ``name`` around the block.  The parent is the innermost
        open span of this thread, or else the latest open span of any
        thread (streaming ``foreachBatch`` runs on a callback thread)."""
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            self.spans.append([name, time.time(), None, parent])
            self._open.append(idx)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                self.spans[idx][2] = time.time()
                self._open.remove(idx)

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._undo.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def durations(self, name: str, t0: float = 0.0, t1: float = float("inf")):
        return [
            e - s for n, s, e, _ in self.spans
            if n == name and e is not None and t0 <= s and e <= t1
        ]

    def covered(self, t0: float, t1: float, prefixes: tuple[str, ...]) -> float:
        """Seconds of [t0, t1] covered by the union of spans whose name
        starts with one of ``prefixes``."""
        iv = sorted(
            (max(s, t0), min(e, t1))
            for n, s, e, _ in self.spans
            if e is not None and n.startswith(prefixes) and e > t0 and s < t1
        )
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

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, s, e, parent in self.spans:
                fh.write(json.dumps({"name": name, "start": s, "end": e, "parent": parent}) + "\n")


# ---------------------------------------------------------------------------
# event log


EXEC_FIELDS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "result_bytes",
)


def read_event_log(log_dir: str) -> dict:
    """Fold an uncompressed JSON-lines event log: job start/end with their
    properties and stages, plus per-stage task metric totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a rolling log directory of numbered ``events_<n>_*``
    # files (spark.eventLog.rolling.enabled defaults to true)
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise FileNotFoundError(f"no events_* files under {log_dir}")
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st["result_bytes"] += m.get("Result Size", 0)
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages}


def fold(log: dict, select) -> dict:
    """Totals of ``EXEC_FIELDS`` over the jobs for which ``select(job)`` is
    true; a stage counts only if its tasks ran (skipped stages do not)."""
    out = dict.fromkeys(EXEC_FIELDS, 0.0)
    picked = {jid for jid, j in log["jobs"].items() if select(j)}
    out["jobs"] = float(len(picked))
    for sid, st in log["stages"].items():
        if log["stage_job"].get(sid) in picked:
            out["stages"] += 1
            for k, v in st.items():
                out[k] += v
    return out


def by_group(log: dict) -> dict[str, dict]:
    """The job-group breakdown behind the "where the time goes" table."""
    groups = {j["group"] or "(untagged)" for j in log["jobs"].values()}
    return {
        g: fold(log, lambda j, g=g: (j["group"] or "(untagged)") == g)
        for g in sorted(groups)
    }
