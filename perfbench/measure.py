"""Metric arithmetic for the benchmark: percentiles, interval unions,
spans and the Spark event-log ledger grouped by job group.

Pure Python over numbers and event-log files, so it is unit-tested
without a Spark session (``perfbench/tests``).
"""

from __future__ import annotations

import json
import math
import pathlib
import threading
import time
from contextlib import contextmanager

# candidate percentiles, lowest first
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest candidate percentile with at least ``beyond`` of ``n``
    samples above it, or None when even the median lacks them."""
    best = None
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= beyond - 1e-9:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values) -> dict:
    """Median, the tail percentile the sample supports, and the count."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50.0)}
    p = tail_percentile(n)
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = percentile(values, p)
    return out


def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``(start, end)`` intervals, each first
    clipped to ``[lo, hi]`` when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Spans:
    """In-memory span recorder: (name, start, end, parent), wall-clock
    seconds. Nested ``span`` blocks record the enclosing span of the same
    thread as parent. Written out only when the run ends."""

    def __init__(self):
        self.records: list[dict] = []
        self._local = threading.local()  # each thread nests its own spans

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            self.records.append({"name": name, "start": start,
                                 "end": time.time(), "parent": parent})

    def matching(self, prefix: str) -> list[dict]:
        return [r for r in self.records if r["name"].startswith(prefix)]


# Stage accumulable name -> (ledger key, scale to the ledger unit).
# SQL timings are ms except shuffle write time (ns); executor CPU is ns.
_ACCUMS = {
    "data sent to Python workers": ("py_sent_bytes", 1.0),
    "data returned from Python workers": ("py_returned_bytes", 1.0),
    "time to start Python workers": ("py_start_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "shuffle bytes written": ("shuffle_write_bytes", 1.0),
    "shuffle write time": ("shuffle_write_s", 1e-9),
    "fetch wait time": ("fetch_wait_s", 1e-3),
    "time in aggregation build": ("agg_build_s", 1e-3),
    "internal.metrics.executorRunTime": ("exec_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("exec_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
}
LEDGER_KEYS = ("jobs", "stages", "tasks") + tuple(
    dict.fromkeys(k for k, _ in _ACCUMS.values()))


def _number(v) -> float | None:
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _event_lines(log_dir: str):
    # Spark 4 writes the rolling v2 layout: a directory per application
    # holding events_N_* files beside an empty appstatus_* marker
    files = sorted(p for p in pathlib.Path(log_dir).rglob("*")
                   if p.is_file() and not p.name.startswith(".")
                   and not p.name.startswith("appstatus_"))
    for path in files:
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # torn tail of an in-progress file


def job_group_ledger(log_dir: str) -> tuple[dict, dict]:
    """Spark work per job group from the event log under ``log_dir``.

    Returns ``(ledger, intervals)``: ``ledger[group]`` sums
    ``LEDGER_KEYS`` over the group's jobs and completed stages, and
    ``intervals[group]`` lists each job's ``(submit, complete)`` in
    epoch seconds. Jobs run outside any group land under ``None``.
    """
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    job_submit: dict[int, float] = {}
    ledger: dict = {}
    intervals: dict = {}

    def row(g):
        return ledger.setdefault(g, dict.fromkeys(LEDGER_KEYS, 0.0))

    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[jid] = g
            job_submit[jid] = ev.get("Submission Time", 0) / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            row(g)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_submit:
                intervals.setdefault(job_group.get(jid), []).append(
                    (job_submit[jid], ev.get("Completion Time", 0) / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            si = ev.get("Stage Info") or {}
            r = row(stage_group.get(si.get("Stage ID")))
            r["stages"] += 1
            r["tasks"] += si.get("Number of Tasks", 0)
            for acc in si.get("Accumulables") or []:
                spec = _ACCUMS.get(acc.get("Name"))
                v = _number(acc.get("Value"))
                if spec is not None and v is not None:
                    r[spec[0]] += v * spec[1]
    return ledger, intervals


def phase_totals(ledger: dict, phase: str) -> dict:
    """Sum the ledger rows whose group is ``<phase>.<op>``."""
    out = dict.fromkeys(LEDGER_KEYS, 0.0)
    for g, r in ledger.items():
        if g is not None and g.split(".", 1)[0] == phase:
            for k in LEDGER_KEYS:
                out[k] += r[k]
    return out
