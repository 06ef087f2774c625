"""Host labels for every run: source identity, CPU count, load, a
micro health probe and the memory high-water mark of the process tree.

This host has stall episodes (single timings swing by a third, and
10-150x slowdowns come and go without showing in CPU steal), so each
run carries a probe taken before and after it: a slow run is then
labelled as such instead of being dropped or re-run.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import threading
import time

import numpy as np


def source_id(root: pathlib.Path) -> dict:
    """Git sha when ``root`` is a git work tree, plus a digest of the
    program's sources (the benchmark also runs from plain exports)."""
    out = {"git_sha": "none"}
    head = root / ".git" / "HEAD"
    if head.is_file():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            p = root / ".git" / ref[5:]
            if p.is_file():
                out["git_sha"] = p.read_text().strip()
            else:
                packed = root / ".git" / "packed-refs"
                for line in (packed.read_text().splitlines()
                             if packed.is_file() else []):
                    if line.endswith(" " + ref[5:]):
                        out["git_sha"] = line.split()[0]
        else:
            out["git_sha"] = ref
    h = hashlib.sha1()
    files = sorted((root / "cuckoofilter_spark").rglob("*.py"))
    files.append(root / "__spark_entry__.py")
    for p in files:
        if p.is_file():
            h.update(p.relative_to(root).as_posix().encode())
            h.update(p.read_bytes())
    out["src_sha1"] = h.hexdigest()[:16]
    return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def health_probe() -> dict:
    """1M murmur64 hashes and one 64 MB copy, in seconds. A quiet host
    takes a few ms for each; stall episodes show as 10-150x."""
    from cuckoofilter_spark.kernels.hashing import murmur64

    keys = np.arange(1 << 20, dtype=np.uint64)
    t0 = time.perf_counter()
    murmur64(keys)
    t1 = time.perf_counter()
    buf = np.ones(64 << 20, dtype=np.uint8)
    t2 = time.perf_counter()
    buf.copy()
    t3 = time.perf_counter()
    return {"murmur_1m_s": t1 - t0, "copy_64mb_s": t3 - t2,
            "loadavg": list(os.getloadavg())}


def _children(pid: int) -> list[int]:
    kids = []
    for task in pathlib.Path(f"/proc/{pid}/task").glob("*"):
        try:
            kids += [int(x) for x in (task / "children").read_text().split()]
        except OSError:
            continue
    return kids


def _tree(pid: int) -> list[int]:
    """``pid`` and its live descendants."""
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.append(p)
            todo += _children(p)
    return seen


def tree_cpu_s(pid: int | None = None) -> float:
    """User plus system CPU seconds used so far by the threads of ``pid``
    and its live descendants (here the driver, the JVM and the Python
    workers), leaving out the JVM's JIT compiler threads: their work is
    front-loaded and depends on how far warm-up got, not on the work a
    cycle does."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _tree(pid or os.getpid()):
        for task in pathlib.Path(f"/proc/{p}/task").glob("*"):
            try:
                stat = (task / "stat").read_text()
            except OSError:
                continue
            name = stat[stat.index("(") + 1:stat.rindex(")")]
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / tick


def _rss_mb(pid: int) -> tuple[str, float] | None:
    """(command name, resident set in MB) of one process, or None."""
    try:
        status = pathlib.Path(f"/proc/{pid}/status").read_text()
    except OSError:
        return None
    fields = dict(line.split(":", 1) for line in status.splitlines() if ":" in line)
    if "VmRSS" not in fields:
        return None
    return fields["Name"].strip(), int(fields["VmRSS"].split()[0]) / 1024.0


class PeakRss:
    """Samples, every ``period`` seconds on a thread, the resident set of
    this process and its descendants, and keeps the largest sum seen
    over the Python processes (the driver and the Python workers) and
    over the JVM, in MB."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.python_mb = 0.0
        self.jvm_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss",
                                        daemon=True)

    def sample(self) -> None:
        py = jvm = 0.0
        for p in _tree(os.getpid()):
            got = _rss_mb(p)
            if got is None:
                continue
            if got[0] == "java":
                jvm += got[1]
            else:
                py += got[1]
        self.python_mb = max(self.python_mb, py)
        self.jvm_mb = max(self.jvm_mb, jvm)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
