"""Measurement helpers: spans with self time, worker RSS, host context.

Everything here is driver-side and reads only ``/proc`` and the clock; it
never calls into the program.
"""

from __future__ import annotations

import itertools
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Iterator, Optional


def median_q(values: list[float]) -> dict:
    """Median with first and third quartiles (``statistics.quantiles``,
    exclusive method); with fewer than two values all three are equal."""
    vals = sorted(values)
    if len(vals) < 2:
        return {"median": vals[0], "q1": vals[0], "q3": vals[0], "n": len(vals)}
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "n": len(vals)}


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty list."""
    vals = sorted(values)
    k = max(0, math.ceil(p / 100 * len(vals)) - 1)
    return vals[k]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder.  A span has a name, start and end (seconds
    on the ``perf_counter`` clock, relative to the tracer's origin), the id
    of its parent span and a trace id shared by every span under the same
    top-level span.  Spans are written out once, by the caller, at the end
    of the run."""

    def __init__(self) -> None:
        self.origin = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    def now(self) -> float:
        return time.perf_counter() - self.origin

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "start": self.now(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "trace_id": parent["trace_id"] if parent else f"t{sid}",
            "attrs": dict(attrs),
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._stack.pop()
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: Optional[dict] = None, **attrs) -> dict:
        """Record a span whose bounds were measured elsewhere (for example
        from timestamps taken by wrappers around program calls)."""
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "start": start,
            "end": end,
            "parent": parent["id"] if parent else None,
            "trace_id": parent["trace_id"] if parent else f"t{sid}",
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        return rec


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its children cover (overlapping children are counted once; a child
    sticking out of its parent is clipped to the parent)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            c_lo, c_hi = max(lo, c["start"]), min(hi, c["end"])
            if c_hi <= c_lo:
                continue
            if cur_hi is None or c_lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = c_lo, c_hi
            else:
                cur_hi = max(cur_hi, c_hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------


def cpu_probe_ms() -> float:
    """Wall time of a fixed pure-Python loop: a slow host shows here even
    when it shows no steal (a busy hyperthread sibling, a lower clock)."""
    t = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1000


def host_context() -> dict:
    """1-minute loadavg, the CPU probe and the cumulative CPU time counters
    of /proc/stat (ticks), so two readings give the steal share between."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    ticks = [int(x) for x in fields]
    steal = ticks[7] if len(ticks) > 7 else 0
    return {
        "t": time.time(),
        "load1": os.getloadavg()[0],
        "cpu_probe_ms": cpu_probe_ms(),
        "steal": steal,
        "total": sum(ticks[:8]),
    }


def steal_frac(start: dict, end: dict) -> float:
    total = end["total"] - start["total"]
    return (end["steal"] - start["steal"]) / total if total > 0 else 0.0


# ---------------------------------------------------------------------------
# worker RSS
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss bytes) for every process visible in /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # comm may hold spaces and parens: split around the last ')'
        head, _, rest = raw.rpartition(")")
        comm = head.partition("(")[2]
        fields = rest.split()
        table[int(entry)] = (int(fields[1]), comm, int(fields[21]) * _PAGE)
    return table


def _descendants(table: dict, root_pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants(root_pid: int) -> list[int]:
    """Every process descended from ``root_pid``."""
    return _descendants(_proc_table(), root_pid)


def worker_rss_bytes(root_pid: int) -> int:
    """Summed RSS of the Python processes descended from ``root_pid`` (the
    Spark Python worker daemon and its forked workers)."""
    table = _proc_table()
    return sum(
        table[pid][2] for pid in _descendants(table, root_pid) if table[pid][1].startswith("python")
    )


class RssSampler:
    """One background thread that samples the summed RSS of this process's
    Python descendants every ``interval`` seconds; ``peak(t0, t1)`` is the highest sample taken in a
    window of the ``time.perf_counter`` clock."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.root_pid = os.getpid()
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), worker_rss_bytes(self.root_pid)))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def peak(self, t0: float, t1: float) -> int:
        return max((rss for t, rss in list(self.samples) if t0 <= t <= t1), default=0)

