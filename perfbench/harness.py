"""Measurement helpers for the benchmark, kept free of Spark and of the
engine so they can be unit-tested on their own: percentiles with their
sample count, quartile spread, an in-memory span recorder with self
time, the replay of ``LocalIndexProbe``'s documented term LRU, input
fingerprints and the Spark event-log reader.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import time
from collections import OrderedDict
from contextlib import contextmanager
from dataclasses import dataclass


# ---------------------------------------------------------------- percentiles
def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile ``p`` (0 < p <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, p: float) -> int:
    """Samples of an ``n``-sample set that lie beyond its ``p`` percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def summarize(values: list[float], p: float) -> dict:
    """``{"p50", "p<p>", "n", "beyond"}`` — a percentile is reported with
    its sample count and refused when fewer than ten samples lie beyond
    it, so a tail figure never rests on a handful of points."""
    n = len(values)
    if beyond(n, p) < 10:
        raise ValueError(f"p{p:g} needs 10 samples beyond it; {n} samples give {beyond(n, p)}")
    return {"p50": percentile(values, 50), f"p{p:g}": percentile(values, p), "n": n,
            "beyond": beyond(n, p)}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


# ---------------------------------------------------------------------- spans
@dataclass
class Span:
    id: int
    name: str  # "<layer>.<call>", e.g. "build.finalize_index"
    parent: int | None
    op: int  # shared by every span of one operation
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, hi = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= hi:
            continue
        total += e - max(s, hi)
        hi = e
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - covered(kids.get(s.id, [])) for s in spans}


class Tracer:
    """In-memory span recorder. Disabled, ``span`` records nothing and
    touches no Spark state. Enabled, each span also becomes the Spark job
    group of the jobs launched inside it (``sc`` given), so the event log
    attributes every job to one span. Spans are written at the end."""

    def __init__(self, enabled: bool = False, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """``jobs=False`` marks a call that launches no Spark job (the
        driver-local probe), so its span skips the job-group calls."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_op += 1
        s = Span(len(self.spans), name, parent.id if parent else None,
                 parent.op if parent else self._next_op, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None and jobs:
            self.sc.setJobGroup(f"span-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None and jobs:
                if self._stack:
                    self.sc.setJobGroup(f"span-{self._stack[-1].id}", self._stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def layer_self_s(self) -> dict[str, float]:
        out: dict[str, float] = {}
        st = self_times(self.spans)
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
        return out

    def write(self, path: str, extra: dict[int, dict] | None = None) -> None:
        """One JSON line per span, with ``extra[span id]`` merged in (the
        Spark stage metrics of the jobs it launched)."""
        with open(path, "w") as f:
            for s in self.spans:
                rec = {"id": s.id, "name": s.name, "parent": s.parent,
                       "op": s.op, "start": s.start, "end": s.end}
                rec.update((extra or {}).get(s.id, {}))
                f.write(json.dumps(rec) + "\n")


# ------------------------------------------------------------------ LRU replay
class TermLru:
    """The documented LRU of ``LocalIndexProbe._load_terms``, replayed.

    One ``request`` per probe call: the call's sorted distinct terms,
    whether it loads positions (phrase search), and the terms the index
    dictionary holds. A term misses when absent, or when positions are
    wanted and it is cached as a known term without them. Misses are
    inserted (OOV terms too), every requested term moves to the recent
    end, then the oldest entries are trimmed to ``cap`` — the order of
    operations in ``_load_terms``."""

    def __init__(self, cap: int):
        self.cap = cap
        self.cache: OrderedDict[str, str] = OrderedDict()  # term -> oov | plain | pos

    def request(self, terms: list[str], positions: bool, known) -> tuple[int, int]:
        cache = self.cache
        miss = [t for t in terms if t not in cache or (positions and cache[t] == "plain")]
        for t in miss:
            cache[t] = "oov" if t not in known else ("pos" if positions else "plain")
        for t in terms:
            cache.move_to_end(t)
        while len(cache) > self.cap:
            cache.popitem(last=False)
        return len(terms) - len(miss), len(miss)


def replay_lru(requests, cap: int) -> list[tuple[int, int]]:
    """(hits, misses) per request of a stream of ``(terms, positions,
    known)`` requests; ``None`` in the stream is a fresh probe (empty
    cache) and yields nothing."""
    lru, out = TermLru(cap), []
    for req in requests:
        if req is None:
            lru = TermLru(cap)
        else:
            out.append(lru.request(*req))
    return out


# ----------------------------------------------------------------- fingerprint
def fingerprint(obj) -> str:
    """Short stable hash of a JSON-serializable description of the inputs."""
    blob = json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


# ------------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> dict[str, dict]:
    """job group -> {jobs, executor_run_s, input_bytes,
    shuffle_write_bytes}, summed over the task-end
    events of the stages each group's jobs ran. Reads every
    uncompressed event-log file under ``log_dir`` (single-file or
    rolling layout)."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    out: dict[str, dict] = {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                   if not f.startswith(("appstatus", ".")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    jobs[g] = jobs.get(g, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "-")
                    m = ev.get("Task Metrics") or {}
                    acc = out.setdefault(g, _zero_stage_metrics())
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    for g, n in jobs.items():
        out.setdefault(g, _zero_stage_metrics())["jobs"] = n
    return out


def _zero_stage_metrics() -> dict:
    return {"jobs": 0, "executor_run_s": 0.0, "input_bytes": 0, "shuffle_write_bytes": 0}
