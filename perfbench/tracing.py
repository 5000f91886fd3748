"""Outside-in tracing for the crawl benchmark.

Spans are recorded by wrapping the public methods of one engine instance
and of its table catalog (nothing inside the package is edited). Every span
keeps its thread and the span that caused it, so the four state appends a
round submits from concurrent threads show up as overlapping spans, and the
frontier delete submitted at schedule time shows up beside the pages write.

The derivation turns the spans of one ``run_round`` call into phases that
partition the round's wall time:

    schedule             round start        -> pages write start
    pages_write          the pages write (the fetch UDF runs inside it)
    extract_dedup_probe  pages write end    -> first state append start
    commit               first state append -> last state append end
    compact              compaction spans after the commit
    bookkeeping          the rest: lineage, metrics rows, _state.json

It also reads the two Spark-side sources a traced session writes: the
per-UDF Python profiles (``spark.sql.pyspark.udf.profiler=perf``) and the
event log, whose task metrics are attributed to the phase windows.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import pstats
import threading
import time
from dataclasses import dataclass, field

PHASES = ("schedule", "pages_write", "extract_dedup_probe", "commit", "compact", "bookkeeping")
# tables a round appends to in its concurrent commit block
STATE_TABLES = ("seen", "frontier", "blocked", "seen_state", "failed")
CATALOG_METHODS = (
    "append", "append_deletes", "create_or_replace", "compact", "write_rows",
    "read", "read_snapshot_dir",
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark event-log times
    end: float
    thread: int
    parent: int | None = None
    sid: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span()`` is a context manager; a span
    opened on a thread with no open span of its own is parented to the
    outermost span open on the thread that created the tracer (a commit
    thread's append is caused by the round that submitted it)."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._next = 1

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[0] if self._main_stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(name, time.time(), 0.0, threading.get_ident(), parent, sid, attrs)
        stack.append(sid)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.name, self.attrs)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


def wrap_methods(tracer: Tracer, obj, prefix: str, methods, table_arg: bool) -> None:
    """Replace ``obj.<m>`` for each method with a span-recording wrapper on
    this instance only. With ``table_arg`` the first positional argument
    (the catalog's table name) is kept as the span's ``table``."""
    for m in methods:
        fn = getattr(obj, m)

        def wrapper(*a, __fn=fn, __m=m, **kw):
            attrs = {"table": a[0]} if table_arg and a else {}
            with tracer.span(f"{prefix}.{__m}", **attrs):
                return __fn(*a, **kw)

        functools.update_wrapper(wrapper, fn)
        setattr(obj, m, wrapper)


def instrument_engine(tracer: Tracer, eng) -> None:
    wrap_methods(tracer, eng.catalog, "tables", CATALOG_METHODS, table_arg=True)
    wrap_methods(tracer, eng, "engine", ("compact_seen_state",), table_arg=False)


# --------------------------------------------------------------- intervals
def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(window: tuple[float, float], intervals) -> float:
    """Length of ``window`` covered by the union of ``intervals``."""
    lo, hi = window
    return union_length((max(s, lo), min(e, hi)) for s, e in intervals)


def self_time(window: tuple[float, float], children) -> float:
    """A window's duration minus the part of it its children cover."""
    return (window[1] - window[0]) - covered(window, children)


def partition_error(window: tuple[float, float], parts) -> tuple[float, float]:
    """(uncovered, excess) seconds of ``parts`` against ``window``; both are
    0 exactly when the parts tile the window. Excess counts time claimed
    twice or outside the window, and the length of any part that ends
    before it starts, so a misordered phase boundary cannot hide."""
    cov = covered(window, parts)
    uncovered = (window[1] - window[0]) - cov
    excess = sum(abs(e - s) for s, e in parts) - cov
    return uncovered, excess


def round_phases(rnd: Span, spans: list[Span]) -> dict[str, list[tuple[float, float]]]:
    """Phase intervals of one traced ``run_round`` (see module docstring)."""
    inside = [s for s in spans if s.start >= rnd.start and s.end <= rnd.end]
    pages = [
        s for s in inside
        if s.name in ("tables.append", "tables.create_or_replace")
        and s.attrs.get("table") == "pages"
    ]
    if len(pages) != 1:
        raise ValueError(f"round has {len(pages)} pages writes, expected 1")
    pg = pages[0]
    commits = [
        s for s in inside
        if s.name == "tables.append" and s.attrs.get("table") in STATE_TABLES
    ]
    if not commits:
        raise ValueError("round has no state appends")
    c_lo = min(s.start for s in commits)
    c_hi = max(s.end for s in commits)
    out = {
        "schedule": [(rnd.start, pg.start)],
        "pages_write": [(pg.start, pg.end)],
        "extract_dedup_probe": [(pg.end, c_lo)],
        "commit": [(c_lo, c_hi)],
        "compact": [],
        "bookkeeping": [],
    }
    # after the commit block: compaction spans, and bookkeeping in between
    tail_lo = c_hi
    compacts = sorted(
        (max(s.start, c_hi), s.end) for s in inside
        if s.name in ("engine.compact_seen_state", "tables.compact") and s.end > c_hi
    )
    for s, e in _merge(compacts):
        if s > tail_lo:
            out["bookkeeping"].append((tail_lo, s))
        out["compact"].append((s, e))
        tail_lo = max(tail_lo, e)
    out["bookkeeping"].append((tail_lo, rnd.end))
    return out


def _merge(intervals):
    merged: list[tuple[float, float]] = []
    for s, e in sorted(intervals):
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged


def _length(intervals) -> float:
    return sum(e - s for s, e in intervals)


def derive_round_metrics(rounds: list[Span], spans: list[Span]) -> dict:
    """Per-layer seconds summed over the traced rounds, plus the phase
    windows for the Spark-side attribution. Raises if a round's phases do
    not tile its wall time."""
    m = {k: 0.0 for k in (
        "engine.schedule_s", "tables.pages_write_s", "engine.extract_dedup_probe_s",
        "tables.commit_s", "tables.append_deletes_s", "engine.compact_seen_state_s",
        "engine.bookkeeping_s",
    )}
    for t in STATE_TABLES:
        m[f"tables.append_s.{t}"] = 0.0
    windows: dict[str, list[tuple[float, float]]] = {p: [] for p in PHASES}
    for rnd in rounds:
        phases = round_phases(rnd, spans)
        parts = [iv for p in PHASES for iv in phases[p]]
        uncovered, excess = partition_error((rnd.start, rnd.end), parts)
        if uncovered > 1e-6 or excess > 1e-6:
            raise ValueError(
                f"phases do not tile round {rnd.attrs}: "
                f"uncovered {uncovered:.6f}s, excess {excess:.6f}s"
            )
        for p in PHASES:
            windows[p].extend(phases[p])
        same_thread = [
            (s.start, s.end) for s in spans
            if s.thread == rnd.thread and s.parent == rnd.sid
        ]
        m["engine.schedule_s"] += sum(self_time(w, same_thread) for w in phases["schedule"])
        m["engine.extract_dedup_probe_s"] += sum(
            self_time(w, same_thread) for w in phases["extract_dedup_probe"]
        )
        m["tables.pages_write_s"] += _length(phases["pages_write"])
        m["tables.commit_s"] += _length(phases["commit"])
        m["engine.bookkeeping_s"] += _length(phases["bookkeeping"])
        for s in spans:
            if not (s.start >= rnd.start and s.end <= rnd.end):
                continue
            if s.name == "tables.append" and s.attrs.get("table") in STATE_TABLES:
                m[f"tables.append_s.{s.attrs['table']}"] += s.duration
            elif s.name == "tables.append_deletes":
                m["tables.append_deletes_s"] += s.duration
            elif s.name == "engine.compact_seen_state":
                m["engine.compact_seen_state_s"] += s.duration
    return {"metrics": m, "windows": windows}


# ---------------------------------------------------------------- profiles
# (file, function) of the crawl's Python UDF bodies. The profiler keeps
# only the base name of each file.
UDF_FUNCS = {
    "udf.fetch_py_s": ("engine.py", "fetch"),
    "udf.probe_py_s": ("engine.py", "probe"),
    "udf.state_builder_py_s": ("seen.py", "build"),
    "udf.fold_py_s": ("seen.py", "fold_bucket_state"),
    "udf.seed_gen_py_s": ("engine.py", "gen_seeds"),
}
# the synthetic network and payload stand-in that fetch calls into
SYNTHWEB_FUNCS = (
    ("images.py", "make_images"),
    ("web.py", "links_for"),
    ("web.py", "links_for_status"),
    ("web.py", "status_for"),
)


def _match(key, file: str, func: str) -> bool:
    return key[2] == func and os.path.basename(key[0]) == file


def udf_seconds(stats_list: list[pstats.Stats]) -> dict[str, float]:
    """Cumulative Python seconds per crawl UDF, and the part of fetch spent
    in direct calls into the synthetic web (``udf.fetch_synthweb_py_s``)."""
    out = {k: 0.0 for k in UDF_FUNCS}
    out["udf.fetch_synthweb_py_s"] = 0.0
    fetch = UDF_FUNCS["udf.fetch_py_s"]
    for st in stats_list:
        for key, (_cc, _nc, _tt, ct, callers) in st.stats.items():
            for metric, (file, func) in UDF_FUNCS.items():
                if _match(key, file, func):
                    out[metric] += ct
            if any(_match(key, f, fn) for f, fn in SYNTHWEB_FUNCS):
                for caller, edge in callers.items():
                    if _match(caller, *fetch):
                        out["udf.fetch_synthweb_py_s"] += edge[3]
    return out


def load_profiles(path: str) -> list[pstats.Stats]:
    return [pstats.Stats(p) for p in sorted(glob.glob(os.path.join(path, "*.pstats")))]


# --------------------------------------------------------------- event log
def read_event_log(path: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from a rolling Spark event-log directory: job
    submission times and per-task launch/finish with the task metrics the
    benchmark uses."""
    jobs, tasks = [], []
    # a rolling log: one directory of events_<n>_<app> files per application
    for fn in sorted(glob.glob(os.path.join(path, "*", "events_*"))):
        with open(fn) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"], "t": ev["Submission Time"] / 1000.0})
                elif kind == "SparkListenerTaskEnd":
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "start": info["Launch Time"] / 1000.0,
                        "end": info["Finish Time"] / 1000.0,
                        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                    })
    return jobs, tasks


def spark_phase_metrics(windows: dict, jobs: list[dict], tasks: list[dict],
                        cores: int, n_rounds: int) -> dict[str, float]:
    """Stage metrics attributed to the phase windows. A task's busy time
    and CPU are split over phases by the share of its run each one covers;
    its shuffle write goes to the phase it finished in."""
    m: dict[str, float] = {}
    all_windows = [w for p in PHASES for w in windows[p]]
    for p in PHASES:
        wall = _length(windows[p])
        busy = cpu = shuffle = 0.0
        for t in tasks:
            dur = t["end"] - t["start"]
            ov = sum(covered(w, [(t["start"], t["end"])]) for w in windows[p])
            if ov > 0:
                busy += ov
                cpu += t["cpu_s"] * (ov / dur if dur > 0 else 1.0)
            if any(lo <= t["end"] < hi for lo, hi in windows[p]):
                shuffle += t["shuffle_b"]
        m[f"spark.idle_slot_share.{p}"] = (
            max(0.0, (cores * wall - busy) / (cores * wall)) if wall > 0 else 0.0
        )
        m[f"spark.executor_cpu_s.{p}"] = cpu
        m[f"spark.shuffle_write_mb.{p}"] = shuffle / 1e6
    in_rounds = lambda t: any(lo <= t < hi for lo, hi in all_windows)  # noqa: E731
    m["spark.gc_s"] = sum(t["gc_s"] for t in tasks if in_rounds(t["end"]))
    m["spark.jobs_per_round"] = sum(1 for j in jobs if in_rounds(j["t"])) / max(1, n_rounds)
    return m
