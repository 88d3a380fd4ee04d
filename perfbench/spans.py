"""Spans around calls into the program's layers, and the event-log reader.

Spans are recorded from the benchmark's side only: ``Tracer.wrap_*``
replaces a module's public functions (and a class's public methods) with
wrappers that open a span, so nothing inside the package changes.  While a
span is open its id is the SparkContext job group, so every Spark job the
call starts is attributed to the innermost open span.  Spans live in memory
and are written out once, at the end of the run.

``fold_event_log`` reads Spark's own event log (JSON lines, uncompressed)
and sums each job's task metrics - executor run/CPU/GC time, shuffle,
spill, scan, and Spark 4.1's Python-worker accumulables - per job group.
"""

from __future__ import annotations

import functools
import glob
import inspect
import itertools
import json
import os
import sys
import time
from contextlib import contextmanager

PACKAGE = "gan_deeplearning4j_spark"


class Span:
    __slots__ = ("id", "parent", "layer", "name", "t0", "t1", "rows")

    def __init__(self, sid, parent, layer, name, t0):
        self.id, self.parent, self.layer, self.name = sid, parent, layer, name
        self.t0, self.t1, self.rows = t0, t0, 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    """Span recorder.  With ``sc=None`` (untraced passes) it records the
    spans the passes open themselves, no wrappers are installed, and it
    never talks to Spark."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._undo: list[tuple[object, str, object]] = []
        # offset that turns perf_counter() into epoch seconds (event log clock)
        self.epoch = time.time() - time.perf_counter()

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), parent.id if parent else 0, layer, name,
                  time.perf_counter())
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(str(sp.id), f"{layer}:{name}")
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(str(parent.id), f"{parent.layer}:{parent.name}")
                else:
                    self.sc._jsc.clearJobGroup()

    # -- wrapping ---------------------------------------------------------

    def _wrapper(self, fn, layer, name, count_rows=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, name) as sp:
                if count_rows is not None:
                    sp.rows = count_rows(*args, **kwargs)
                return fn(*args, **kwargs)

        return traced

    def _replace(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap_function(self, module, attr, layer, name=None, count_rows=None):
        """Wrap ``module.attr`` and every package-module alias of it (a
        ``from x import f`` binds its own name).  ``functools.wraps`` keeps
        ``__module__``/``__qualname__``, so a closure shipped to a Python
        worker still pickles the function by reference and runs the
        unwrapped original there."""
        fn = getattr(module, attr)
        new = self._wrapper(fn, layer, name or attr, count_rows)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE) and \
                    getattr(mod, attr, None) is fn:
                self._replace(mod, attr, new)

    def wrap_module(self, module, layer) -> None:
        for attr, fn in list(vars(module).items()):
            if attr.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ == module.__name__:
                self.wrap_function(module, attr, layer)

    def wrap_method(self, cls, attr, layer, name=None) -> None:
        self._replace(cls, attr, self._wrapper(getattr(cls, attr), layer, name or attr))

    def unwrap(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    # -- span arithmetic --------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            out.setdefault(sp.parent, []).append(sp)
        return out

    def subtree(self, root: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(kids.get(sp.id, ()))
        return out


def self_times(spans: list[Span], kids: dict[int, list[Span]]) -> dict[str, float]:
    """Self time per layer: a span's duration minus what its children cover."""
    out: dict[str, float] = {}
    for sp in spans:
        covered = sum(c.dur for c in kids.get(sp.id, ()))
        out[sp.layer] = out.get(sp.layer, 0.0) + max(sp.dur - covered, 0.0)
    return out


def outermost(spans: list[Span], by_id: dict[int, Span], pred) -> list[Span]:
    """Spans matching ``pred`` with no matching ancestor, so nested calls
    into the same layer are not counted twice."""
    out = []
    for sp in spans:
        if not pred(sp):
            continue
        p = by_id.get(sp.parent)
        while p is not None and not pred(p):
            p = by_id.get(p.parent)
        if p is None:
            out.append(sp)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_returned",
}
TASK_FIELDS = (
    "tasks", "tasks_failed", "run_ms", "cpu_ns", "gc_ms", "shuffle_write",
    "shuffle_read", "fetch_wait_ms", "spill", "peak_mem", "scan_bytes",
    "scan_rows", *PY_ACCUMS.values(),
)


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """A plain log file, or the ``eventlog_v2_<app>/events_<n>_<app>``
    rolling layout, in order."""
    hits = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
    files = []
    for h in hits:
        if os.path.isdir(h):
            parts = glob.glob(os.path.join(h, "events_*"))
            files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        elif not h.endswith(".crc"):
            files.append(h)
    return files


def fold_event_log(files: list[str]) -> dict[int, dict]:
    """job id -> {group, submit_ms, end_ms, stages, metrics}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit_ms": ev.get("Submission Time", 0),
                        "end_ms": None,
                        "stages": set(),
                        "metrics": dict.fromkeys(TASK_FIELDS, 0),
                    }
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    jid = stage_job.get(info["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"].add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is not None:
                        _add_task(jobs[jid]["metrics"], ev)
    return jobs


def _add_task(m: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    m["tasks"] += 1
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    if reason != "Success" or info.get("Failed"):
        m["tasks_failed"] += 1
    m["run_ms"] += tm.get("Executor Run Time", 0)
    m["cpu_ns"] += tm.get("Executor CPU Time", 0)
    m["gc_ms"] += tm.get("JVM GC Time", 0)
    m["spill"] += tm.get("Disk Bytes Spilled", 0)
    m["peak_mem"] = max(m["peak_mem"], tm.get("Peak Execution Memory", 0))
    sw = tm.get("Shuffle Write Metrics") or {}
    m["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    m["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    m["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    im = tm.get("Input Metrics") or {}
    m["scan_bytes"] += im.get("Bytes Read", 0)
    m["scan_rows"] += im.get("Records Read", 0)
    for acc in info.get("Accumulables") or ():
        key = PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            try:
                m[key] += int(acc.get("Update") or 0)
            except (TypeError, ValueError):
                pass


def jobs_by_group(jobs: dict[int, dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for j in jobs.values():
        out.setdefault(j["group"], []).append(j)
    return out


def sum_metrics(jobs: list[dict]) -> dict:
    out = dict.fromkeys(TASK_FIELDS, 0)
    for j in jobs:
        for k, v in j["metrics"].items():
            out[k] = max(out[k], v) if k == "peak_mem" else out[k] + v
    return out


def covered_s(jobs: list[dict], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] (epoch s) during which at least one job ran."""
    ivs = sorted(
        (max(j["submit_ms"] / 1000.0, lo), min((j["end_ms"] or j["submit_ms"]) / 1000.0, hi))
        for j in jobs
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
