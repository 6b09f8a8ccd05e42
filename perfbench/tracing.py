"""Traced-run instruments: an in-memory span recorder and a reader for
Spark's own event log.

Spans wrap the engine's public functions at the module attribute their
callers look up at call time, so no engine file changes. Several of those
functions return lazy DataFrames whose work runs later in the caller
(``build_segments(...).collect()``); such a span is marked lazy and stays
open until the next wrapped layer begins or its parent ends, which is where
its work is known to be finished. Each span also sets the Spark job group
to ``<phase>/<layer>``, so the event log attributes every stage to a layer.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    phase: str
    parent: int | None
    start: float  # epoch seconds (comparable with event-log times)
    jobs: bool = False  # may run Spark jobs: the span names the job group
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and counters for one run; ``enabled=False`` makes every
    wrapper a plain pass-through (the untraced run installs no wrappers at
    all; this switch serves the in-run overhead comparison)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.sc = None  # the SparkContext, once the session is up
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.enabled = True
        self.phase = "setup"
        self._stack: list[Span] = []
        self._lazy: Span | None = None
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------------- spans
    def _group(self) -> None:
        """Point the job group at the innermost open span that runs jobs.
        Only spans that run jobs call this: each call is a JVM round trip."""
        if self.sc is None:
            return
        lazy = self._lazy if self._lazy is not None and self._lazy.jobs else None
        top = lazy or next((s for s in reversed(self._stack) if s.jobs), None)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{top.phase}/{top.name}" if top else None)

    def _close_lazy(self) -> None:
        if self._lazy is not None:
            self._lazy.end = time.time()
            self._lazy = None

    def open(self, name: str, jobs: bool = False) -> Span:
        self._close_lazy()  # a new layer begins: the pending lazy one ended
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self.phase, parent, time.time(), jobs)
        self.spans.append(s)
        self._stack.append(s)
        if jobs:
            self._group()
        return s

    def close(self, s: Span, lazy: bool = False) -> None:
        self._stack.remove(s)
        if lazy:
            self._lazy = s
        else:
            self._close_lazy()  # a lazy child's work ends with its parent
            s.end = time.time()
        if s.jobs:
            self._group()

    def span(self, name: str, jobs: bool = False):
        """A span around a block; a no-op context while tracing is off."""
        return self._span(name, jobs) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, jobs: bool):
        s = self.open(name, jobs)
        try:
            yield s
        finally:
            self.close(s)

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:  # posting decodes run on a thread pool
            self.counts[name] += n

    # ------------------------------------------------------------- wrapping
    def wrap(self, module: str, attr: str, name: str, lazy: bool = False, jobs: bool = False, before=None) -> None:
        """Replace ``module.attr`` by a span-recording wrapper. ``before``
        (args, kwargs, span) runs first, e.g. to note cache state."""
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled or threading.current_thread() is not threading.main_thread():
                return fn(*args, **kwargs)
            s = tracer.open(name, jobs)
            if before is not None:
                before(args, kwargs, s)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(s, lazy=lazy)

        self._undo.append((mod, attr, fn))
        setattr(mod, attr, wrapper)

    @contextmanager
    def counting(self, module: str, attr: str, name: str):
        """Count calls of ``module.attr`` (thread-safe, no span) inside the
        block. Scoped, because Spark plans that reference the function
        would otherwise ship the wrapper, and this tracer, to the workers."""
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.enabled:
                tracer.count(name)
            return fn(*args, **kwargs)

        setattr(mod, attr, wrapper)
        try:
            yield
        finally:
            setattr(mod, attr, fn)

    def unwrap(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()

    # --------------------------------------------------------------- output
    def find(self, name: str, phase: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (phase is None or s.phase == phase)]

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.sid]

    def to_json(self) -> list[dict]:
        return [
            dict(run=self.run_id, sid=s.sid, name=s.name, phase=s.phase, parent=s.parent,
             start=s.start, end=s.end, **({"attrs": s.attrs} if s.attrs else {}))
            for s in self.spans
        ]


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer boundaries (names are the layers' modules)."""
    scorer = "miru_spark.query.scorer"

    def note_cache(args, kwargs, s):
        # hit = a requested term already cached before the call
        index_dir, terms = args[0], args[1]
        sc = importlib.import_module(scorer)
        gen = sc._index_generation(index_dir)
        s.attrs["requested"] = len(terms)
        s.attrs["hits"] = sum((index_dir, gen, t) in sc._POSTING_CACHE for t in terms)

    for mod in ("miru_spark.index.build", "miru_spark.streaming.ingest"):
        tracer.wrap(mod, "key_partition", "index.build.key_partition", lazy=True, jobs=True)
        tracer.wrap(mod, "build_segments", "index.build.segments", lazy=True, jobs=True)
        tracer.wrap(mod, "build_field_filters", "index.build.filters", jobs=True)
    tracer.wrap("miru_spark.index.build", "verify_sha256", "corpus.verify_sha256", jobs=True)
    tracer.wrap("miru_spark.index.merge", "merge_segments", "index.merge", jobs=True)
    tracer.wrap("miru_spark.index.removal", "resolve_keys_map", "index.removal.apply", jobs=True)
    tracer.wrap("miru_spark.index.removal", "remove_docs", "index.removal.apply", jobs=True)
    tracer.wrap("miru_spark.query.parser", "parse_query", "query.parser.parse")
    tracer.wrap(scorer, "expand_prefixes", "query.scorer.expand")
    tracer.wrap(scorer, "load_postings", "query.scorer.postings", before=note_cache)
    tracer.wrap(scorer, "load_filter_bitmap", "roaring.filter")


# ----------------------------------------------------------------- event log
@dataclass
class Stage:
    group: str | None
    run_ms: float = 0.0
    max_task_ms: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    py_in: int = 0
    py_out: int = 0


def read_event_log(log_dir: str) -> tuple[dict[int, Stage], list[tuple[str | None, float, float]]]:
    """Per-stage task metrics and per-job (group, start, end) intervals from
    the JSON-lines event log(s) under ``log_dir``."""
    stages: dict[int, Stage] = {}
    jobs: dict[int, list] = {}
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus")))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    g = e.get("Properties", {}).get("spark.jobGroup.id")
                    jobs[e["Job ID"]] = [g, e["Submission Time"] / 1000.0, None]
                    for sid in e["Stage IDs"]:
                        stages.setdefault(sid, Stage(g))
                elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]][2] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
                    ti = e["Task Info"]
                    st = stages[e["Stage ID"]]
                    st.max_task_ms = max(st.max_task_ms, ti["Finish Time"] - ti["Launch Time"])
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage(None))
                    acc = {a["Name"]: a.get("Value", 0) for a in info.get("Accumulables", [])}
                    num = lambda k: float(acc.get(k, 0) or 0)  # noqa: E731
                    st.run_ms = num("internal.metrics.executorRunTime")
                    st.shuffle_write = int(num("internal.metrics.shuffle.write.bytesWritten"))
                    st.spill = int(num("internal.metrics.memoryBytesSpilled") + num("internal.metrics.diskBytesSpilled"))
                    st.py_in = int(num("data sent to Python workers"))
                    st.py_out = int(num("data returned from Python workers"))
    intervals = [(g, s, t) for g, s, t in jobs.values() if t is not None]
    return stages, intervals


def layer_stage_metrics(stages: dict[int, Stage], groups: list[str]) -> dict:
    sel = [s for s in stages.values() if s.group in groups]
    return {
        "task_s": sum(s.run_ms for s in sel) / 1000.0,
        "max_task_s": max((s.max_task_ms for s in sel), default=0.0) / 1000.0,
        "shuffle_write_bytes": sum(s.shuffle_write for s in sel),
        "spill_bytes": sum(s.spill for s in sel),
        "python_bytes_in": sum(s.py_in for s in sel),
        "python_bytes_out": sum(s.py_out for s in sel),
    }


def busy_seconds(intervals: list[tuple], lo: float, hi: float) -> float:
    """Length of the union of the job intervals within [lo, hi]: the time
    some Spark job was running."""
    iv = sorted((max(s, lo), min(t, hi)) for _g, s, t in intervals if t > lo and s < hi)
    total, cur_s, cur_t = 0.0, None, None
    for s, t in iv:
        if cur_t is None or s > cur_t:
            if cur_t is not None:
                total += cur_t - cur_s
            cur_s, cur_t = s, t
        else:
            cur_t = max(cur_t, t)
    if cur_t is not None:
        total += cur_t - cur_s
    return total
