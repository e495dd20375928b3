"""Span tracing around the program's layers, plus Spark event-log reading.

``install`` wraps each layer's public functions (resolved by name, so a
layer that a later change deletes is reported as ``absent`` instead of
breaking the benchmark).  A wrapper records one span per call: name,
layer, start, end, parent span and thread.  Spans stay in memory.

Lazy operators (scheduling, parse, postings, seenfilter) only build a
query plan when called, so their spans measure plan time.  The Spark
work they describe runs inside whichever engine or store call triggers
the action, and is charged to that span.

``read_event_log`` turns a Spark event log into jobs, stages and task
totals.  Each job is attributed to the innermost traced layer running on
the thread that submitted it: a wrapper sets the Spark local property
``perfbench.layer`` for its duration, and work handed to a thread pool
carries the submitting thread's layer and span with it.  (PySpark
records a Python call site only for ``collect``; ``count`` and writes
show a JVM frame.)  So jobs on the engine's pool threads (parse ∥ admit,
commit prep, the store's concurrent writes) are still attributed right.
"""

from __future__ import annotations

import concurrent.futures
import functools
import glob
import importlib
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

# layer -> (module, public names); "Class.method" wraps a method
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "engine": ("spider_spark.engine", (
        "CrawlEngine.bootstrap", "CrawlEngine.run_round",
        "CrawlEngine.enqueue", "CrawlEngine.lookup_url",
        "CrawlEngine.status_counts", "CrawlEngine.top_pages",
        "CrawlEngine.postings_delta")),
    "scheduling": ("spider_spark.operators.scheduling", (
        "select_batch", "eligible_per_host", "status_counts",
        "top_n_per_status")),
    "parse": ("spider_spark.operators.parse", (
        "flag_docs", "split_flagged", "exploded_spans", "tokenized_spans",
        "doc_meta", "token_positions", "indexable_tokens", "outlinks")),
    "tokenizer": ("spider_spark.functions.tokenizer", ("tokenize_series",)),
    "admission": ("spider_spark.operators.admission", (
        "filter_and_canonicalize", "admit")),
    "urlnorm": ("spider_spark.functions.urlnorm", (
        "canonicalize", "canonicalize_parts_frame")),
    "seenfilter": ("spider_spark.operators.seenfilter", (
        "build_bucket_blooms", "update_bucket_blooms", "probe_blooms",
        "build_bucket_cuckoos", "update_bucket_cuckoos", "probe_cuckoos")),
    "postings": ("spider_spark.operators.postings", ("build_postings",)),
    "store": ("spider_spark.state.store", (
        "SnapshotStore.commit_round", "SnapshotStore.read",
        "SnapshotStore.read_buckets", "SnapshotStore.read_status",
        "SnapshotStore.read_changes", "SnapshotStore.read_catalog",
        "SnapshotStore.compact_appends", "SnapshotStore.gc_orphans")),
    "search": ("spider_spark.operators.search", (
        "and_search", "phrase_search")),
    "queries": ("spider_spark.queries", ()),  # names added by install()
}

LAYER_PROPERTY = "perfbench.layer"

# the seen-filter operators are lazy, so their jobs are the ones whose
# SQL plan runs one of their grouped pandas functions
SEENFILTER_PLAN_MARKS = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")
SEENFILTER_FUNCS = ("build(", "upd(", "probe(")


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float  # epoch seconds, comparable with the event log
    end: float = 0.0
    parent: int | None = None
    thread: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    absent: dict[str, list[str]] = field(default_factory=dict)
    sc: object = None  # SparkContext, once the session exists
    candidates: list[tuple[float, int]] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _set_layer(self, layer: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(LAYER_PROPERTY, layer)

    def begin(self, name: str, layer: str) -> Span:
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, layer, time.time(),
                     parent=stack[-1].sid if stack else None,
                     thread=threading.current_thread().name)
            self.spans.append(s)
        stack.append(s)
        self._set_layer(layer)
        return s

    def end(self, s: Span) -> None:
        s.end = time.time()
        stack = self._stack()
        stack.pop()
        self._set_layer(stack[-1].layer if stack else None)

    def carry(self, fn):
        """``fn`` wrapped to run under the calling thread's current span
        (and so its layer) on whichever thread executes it."""
        stack = list(self._stack())

        def carried(*args, **kwargs):
            self._local.stack = list(stack)
            self._set_layer(stack[-1].layer if stack else None)
            try:
                return fn(*args, **kwargs)
            finally:
                self._local.stack = []
                self._set_layer(None)
        return carried

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = self.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(s)
        traced.__wrapped_by_trace__ = True
        return traced

    def span(self, name: str, layer: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.begin(name, layer)
                return self.s

            def __exit__(self, *exc):
                tracer.end(self.s)

        return _Ctx()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def install(tracer: Tracer, query_names: list[str]) -> None:
    """Wrap every layer function that exists; record the missing ones in
    ``tracer.absent``.  A module-level function is replaced wherever a
    program module (the oracle excepted) has bound it by name.  Thread
    pools carry the submitter's span into their workers."""
    submit = concurrent.futures.ThreadPoolExecutor.submit

    def carrying_submit(self, fn, /, *args, **kwargs):
        return submit(self, tracer.carry(fn), *args, **kwargs)

    concurrent.futures.ThreadPoolExecutor.submit = carrying_submit
    layers = dict(LAYERS)
    layers["queries"] = (LAYERS["queries"][0],
                         tuple(f"q_{n}" for n in query_names))
    for layer, (modname, names) in layers.items():
        try:
            mod = importlib.import_module(modname)
        except ImportError:
            tracer.absent[layer] = list(names) or [modname]
            continue
        for name in names:
            owner_name, _, attr = name.rpartition(".")
            owner = getattr(mod, owner_name, None) if owner_name else mod
            fn = getattr(owner, attr, None) if owner is not None else None
            if fn is None:
                tracer.absent.setdefault(layer, []).append(name)
                continue
            if getattr(fn, "__wrapped_by_trace__", False):
                continue
            traced = tracer.wrap(fn, name, layer)
            if owner_name:
                setattr(owner, attr, traced)
                continue
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "")
                if (not mname.startswith("spider_spark")
                        or mname.startswith("spider_spark.oracle")):
                    continue
                for k, v in list(vars(m).items()):
                    if v is fn:
                        setattr(m, k, traced)


def child_cover(spans: list[Span], parent: Span,
                layers: set[str] | None = None) -> float:
    """Seconds of ``parent``'s interval covered by the union of the spans
    inside it: its children on its own thread, and spans on other
    threads (the engine's pool threads have no parent on their stack)
    that lie within it.  ``layers`` restricts which spans count."""
    iv = []
    for s in spans:
        if s is parent or s.start < parent.start or s.end > parent.end:
            continue
        if layers is not None and s.layer not in layers:
            continue
        if s.parent == parent.sid or (s.thread != parent.thread
                                      and s.parent is None):
            iv.append((s.start, s.end))
    iv.sort()
    total, cur_s, cur_e = 0.0, None, None
    for a, b in iv:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark event log ------------------------------------------------------

def event_log_conf(log_dir: str) -> list[str]:
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false"]


@dataclass
class Job:
    jid: int
    submit: float  # epoch seconds
    end: float
    layer: str  # "benchmark" when no traced layer was running
    stages: list[int]
    sql_id: int | None
    seenfilter: bool = False


def read_event_log(log_dir: str) -> dict:
    """Jobs, per-stage task counts and per-stage task totals (run time,
    GC time, shuffle bytes written, output bytes) from the one event log
    under ``log_dir``."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    jobs: dict[int, Job] = {}
    stage_tasks: dict[int, int] = {}
    stage_totals: dict[int, dict[str, float]] = {}
    plans: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sql = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                        props.get(LAYER_PROPERTY) or "benchmark",
                        list(ev.get("Stage IDs", [])),
                        int(sql) if sql is not None else None)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = stage_totals.setdefault(ev["Stage ID"], {
                        "run_s": 0.0, "gc_s": 0.0, "shuffle_b": 0.0,
                        "output_b": 0.0})
                    t["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    t["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
                    t["output_b"] += (m.get("Output Metrics") or {}
                                      ).get("Bytes Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[ev["executionId"]] = ev.get(
                        "physicalPlanDescription", "")
    for j in jobs.values():
        plan = plans.get(j.sql_id, "") if j.sql_id is not None else ""
        j.seenfilter = (any(m in plan for m in SEENFILTER_PLAN_MARKS)
                        and any(fn in plan for fn in SEENFILTER_FUNCS))
    return {"jobs": list(jobs.values()), "stage_tasks": stage_tasks,
            "stage_totals": stage_totals}


def jobs_in(log: dict, t0: float, t1: float) -> list[Job]:
    """Jobs submitted within the epoch-second interval [t0, t1]."""
    return [j for j in log["jobs"] if t0 <= j.submit <= t1]


def job_totals(log: dict, jobs: list[Job]) -> dict[str, float]:
    """Stage, task and task-metric totals over ``jobs`` (a stage shared
    by two jobs, or skipped because its output was reused, counts once
    and only if it ran)."""
    stages = {s for j in jobs for s in j.stages
              if s in log["stage_tasks"]}
    out = {"jobs": float(len(jobs)), "stages": float(len(stages)),
           "tasks": float(sum(log["stage_tasks"][s] for s in stages))}
    for key in ("run_s", "gc_s", "shuffle_b", "output_b"):
        out[key] = sum(log["stage_totals"].get(s, {}).get(key, 0.0)
                       for s in stages)
    return out
