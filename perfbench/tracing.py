"""Span recorder and Spark event-log reader for the traced benchmark run.

The program is not instrumented. Instead, `install_shims` replaces the
module attributes the pipeline calls through (``pipeline.commit_stage``,
``M.detect_mentions``, ``L.assign_clusters`` ...) with shims that record a
span and tag the Spark jobs of the calling thread with ``setJobGroup``.
PySpark's pinned-thread mode keeps local properties per Python thread and
AQE/broadcast jobs inherit them, so every job launched inside a shim lands
under that shim's tag; a job launched outside every shim counts as
``untagged``.

Spans are kept in memory and written out in the run's context line;
`layer_metrics` and `spark_metrics` turn them and the event log into
per-operation figures once the run is over.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import dataclass

STAGES = (
    "mentions", "winners", "observations", "materials", "manufacturers",
    "clustered", "chem_nodes", "edges", "nodes", "triples",
)
QUERIES = ("j2_broadcast_dim", "graph_triangles", "dedup_setsim_join")

# Every job-group tag a shim can set. The per-layer metric names are built
# from this list, so it must cover every tag used below.
TAGS = (
    *(f"commit.{s}" for s in STAGES),
    "pipeline.self", "mentions.detect", "extract", "link.assign_clusters",
    "graph.connected_components", "propagate", "lineage.load",
    "stream.read_state", "stream.acc_write",
    *(f"query.{q}" for q in QUERIES),
)
# Tags whose jobs sort or shuffle corpus-sized data get a per-layer spill
# metric; the context line has spill for every tag. (The per-layer list is
# capped at 128 metrics.)
SPILL_TAGS = (
    "pipeline.self", "mentions.detect", "commit.mentions", "commit.winners",
    "commit.observations", "link.assign_clusters", "query.graph_triangles",
    "query.dedup_setsim_join",
)
SPARK_FIELDS = (
    "jobs", "tasks", "task_run_s", "task_cpu_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "queue_wait_s",
)
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    thread: int


class Tracer:
    """Records spans while active; a disabled tracer's `span` is a no-op,
    so the untraced run pays nothing for the same workload code."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False  # set around the operations to trace
        self.active = False
        self.spans: list[Span] = []
        self.windows: list[tuple[float, float]] = []  # timed operations
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def op(self):
        """One timed operation: spans record and jobs count only inside
        the windows of operations run while the tracer is enabled."""
        self.active = self.enabled
        start = time.time()
        try:
            yield
        finally:
            if self.enabled:
                self.windows.append((start, time.time()))
            self.active = False

    @contextlib.contextmanager
    def span(self, name: str, tag: str | None = None):
        if not self.active:
            yield
            return
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            # A pool thread's first span hangs under whatever the main
            # thread has open (the run_pipeline that owns the pool).
            main = self._stacks.get(self._main) or [None]
            parent = stack[-1] if stack else main[-1]
            rec = Span(name, time.time(), None, parent, tid)
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        prev = self._set_group(tag) if tag else None
        try:
            yield
        finally:
            rec.end = time.time()
            if tag:
                for key, value in zip(_GROUP_KEYS, prev):
                    self.sc.setLocalProperty(key, value)
            with self._lock:
                stack.pop()

    def _set_group(self, tag: str) -> list:
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setJobGroup(tag, tag)
        return prev

    def patch(self, owner, attr: str, name, tag=None) -> None:
        """Replace owner.attr with a shim. `name` and `tag` may be
        callables of the call's positional args."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            n = name(args) if callable(name) else name
            t = tag(args) if callable(tag) else tag
            with tracer.span(n, t):
                return orig(*args, **kwargs)

        setattr(owner, attr, shim)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def install_shims(tracer: Tracer) -> None:
    """Shim every layer boundary the benchmark measures. Contract queries
    are spanned by the operator_suite operation itself, because their jobs
    run when the returned DataFrame is collected, after the call returns."""
    from entity_extractor_spark.operators import extract, link, mentions, propagate
    from entity_extractor_spark.plans import lineage, pipeline
    from entity_extractor_spark.streaming import ingest

    for owner in (pipeline, ingest):
        tracer.patch(owner, "run_pipeline", "pipeline.run_pipeline", "pipeline.self")
    tracer.patch(pipeline, "commit_stage", lambda a: f"lineage.commit.{a[2]}",
                 lambda a: f"commit.{a[2]}")
    tracer.patch(pipeline, "load_stage", lambda a: f"lineage.load.{a[2]}", "lineage.load")
    for method in ("is_done", "mark_done", "invalidate_from"):
        tracer.patch(lineage.LineageLog, method, f"lineage.log.{method}")
    tracer.patch(mentions, "detect_mentions", "mentions.detect", "mentions.detect")
    for fn in ("text_spans", "parse_spans", "resolve_headers", "dedupe_chemicals",
               "winner_docs", "observations", "materials_table", "manufacturers_table"):
        tracer.patch(extract, fn, f"extract.{fn}", "extract")
    tracer.patch(link, "assign_clusters", "link.assign_clusters", "link.assign_clusters")
    tracer.patch(link, "connected_components", "graph.connected_components",
                 "graph.connected_components")
    tracer.patch(propagate, "resolve_materials", "propagate.resolve_materials", "propagate")
    tracer.patch(ingest, "read_accumulated_nodes", "stream.read_state", "stream.read_state")
    tracer.patch(ingest, "process_batch", "stream.process_batch", "stream.acc_write")


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("overlap", "share")):
        return "ratio"
    return "count"  # jobs, tasks, calls, rows


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _self_time(spans: list[Span], idx: int, children: dict[int, list[int]]) -> float:
    """Span duration minus the part of it its descendants cover."""
    sp = spans[idx]
    todo, desc = list(children.get(idx, [])), []
    while todo:
        i = todo.pop()
        desc.append((max(spans[i].start, sp.start), min(spans[i].end, sp.end)))
        todo.extend(children.get(i, []))
    return (sp.end - sp.start) - _union([d for d in desc if d[1] > d[0]])


def layer_metrics(spans: list[Span], n_ops: int) -> dict[str, float]:
    """Per-operation span figures (sums over the traced operations / n_ops)."""
    children: dict[int, list[int]] = {}
    for i, sp in enumerate(spans):
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(i)

    def total(pred) -> float:
        return sum(sp.end - sp.start for sp in spans if pred(sp.name))

    out: dict[str, float] = {}
    roots = [i for i, sp in enumerate(spans) if sp.name == "pipeline.run_pipeline"]
    out["pipeline.self_s"] = sum(_self_time(spans, i, children) for i in roots) / n_ops
    summed = union = 0.0
    for i in roots:
        kids = [(spans[k].start, spans[k].end) for k in children.get(i, [])]
        summed += sum(e - s for s, e in kids)
        union += _union(kids)
    out["pipeline.overlap"] = summed / union if union else 0.0
    for stage in STAGES:
        out[f"lineage.commit.{stage}.wall_s"] = total(
            lambda n, s=stage: n == f"lineage.commit.{s}") / n_ops
    out["lineage.load_s"] = total(lambda n: n.startswith("lineage.load.")) / n_ops
    out["lineage.log_s"] = total(lambda n: n.startswith("lineage.log.")) / n_ops
    out["lineage.log_calls"] = sum(sp.name.startswith("lineage.log.") for sp in spans) / n_ops
    out["mentions.detect_s"] = total(lambda n: n == "mentions.detect") / n_ops
    out["extract.plan_s"] = total(lambda n: n.startswith("extract.")) / n_ops
    out["link.assign_clusters_s"] = total(lambda n: n == "link.assign_clusters") / n_ops
    out["graph.connected_components_s"] = total(
        lambda n: n == "graph.connected_components") / n_ops
    out["propagate.resolve_materials_s"] = total(
        lambda n: n == "propagate.resolve_materials") / n_ops
    out["stream.read_state_s"] = total(lambda n: n == "stream.read_state") / n_ops
    out["stream.acc_write_s"] = sum(
        _self_time(spans, i, children)
        for i, sp in enumerate(spans) if sp.name == "stream.process_batch"
    ) / n_ops
    for q in QUERIES:
        out[f"query.{q}_s"] = total(lambda n, q=q: n == f"query.{q}") / n_ops
    return out


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def spark_metrics(events: list[dict], windows: list[tuple[float, float]], n_ops: int) -> dict:
    """Per-tag Spark figures for the jobs submitted inside `windows`
    (per operation). Returns {tag: {field: value}} including 'untagged'
    and 'total'; 'total' is summed straight from the task events, so a
    caller can check that the per-tag figures add up to it."""
    wins = [(s * 1000.0, e * 1000.0) for s, e in windows]
    job_tag: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    first_launch: dict[int, float] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            t = ev["Submission Time"]
            if not any(s <= t <= e for s, e in wins):
                continue
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_tag[jid] = props.get("spark.jobGroup.id") or "untagged"
            job_submit[jid] = t
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
    stats = {tag: dict.fromkeys(SPARK_FIELDS, 0.0) for tag in (*TAGS, "untagged", "total")}
    for jid, tag in job_tag.items():
        stats.setdefault(tag, dict.fromkeys(SPARK_FIELDS, 0.0))["jobs"] += 1
        stats["total"]["jobs"] += 1
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(ev["Stage ID"])
        if jid is None:
            continue
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        first_launch[jid] = min(first_launch.get(jid, info["Launch Time"]), info["Launch Time"])
        sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
        row = {
            "tasks": 1,
            "task_run_s": m.get("Executor Run Time", 0) / 1e3,
            "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20,
            "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
            "spill_mb": m.get("Disk Bytes Spilled", 0) / 2**20,
        }
        for tag in (job_tag[jid], "total"):
            for k, v in row.items():
                stats[tag][k] += v
    for jid, t0 in first_launch.items():
        wait = max(0.0, (t0 - job_submit[jid]) / 1e3)
        stats[job_tag[jid]]["queue_wait_s"] += wait
        stats["total"]["queue_wait_s"] += wait
    return {tag: {k: v / n_ops for k, v in fields.items()} for tag, fields in stats.items()}


def per_layer_spark(stats: dict) -> dict[str, float]:
    """The declared per-layer subset of `spark_metrics` (BENCHMARK.json)."""
    out = {f"spark.total.{k}": stats["total"][k] for k in SPARK_FIELDS}
    for tag in TAGS:
        for k in ("jobs", "task_run_s", "queue_wait_s"):
            out[f"spark.{tag}.{k}"] = stats[tag][k]
    for tag in SPILL_TAGS:
        out[f"spark.{tag}.spill_mb"] = stats[tag]["spill_mb"]
    out["spark.untagged.jobs"] = stats["untagged"]["jobs"]
    return out
