"""Spans, Spark job groups and event-log task metrics for a traced run.

A traced run wraps the engine's public entry points from the benchmark's
side; no program file is edited. Each wrapped call records a span (name,
start, end, parent, run id, thread) in memory and tags the Spark jobs it
submits with a job group named after the span id. The job group is a
thread-local Spark property, so jobs of concurrently running stages (alias_dict
with chunks, nodes with edges) land in their own spans. After the session
stops, the Spark event log is folded into per-job task metrics keyed by job
group, and ``layer_metrics`` turns spans plus jobs into the per-layer names
the benchmark reports.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

# Pipeline stages in the order the build commits them; the fold re-keys
# alias_dict as a metadata view, so it has no stage work there.
BUILD_STAGES = ("alias_dict", "chunks", "triples_raw", "linked_mentions",
                "canonical_map", "nodes", "edges")
FOLD_STAGES = BUILD_STAGES[1:]
# Output row counts are fixed by correctness (the checks guard them), so
# they are not reported as metrics with a direction.
STAGE_METRICS = ("wall_s", "executor_s", "shuffle_bytes", "bytes_written")
UDF_STAGES = ("chunks", "triples_raw")
# Graph operators the analytics workload times, each over the committed
# edges. kcore, ktruss, triangles, khop and eval_path are left out to keep a
# run under a minute; flagship_query is timed in the pipeline's build.
GRAPH_OPS = ("pagerank", "connected_components")
DEDUP_PARTS = ("exact", "cc", "apply", "fold")
MANIFEST_CALLS = ("warehouse.latest_entry", "warehouse.is_done")


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order. Layers
    a workload does not run report 0, so both workloads emit every name."""
    names = [f"build.{s}.{m}" for s in BUILD_STAGES for m in STAGE_METRICS]
    names += [f"fold.{s}.{m}" for s in FOLD_STAGES for m in STAGE_METRICS]
    names += [f"{p}.{s}.{m}" for p in ("build", "fold") for s in UDF_STAGES
              for m in ("python_s", "python_bytes")]
    names += ["build.overlap_s", "fold.overlap_s", "build.pipeline.self_s",
              "fold.pipeline.self_s", "build.span_coverage", "fold.span_coverage",
              "build.datagen.alias_df_s", "build.flagship.wall_s", "build.canonical_map.jobs",
              "fold.canonical_map.jobs"]
    names += [f"{p}.warehouse.{m}" for p in ("build", "fold", "graph")
              for m in ("read_s", "read_calls", "manifest_s")]
    names += [f"graph.{op}.{m}" for op in GRAPH_OPS for m in ("wall_s", "shuffle_bytes", "jobs")]
    names += [f"dedup.{p}.{m}" for p in DEDUP_PARTS for m in ("wall_s", "shuffle_bytes")]
    names += ["dedup.cc.jobs"]
    names += [f"{p}.spill_bytes" for p in ("build", "fold", "graph", "dedup")]
    names += ["traced_pass_s"]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith("span_coverage"):
        return "ratio"
    return "count"  # jobs, read_calls


class NullTracer:
    """Tracing off: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield attrs


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional: without
    it spans are recorded but no job group is set (used by the self-tests)."""

    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # A pool thread started by the pipeline (concurrent stages) has an
        # empty stack; its spans hang off the main thread's open span.
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            sid = f"{self.run_id}:{next(self._ids)}"
        span = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
                "run": self.run_id, "thread": threading.current_thread().name,
                "start": time.time(), "end": None, **attrs}
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        self._set_group(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``restore``.
        ``attrs(args, kwargs)`` may derive span attributes from the call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            extra = attrs(args, kwargs) if attrs else {}
            with self.span(name, **extra):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f)


# -- event log ---------------------------------------------------------------

_TASK_FIELDS = ("executor_s", "shuffle_bytes", "bytes_written", "spill_bytes",
                "python_s", "python_bytes")


def _event_files(log_dir: str) -> list[str]:
    files = []
    for base, _, names in os.walk(log_dir):
        files += [os.path.join(base, n) for n in names if not n.startswith(".")]
    # a rolling log names its parts events_<n>_<app>; order by part number
    def order(p: str):
        parts = os.path.basename(p).split("_")
        return (int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0, p)
    return sorted(files, key=order)


def _task_metrics(event: dict) -> dict:
    tm = event.get("Task Metrics") or {}
    out = dict.fromkeys(_TASK_FIELDS, 0.0)
    out["executor_s"] = tm.get("Executor Run Time", 0) / 1000.0
    out["shuffle_bytes"] = float((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    om = tm.get("Output Metrics") or {}
    out["bytes_written"] = float(om.get("Bytes Written", 0))
    out["spill_bytes"] = float(tm.get("Disk Bytes Spilled", 0))
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if not isinstance(upd, (int, float, str)) or name is None:
            continue
        if name == "time to run Python workers":
            out["python_s"] += float(upd) / 1000.0  # millisecond timing metric
        elif name in ("data sent to Python workers", "data returned from Python workers"):
            out["python_bytes"] += float(upd)
    return out


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of one application: ``{"id", "group", "submitted", "stages",
    **task-metric sums}``. A stage that several jobs list (a reused shuffle)
    is charged to the first job that lists it, the one that ran it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:  # a torn last line of an unfinished log
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"id": jid, "group": props.get("spark.jobGroup.id"),
                                 "submitted": ev.get("Submission Time", 0) / 1000.0,
                                 "stages": ev.get("Stage IDs", []),
                                 **dict.fromkeys(_TASK_FIELDS, 0.0)}
                    for sid in jobs[jid]["stages"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], _task_metrics(ev)))
    for sid, m in tasks:
        job = jobs.get(stage_job.get(sid, -1))
        if job is not None:
            for k in _TASK_FIELDS:
                job[k] += m[k]
    return sorted(jobs.values(), key=lambda j: j["id"])


# -- per-layer arithmetic ------------------------------------------------------


def union_length(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_and_overlap(span: dict, children: list[dict]) -> tuple[float, float]:
    """(self time, overlap) of *span*: self is its duration minus the part
    its children cover; overlap is the children's summed duration minus the
    length of their union, i.e. time counted twice by concurrent children."""
    clipped = [(max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children]
    clipped = [(s, e) for s, e in clipped if e > s]
    covered = union_length(clipped)
    return (span["end"] - span["start"]) - covered, sum(e - s for s, e in clipped) - covered


class SpanTree:
    """Spans indexed by parent, with job metrics rolled up per subtree."""

    def __init__(self, spans: list[dict], jobs: list[dict]) -> None:
        self.spans = [s for s in spans if s["end"] is not None]
        self.children: dict[str | None, list[dict]] = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs_of: dict[str, list[dict]] = {}
        for j in jobs:
            self.jobs_of.setdefault(j["group"], []).append(j)

    def descendants(self, span: dict) -> list[dict]:
        out, todo = [], list(self.children.get(span["id"], []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children.get(s["id"], [])
        return out

    def jobs(self, span: dict) -> list[dict]:
        out = list(self.jobs_of.get(span["id"], []))
        for d in self.descendants(span):
            out += self.jobs_of.get(d["id"], [])
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def under(self, roots: list[dict]) -> list[dict]:
        out = []
        for r in roots:
            out += self.descendants(r)
        return out


def _dur(spans) -> float:
    return float(sum(s["end"] - s["start"] for s in spans))


def _sum(jobs, key: str) -> float:
    return float(sum(j[key] for j in jobs))


def _outermost(spans: list[dict], names) -> list[dict]:
    """Spans named in *names* that have no ancestor among them (so a manifest
    lookup inside another lookup is not counted twice)."""
    picked = [s for s in spans if s["name"] in names]
    ids = {s["id"] for s in picked}
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in picked:
        p = by_id.get(s["parent"])
        while p is not None and p["id"] not in ids:
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def _pipeline_metrics(tree: SpanTree, phase: str, stages, pipeline_span: str) -> dict:
    out: dict[str, float] = {}
    roots = tree.named(phase)
    inner = tree.under(roots)
    runs = [s for s in inner if s["name"] == pipeline_span]
    # stage work: the pipeline's direct calls tagged with a stage (operator
    # call, commit, and the read-back of the committed snapshot)
    staged = [c for p in runs for c in tree.children.get(p["id"], []) if c.get("stage") in stages]
    for st in stages:
        spans = [s for s in staged if s["stage"] == st]
        jobs = [j for s in spans for j in tree.jobs(s)]
        out[f"{phase}.{st}.wall_s"] = _dur(spans)
        for m in ("executor_s", "shuffle_bytes", "bytes_written"):
            out[f"{phase}.{st}.{m}"] = _sum(jobs, m)
        if st in UDF_STAGES:
            out[f"{phase}.{st}.python_s"] = _sum(jobs, "python_s")
            out[f"{phase}.{st}.python_bytes"] = _sum(jobs, "python_bytes")
    self_s = overlap = 0.0
    for p in runs:
        a, b = self_and_overlap(p, tree.children.get(p["id"], []))
        self_s, overlap = self_s + a, overlap + b
    out[f"{phase}.pipeline.self_s"] = self_s
    out[f"{phase}.overlap_s"] = overlap
    # share of the phase's wall time that stage work, pipeline self time
    # and the flagship query account for, once overlap is taken out
    flagship = _dur(s for s in inner if s["name"] == "pipeline.flagship_query")
    wall = _dur(roots)
    out[f"{phase}.span_coverage"] = (_dur(staged) + self_s - overlap + flagship) / wall if wall else 0.0
    cmap = [s for s in inner if s["name"] == "operators.canonicalize.canonical_map"]
    out[f"{phase}.canonical_map.jobs"] = float(sum(len(tree.jobs(s)) for s in cmap))
    out[f"{phase}.spill_bytes"] = _sum([j for r in roots for j in tree.jobs(r)], "spill_bytes")
    return out


def _warehouse_metrics(tree: SpanTree, phase: str) -> dict:
    inner = tree.under(tree.named(phase))
    reads = _outermost(inner, ("warehouse.read",))
    return {f"{phase}.warehouse.read_s": _dur(reads),
            f"{phase}.warehouse.read_calls": float(len(reads)),
            f"{phase}.warehouse.manifest_s": _dur(_outermost(inner, MANIFEST_CALLS))}


def _dedup_metrics(tree: SpanTree) -> dict:
    out: dict[str, float] = {}
    for corpus in tree.named("dedup.corpus"):
        kids = tree.descendants(corpus)
        ccs = [s for s in kids if s["name"] == "operators.graph.connected_components"]
        own = tree.jobs_of.get(corpus["id"], [])
        cc_start = min((s["start"] for s in ccs), default=corpus["end"])
        cc_end = max((s["end"] for s in ccs), default=corpus["end"])
        late = [j for s in kids if s["name"] == "warehouse.commit" for j in tree.jobs(s)]
        parts = {
            "exact": (cc_start - corpus["start"], [j for j in own if j["submitted"] < cc_start]),
            "cc": (_dur(ccs), [j for s in ccs for j in tree.jobs(s)]),
            "apply": (corpus["end"] - cc_end, [j for j in own if j["submitted"] >= cc_end] + late),
        }
        for k, (wall, jobs) in parts.items():
            out[f"dedup.{k}.wall_s"] = out.get(f"dedup.{k}.wall_s", 0.0) + wall
            out[f"dedup.{k}.shuffle_bytes"] = out.get(f"dedup.{k}.shuffle_bytes", 0.0) + _sum(jobs, "shuffle_bytes")
        out["dedup.cc.jobs"] = out.get("dedup.cc.jobs", 0.0) + len(parts["cc"][1])
    folds = tree.named("dedup.fold")
    out["dedup.fold.wall_s"] = _dur(folds)
    out["dedup.fold.shuffle_bytes"] = _sum([j for s in folds for j in tree.jobs(s)], "shuffle_bytes")
    out["dedup.spill_bytes"] = _sum([j for s in tree.named("dedup.corpus") + folds for j in tree.jobs(s)],
                                    "spill_bytes")
    return out


def layer_metrics(spans: list[dict], jobs: list[dict]) -> dict:
    """Every name of ``per_layer_names()`` for one traced pass."""
    tree = SpanTree(spans, jobs)
    out = dict.fromkeys(per_layer_names(), 0.0)
    out.update(_pipeline_metrics(tree, "build", BUILD_STAGES, "pipeline.run_pipeline"))
    out.update(_pipeline_metrics(tree, "fold", FOLD_STAGES, "pipeline.incremental_update"))
    out["build.datagen.alias_df_s"] = _dur(tree.named("datagen.alias_df"))
    out["build.flagship.wall_s"] = _dur(tree.named("pipeline.flagship_query"))
    for phase in ("build", "fold", "graph"):
        out.update(_warehouse_metrics(tree, phase))
    for op in GRAPH_OPS:
        spans_ = tree.named(f"graph.{op}")
        jobs_ = [j for s in spans_ for j in tree.jobs(s)]
        out[f"graph.{op}.wall_s"] = _dur(spans_)
        out[f"graph.{op}.shuffle_bytes"] = _sum(jobs_, "shuffle_bytes")
        out[f"graph.{op}.jobs"] = float(len(jobs_))
    out["graph.spill_bytes"] = _sum([j for s in tree.named("graph") for j in tree.jobs(s)], "spill_bytes")
    out.update(_dedup_metrics(tree))
    out["traced_pass_s"] = _dur(tree.named("pass"))
    return out


def report(path: str) -> str:
    """Human-readable per-layer report of a saved trace file."""
    with open(path) as f:
        saved = json.load(f)
    tree = SpanTree(saved["spans"], saved.get("jobs", []))
    lines = [f"trace {saved['run']}: {len(tree.spans)} spans, {len(saved.get('jobs', []))} jobs"]
    by_name: dict[str, list[float]] = {}
    for s in tree.spans:
        self_s, _ = self_and_overlap(s, tree.children.get(s["id"], []))
        acc = by_name.setdefault(s["name"], [0, 0.0, 0.0, 0.0, 0.0, 0.0])
        jobs = tree.jobs_of.get(s["id"], [])
        acc[0] += 1
        acc[1] += s["end"] - s["start"]
        acc[2] += self_s
        acc[3] += len(jobs)
        acc[4] += _sum(jobs, "executor_s")
        acc[5] += _sum(jobs, "shuffle_bytes")
    lines.append(f"{'span':44} {'calls':>5} {'total_s':>8} {'self_s':>8} {'jobs':>5} {'exec_s':>8} {'shuffle_B':>11}")
    for name, (n, tot, slf, nj, ex, sh) in sorted(by_name.items(), key=lambda kv: -kv[1][2]):
        lines.append(f"{name:44} {n:5d} {tot:8.3f} {slf:8.3f} {int(nj):5d} {ex:8.3f} {int(sh):11d}")
    for k, v in saved.get("per_layer", {}).items():
        if v:
            lines.append(f"{k} = {v:.6g}")
    return "\n".join(lines)
