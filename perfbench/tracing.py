"""Spans around the engine's public entry points, for the traced run.

:class:`Tracer` replaces each traced function with a timing wrapper
installed from the benchmark's own files; the engine is not edited. Every
module attribute that is bound to the original function is replaced, so
names bound at import time are covered as well, in particular
``cdc.apply.merge_into`` (bound from ``lake.merge``) and
``operators.lsh_index.apply_batch`` (bound from ``cdc.apply``).

A span records name, start, end, parent, workload and the index of the
timed operation it belongs to (-1 during set-up). Spans that may run Spark
jobs set a job group of their own for their duration, so the Spark status
store can attribute each job to exactly one span. Spans stay in memory;
:meth:`Tracer.finish` reads the status store once and
:func:`layer_metrics` turns the spans of the timed section into the
per-layer metrics.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    workload: str
    op: int
    light: bool = False  # no job group of its own; never subtracted as a child
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # filled by Tracer.finish from the Spark status store (own group only)
    jobs: list = field(default_factory=list)


# (module, attribute, span name, light). Attributes with a dot are methods.
TARGETS = [
    ("binlog_es_go_spark.cdc.apply", "apply_batch", "cdc.apply.apply_batch", False),
    ("binlog_es_go_spark.cdc.apply", "replay_changelog", "cdc.replay.replay_changelog", False),
    ("binlog_es_go_spark.lake.merge", "merge_into", "lake.merge.merge_into", False),
    ("binlog_es_go_spark.lake.merge", "merge_into_delta", "lake.merge.merge_into_delta", False),
    ("binlog_es_go_spark.lake.maintenance", "compact_deltas", "lake.maintenance.compact_deltas", False),
    ("binlog_es_go_spark.lake.changes", "snapshot_changes", "lake.changes.snapshot_changes", False),
    ("binlog_es_go_spark.lake.table", "LakeTable.write_buckets", "lake.table.write_buckets", False),
    ("binlog_es_go_spark.lake.table", "LakeTable.append_delta", "lake.table.append_delta", False),
    ("binlog_es_go_spark.lake.table", "LakeTable.read_keys", "lake.table.read_keys", False),
    ("binlog_es_go_spark.lake.table", "LakeTable.snapshot", "lake.table.snapshot", True),
    ("binlog_es_go_spark.lake.table", "LakeTable.read", "lake.table.read", True),
    ("binlog_es_go_spark.lake.table", "LakeTable.delta_rows", "lake.table.delta_rows", True),
    ("binlog_es_go_spark.operators.lsh_index", "LshIndex.apply_doc_batch",
     "operators.lsh_index.apply_doc_batch", False),
    ("binlog_es_go_spark.operators.lsh_index", "EmbeddingNearDupIndex.apply_vec_batch",
     "operators.lsh_index.apply_vec_batch", False),
    ("binlog_es_go_spark.operators.lsh_index", "LshIndex.candidate_pairs",
     "operators.lsh_index.candidate_pairs", False),
    ("binlog_es_go_spark.operators.lsh_index", "EmbeddingNearDupIndex.candidate_pairs",
     "operators.lsh_index.candidate_pairs", False),
]

# Import-bound names the wrappers must reach (checked at install).
MUST_REPLACE = [
    ("binlog_es_go_spark.cdc.apply", "merge_into"),
    ("binlog_es_go_spark.operators.lsh_index", "apply_batch"),
]


class Tracer:
    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._orig: dict[str, object] = {}

    # ----------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, light: bool = False):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, time.time(), parent.id if parent else None,
                  self.workload, self.op, light)
        self.spans.append(sp)
        self._stack.append(sp)
        if not light:
            self.sc.setLocalProperty(JOB_GROUP, self._group(sp))
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if not light:
                outer = next((s for s in reversed(self._stack) if not s.light), None)
                self.sc.setLocalProperty(JOB_GROUP, self._group(outer) if outer else None)

    @contextmanager
    def operation(self, index: int, kind: str):
        """A timed operation of the workload: the root of its spans."""
        self.op = index
        try:
            with self.span(f"op.{kind}") as sp:
                yield sp
        finally:
            self.op = -1

    def _group(self, sp: Span) -> str:
        return f"perfbench-{self.workload}-{sp.id}"

    # -------------------------------------------------------- wrappers
    def install(self) -> None:
        for mod_name, attr, span_name, light in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[meth]
                self._orig[f"{mod_name}.{attr}"] = orig
                setattr(owner, meth, self._wrap(orig, span_name, light))
                continue
            orig = getattr(mod, attr)
            self._orig[f"{mod_name}.{attr}"] = orig
            wrapped = self._wrap(orig, span_name, light)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("binlog_es_go_spark") and \
                        getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)
        for mod_name, attr in MUST_REPLACE:
            fn = getattr(importlib.import_module(mod_name), attr)
            if not hasattr(fn, "__wrapped__"):
                raise RuntimeError(f"{mod_name}.{attr} was not wrapped")

    def _wrap(self, fn, span_name: str, light: bool):
        tracer = self
        on_result = _ON_RESULT.get(span_name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name, light) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(tracer, sp, args, kwargs, out)
                return out

        return wrapper

    def original(self, qualname: str):
        return self._orig[qualname]

    # ---------------------------------------------------- status store
    def finish(self) -> None:
        """Attach each span's own Spark jobs from the status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_group = {self._group(s): s for s in self.spans if not s.light}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            sp = by_group.get(g.get()) if g.isDefined() else None
            if sp is None:
                continue
            shuffle = 0
            for k in range(j.stageIds().size()):
                st = store.lastStageAttempt(j.stageIds().apply(k))
                if st.status().toString() != "SKIPPED":
                    shuffle += int(st.shuffleWriteBytes())
            sub = j.submissionTime()
            done = j.completionTime()
            sp.jobs.append({
                "id": int(j.jobId()),
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else sp.start,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else sp.end,
                "stages": int(j.numCompletedStages()),
                "tasks": int(j.numCompletedTasks()),
                "shuffle_write_bytes": shuffle,
            })
        for sp in self.spans:
            sp.jobs.sort(key=lambda d: d["id"])

    def dump(self, path: str, summary: dict) -> None:
        tree = SpanTree(self.spans)
        out = {
            "workload": self.workload,
            "summary": summary,
            "spans": [
                {**asdict(s), "duration": s.end - s.start, "self": tree.self_time(s),
                 "subtree_jobs": len(tree.jobs(s))}
                for s in self.spans
            ],
        }
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


# ------------------------------------------------- result hooks per span
def _merge_result(tracer, sp, args, kwargs, res):
    sp.attrs["files_rewritten"] = res.rewritten_files or 0
    sp.attrs["files_carried"] = res.carried_files or 0


def _commit_files(tracer, sp, args, kwargs, snap):
    table = args[0]
    parent = tracer.original("binlog_es_go_spark.lake.table.LakeTable.snapshot")(table, snap.parent)
    old = {p for fl in parent.buckets.values() for p in fl} | set(parent.deltas or [])
    new = {p for fl in snap.buckets.values() for p in fl} | set(snap.deltas or [])
    added = new - old
    sp.attrs["files_written"] = len(added)
    sp.attrs["bytes_written"] = sum((snap.file_sizes or {}).get(p, 0) for p in added)


def _read_files(tracer, sp, args, kwargs, df):
    files = kwargs.get("files")
    sp.attrs["files"] = len(files) if files is not None else None


def _delta_files(tracer, sp, args, kwargs, df):
    files = kwargs.get("delta_files")
    sp.attrs["files"] = len(files) if files is not None else None


_ON_RESULT = {
    "lake.merge.merge_into": _merge_result,
    "lake.merge.merge_into_delta": _merge_result,
    "lake.table.write_buckets": _commit_files,
    "lake.table.append_delta": _commit_files,
    "lake.table.read": _read_files,
    "lake.table.delta_rows": _delta_files,
}


# ------------------------------------------------------------ analysis
def _union_length(intervals) -> float:
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


class SpanTree:
    def __init__(self, spans: list[Span]):
        self.spans = spans
        self.children: dict[int | None, list[Span]] = {}
        for s in spans:
            self.children.setdefault(s.parent, []).append(s)

    def kids(self, sp: Span, name: str | None = None) -> list[Span]:
        return [c for c in self.children.get(sp.id, []) if name is None or c.name == name]

    def descendants(self, sp: Span):
        for c in self.children.get(sp.id, []):
            yield c
            yield from self.descendants(c)

    def self_time(self, sp: Span) -> float:
        """Duration minus the part covered by its (non-light) children."""
        heavy = [(c.start, c.end) for c in self.children.get(sp.id, []) if not c.light]
        return (sp.end - sp.start) - _union_length(heavy)

    def jobs(self, sp: Span) -> list[dict]:
        out = list(sp.jobs)
        for d in self.descendants(sp):
            out.extend(d.jobs)
        return out

    def driver_gap(self, sp: Span) -> float:
        iv = [(max(j["start"], sp.start), min(j["end"], sp.end)) for j in self.jobs(sp)]
        return (sp.end - sp.start) - _union_length([(s, e) for s, e in iv if e > s])


# name, unit, better — the order the traced run prints them in
LAYER_METRICS = [
    ("cdc.apply.self_s", "s", "lower"),
    ("cdc.apply.jobs", "count", "lower"),
    ("cdc.apply.delta_commits", "count", "higher"),
    ("cdc.apply.rewrite_commits", "count", "lower"),
    ("cdc.replay.scan_s", "s", "lower"),
    ("lake.merge.self_s", "s", "lower"),
    ("lake.merge.delta_s", "s", "lower"),
    ("lake.merge.files_rewritten", "count", "lower"),
    ("lake.merge.files_carried", "count", "higher"),
    ("lake.table.write_s", "s", "lower"),
    ("lake.table.files_written", "count", "lower"),
    ("lake.table.bytes_written", "B", "lower"),
    ("lake.table.snapshot_s", "s", "lower"),
    ("lake.table.snapshot_calls", "count", "lower"),
    ("lake.table.read_keys_s", "s", "lower"),
    ("lake.table.read_files", "count", "lower"),
    ("lake.maintenance.fold_s", "s", "lower"),
    ("lake.maintenance.folds", "count", "lower"),
    ("lake.changes.diff_s", "s", "lower"),
    ("lake.changes.rows", "count", "lower"),
    ("operators.lsh_index.sign_s", "s", "lower"),
    ("operators.lsh_index.apply_s", "s", "lower"),
    ("operators.lsh_index.probe_s", "s", "lower"),
    ("operators.lsh_index.probe_jobs", "count", "lower"),
    ("operators.lsh_index.candidates", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
]


def layer_metrics(spans: list[Span], setup: dict[str, float]) -> dict[str, dict]:
    """Per-layer metrics of the timed section: for each, the value per
    call of the layer (``per_op``) and the sum over the section (``sum``).
    Decision counts (delta/rewrite commits, folds) are per timed section
    in both fields' sense: ``per_op`` is their share of the calls."""
    tree = SpanTree(spans)
    timed = [s for s in spans if s.op >= 0]
    ops = [s for s in timed if s.parent is None]
    by_name: dict[str, list[Span]] = {}
    for s in timed:
        by_name.setdefault(s.name, []).append(s)

    def named(n):
        return by_name.get(n, [])

    out: dict[str, dict] = {}

    def put(name, values, per=None):
        values = list(values)
        total = float(sum(values))
        n = len(values) if per is None else per
        out[name] = {"per_op": total / n if n else 0.0, "sum": total, "calls": n}

    applies = named("cdc.apply.apply_batch")
    put("cdc.apply.self_s", (tree.self_time(s) for s in applies))
    put("cdc.apply.jobs", (len(tree.jobs(s)) for s in applies))
    put("cdc.apply.delta_commits",
        (1 for s in applies if tree.kids(s, "lake.merge.merge_into_delta")), per=len(applies))
    put("cdc.apply.rewrite_commits",
        (1 for s in applies if tree.kids(s, "lake.merge.merge_into")), per=len(applies))
    put("cdc.replay.scan_s", (tree.self_time(s) for s in named("cdc.replay.replay_changelog")))
    merges = named("lake.merge.merge_into")
    deltas = named("lake.merge.merge_into_delta")
    put("lake.merge.self_s", (tree.self_time(s) for s in merges))
    put("lake.merge.delta_s", (s.end - s.start for s in deltas))
    put("lake.merge.files_rewritten", (s.attrs.get("files_rewritten", 0) for s in merges + deltas))
    put("lake.merge.files_carried", (s.attrs.get("files_carried", 0) for s in merges + deltas))
    writes = named("lake.table.write_buckets")
    commits = writes + named("lake.table.append_delta")
    put("lake.table.write_s", (s.end - s.start for s in writes))
    put("lake.table.files_written", (s.attrs.get("files_written", 0) for s in commits))
    put("lake.table.bytes_written", (s.attrs.get("bytes_written", 0) for s in commits))
    snaps = named("lake.table.snapshot")
    put("lake.table.snapshot_s", (s.end - s.start for s in snaps), per=len(ops))
    put("lake.table.snapshot_calls", (1 for _ in snaps), per=len(ops))
    rk = named("lake.table.read_keys")
    put("lake.table.read_keys_s", (s.end - s.start for s in rk))
    put("lake.table.read_files", (
        sum(c.attrs.get("files") or 0 for c in tree.kids(s)
            if c.name in ("lake.table.read", "lake.table.delta_rows"))
        for s in rk
    ))
    folds = named("lake.maintenance.compact_deltas")
    put("lake.maintenance.fold_s", (s.end - s.start for s in folds))
    put("lake.maintenance.folds", (1 for _ in folds), per=1)
    diffs = [s for s in ops if s.name == "op.read" and tree.kids(s, "lake.changes.snapshot_changes")]
    put("lake.changes.diff_s", (s.end - s.start for s in diffs))
    put("lake.changes.rows", (s.attrs.get("rows", 0) for s in diffs))
    idx = named("operators.lsh_index.apply_doc_batch") + named("operators.lsh_index.apply_vec_batch")
    put("operators.lsh_index.sign_s", (tree.self_time(s) for s in idx))
    put("operators.lsh_index.apply_s",
        (sum(c.end - c.start for c in tree.kids(s, "cdc.apply.apply_batch")) for s in idx))
    probes = [s for s in ops if s.name == "op.probe"]
    put("operators.lsh_index.probe_s", (s.end - s.start for s in probes))
    put("operators.lsh_index.probe_jobs", (len(tree.jobs(s)) for s in probes))
    put("operators.lsh_index.candidates", (s.attrs.get("rows", 0) for s in probes))
    op_jobs = [tree.jobs(s) for s in ops]
    put("spark.jobs", (len(j) for j in op_jobs))
    put("spark.stages", (sum(x["stages"] for x in j) for j in op_jobs))
    put("spark.tasks", (sum(x["tasks"] for x in j) for j in op_jobs))
    put("spark.shuffle_write_bytes", (sum(x["shuffle_write_bytes"] for x in j) for j in op_jobs))
    put("spark.driver_gap_s", (tree.driver_gap(s) for s in ops))
    put("session.start_s", [setup["session_start_s"]])
    put("session.warmup_s", [setup["warmup_s"]])
    return out


def span_job_counts(spans: list[Span]) -> list[tuple[str, int, int]]:
    """(name, op, own job count) per span — identical across traced runs
    of the same inputs when job attribution is deterministic."""
    return [(s.name, s.op, len(s.jobs)) for s in spans if not s.light]

