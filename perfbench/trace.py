"""Span recorder and Spark event-log reader for the traced run.

Spans are recorded from OUTSIDE the engine: ``Tracer.install`` rebinds
module-level functions (and a few ``IndexReader`` methods) to timing
wrappers, in the namespace where each name is looked up at call time
(``search.py`` imports ``score_tf`` and the postings decoders by name,
``build.py`` imports ``encode_varint_with_lengths`` and ``encode_norms``
by name, ``update_documents`` imports ``build_index`` inside its body).
Spark work runs in the JVM and in Python worker processes the wrappers
cannot see; it is read back from the event log, where every job carries
the op id set with ``sc.setJobGroup``.

Spans stay in memory (one small list per span) until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import types
from typing import Dict, Iterable, List, Optional, Tuple

# (owner module path, attribute, span name). A dotted attribute names a
# method on a class inside the module.
WRAPPED = [
    ("lucene_solr_spark.sources", "synth_repo_files", "sources.synth_repo_files"),
    ("lucene_solr_spark.sources", "assign_doc_ids", "sources.assign_doc_ids"),
    ("lucene_solr_spark.analysis", "tokenize", "analysis.tokenize"),
    ("lucene_solr_spark.operators.search", "parse_query", "plans.query.parse_query"),
    ("lucene_solr_spark.operators.search", "rewrite", "plans.query.rewrite"),
    ("lucene_solr_spark.operators.search", "IndexReader.__init__", "search.open"),
    ("lucene_solr_spark.operators.search", "IndexReader.search", "search.plan"),
    ("lucene_solr_spark.operators.search", "IndexReader._expand", "search.expand"),
    ("lucene_solr_spark.operators.search", "IndexReader.global_dfs", "search.global_dfs"),
    ("lucene_solr_spark.operators.search", "IndexReader._weights", "search.weights"),
    ("lucene_solr_spark.operators.search", "IndexReader._per_segment", "search.per_segment"),
    ("lucene_solr_spark.operators.search", "make_query_kernel", "search.make_kernel"),
    ("lucene_solr_spark.operators.search", "score_tf", "functions.bm25.score_tf"),
    ("lucene_solr_spark.operators.search", "decode_docs", "functions.postings.decode_docs"),
    ("lucene_solr_spark.operators.search", "decode_tfs", "functions.postings.decode_tfs"),
    ("lucene_solr_spark.operators.search", "decode_norms", "functions.postings.decode_norms"),
    ("lucene_solr_spark.operators.search", "decode_positions_concat",
     "functions.postings.decode_positions"),
    ("lucene_solr_spark.operators.search", "decode_block_docs",
     "functions.postings.decode_block_docs"),
    ("lucene_solr_spark.functions.postings", "decode_varint", "functions.varint.decode"),
    ("lucene_solr_spark.functions.varint", "decode_varint", "functions.varint.decode"),
    ("lucene_solr_spark.operators.build", "build_index", "build.build_index"),
    ("lucene_solr_spark.operators.build", "make_segment_writer", "build.make_writer"),
    ("lucene_solr_spark.operators.build", "commit_manifest", "build.commit"),
    ("lucene_solr_spark.operators.build", "encode_varint_with_lengths", "functions.varint.encode"),
    ("lucene_solr_spark.operators.build", "encode_norms", "functions.smallfloat.encode_norms"),
    ("lucene_solr_spark.operators.build", "_atomic_parquet_write", "build.write"),
    ("lucene_solr_spark.operators.merge", "force_merge", "merge.force_merge"),
    ("lucene_solr_spark.operators.merge", "plan_merges", "merge.plan"),
    ("lucene_solr_spark.operators.merge", "merge_many", "merge.wave"),
    ("lucene_solr_spark.operators.merge", "commit_manifest", "merge.commit"),
    ("lucene_solr_spark.operators.merge", "vacuum", "merge.vacuum"),
    ("lucene_solr_spark.operators.delete", "update_documents", "delete.update"),
    ("lucene_solr_spark.operators.delete", "delete_documents", "delete.delete"),
    ("lucene_solr_spark.operators.delete", "allocate_doc_ids", "delete.allocate_ids"),
    ("lucene_solr_spark.operators.delete", "commit_manifest", "delete.commit"),
]

# span fields: [id, name, t0_ns, t1_ns, parent id (-1 = root), op id]
ID, NAME, T0, T1, PARENT, OP = range(6)


class NullTracer:
    """Tracing off: ops and spans cost one context-manager entry."""

    enabled = False

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        yield

    @contextlib.contextmanager
    def span(self, name: str):
        yield


class Tracer(NullTracer):
    """In-memory span recorder. ``op`` tags Spark jobs with the op id."""

    enabled = True

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: List[list] = []
        self._stack: List[int] = []
        self._op: str = ""
        self._patches: List[Tuple[object, str, object]] = []
        # perf_counter_ns -> epoch ms, to line spans up with event-log times
        self._epoch_ms = time.time() * 1e3
        self._perf_ns = time.perf_counter_ns()

    def epoch_ms(self, t_ns: int) -> float:
        return self._epoch_ms + (t_ns - self._perf_ns) / 1e6

    @contextlib.contextmanager
    def span(self, name: str):
        rec = [len(self.spans), name, time.perf_counter_ns(), 0,
               self._stack[-1] if self._stack else -1, self._op]
        self.spans.append(rec)
        self._stack.append(rec[ID])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec[T1] = time.perf_counter_ns()

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        prev = self._op
        self._op = op_id
        if self.sc is not None:
            self.sc.setJobGroup(op_id, kind)
        try:
            with self.span("op." + kind):
                yield
        finally:
            self._op = prev
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev or None)

    def install(self) -> None:
        """Rebind every name in ``WRAPPED`` to a traced wrapper (no-op
        when already installed)."""
        import importlib

        if self._patches:
            return
        for mod_name, attr, name in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            original = owner.__dict__[leaf]
            self._patches.append((owner, leaf, original))
            setattr(owner, leaf, _Traced(original, name, self))

    def uninstall(self) -> None:
        while self._patches:
            owner, leaf, original = self._patches.pop()
            setattr(owner, leaf, original)


def _identity(fn):
    return fn


class _Traced:
    """A function or method wrapped in a span. Pickles as the original,
    so kernels that Spark ships to its Python workers (closures naming
    ``encode_varint_with_lengths``, ``score_tf``, ...) run untraced
    there and never try to carry the tracer along."""

    def __init__(self, fn, name: str, tracer: Tracer):
        functools.update_wrapper(self, fn)
        self.fn, self.name, self.tracer = fn, name, tracer

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.name):
            return self.fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return _identity, (self.fn,)


# ------------------------------------------------------------ span algebra


def duration_ms(s) -> float:
    return (s[T1] - s[T0]) / 1e6


def children_index(spans: List[list]) -> Dict[int, List[list]]:
    out: Dict[int, List[list]] = {}
    for s in spans:
        out.setdefault(s[PARENT], []).append(s)
    return out


def _union_ns(intervals: List[Tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_ms(s, kids: Dict[int, List[list]]) -> float:
    """Span duration minus the part of it its child spans cover."""
    covered = _union_ns([(c[T0], c[T1]) for c in kids.get(s[ID], [])])
    return (s[T1] - s[T0] - covered) / 1e6


def outermost(spans: List[list], names: Iterable[str]) -> List[list]:
    """Spans named in ``names`` with no ancestor in ``spans`` also named
    there (so nested decoders are not counted twice)."""
    names = set(names)
    by_id = {s[ID]: s for s in spans}
    out = []
    for s in spans:
        if s[NAME] not in names:
            continue
        p = s[PARENT]
        while p in by_id and by_id[p][NAME] not in names:
            p = by_id[p][PARENT]
        if p not in by_id:
            out.append(s)
    return out


def descendants(root, kids: Dict[int, List[list]]) -> List[list]:
    out, todo = [], list(kids.get(root[ID], []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s[ID], []))
    return out


def check_nesting(spans: List[list]) -> List[str]:
    """-> problems: a child outside its parent, an open span, or a
    negative self time. Empty list when the trace is well formed."""
    by_id = {s[ID]: s for s in spans}
    kids = children_index(spans)
    bad = []
    for s in spans:
        if s[T1] < s[T0]:
            bad.append(f"span {s[ID]} {s[NAME]} ends before it starts")
            continue
        if s[PARENT] != -1:
            p = by_id[s[PARENT]]
            if s[T0] < p[T0] or s[T1] > p[T1]:
                bad.append(f"span {s[ID]} {s[NAME]} lies outside parent {p[NAME]}")
        if self_ms(s, kids) < 0:
            bad.append(f"span {s[ID]} {s[NAME]} has negative self time")
    return bad


# --------------------------------------------------------- event-log reader


def read_event_log(path: str) -> Dict[int, dict]:
    """Parse an uncompressed, non-rolling Spark event log.

    -> {job id: job}, each job with its group id, wall interval (epoch
    ms) and the summed task metrics of the stages it ran. A stage that
    several jobs list ran its tasks under the first of them.
    """
    jobs: Dict[int, dict] = {}
    stage_job: Dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "submit_ms": ev.get("Submission Time", 0),
                    "end_ms": None, "tasks": 0, "failed_tasks": 0,
                    "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                    "input_bytes": 0, "shuffle_write_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["end_ms"] = ev.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"]))
                if j is None:
                    continue
                m = ev.get("Task Metrics") or {}
                j["tasks"] += 1
                if (ev.get("Task Info") or {}).get("Failed") or (
                        ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
                    j["failed_tasks"] += 1
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["cpu_ns"] += m.get("Executor CPU Time", 0)
                j["gc_ms"] += m.get("JVM GC Time", 0)
                j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    for j in jobs.values():
        if j["end_ms"] is None:
            j["end_ms"] = j["submit_ms"]
    return jobs


def find_event_log(log_dir: str) -> Optional[str]:
    if not os.path.isdir(log_dir):
        return None
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    files = [f for f in files if os.path.isfile(f)]
    return max(files, key=os.path.getmtime) if files else None


def jobs_in(jobs: Dict[int, dict], op_id: str, t0_ms: float, t1_ms: float) -> List[dict]:
    """Jobs of ``op_id`` submitted inside [t0_ms, t1_ms] (1 ms slack for
    the two clocks' rounding)."""
    return [j for j in jobs.values()
            if j["group"] == op_id and t0_ms - 1 <= j["submit_ms"] <= t1_ms + 1]
