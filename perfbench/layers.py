"""Per-layer metrics of a traced run, from spans, event-log jobs and gauges.

Layers are named after the package modules (``sources``, ``analysis``,
``plans.query``, ``operators.build|merge|delete|search``, ``functions``)
plus ``spark`` for scheduling, shuffle and GC. A layer a workload does
not exercise reads 0.
"""

from __future__ import annotations

import statistics
from typing import Dict, List, Tuple

from .trace import (ID, NAME, OP, PARENT, T0, T1, children_index, descendants, duration_ms,
                    jobs_in, outermost, self_ms)

# name -> unit, in report order; BENCHMARK.json lists the same names
UNITS: Dict[str, str] = {
    "sources.generate_s": "s",
    "plans.query.parse_ms": "ms",
    "search.plan_ms": "ms",
    "search.global_dfs_ms": "ms",
    "search.global_dfs_jobs": "count",
    "search.df_first_seen_ratio": "ratio",
    "search.collect_ms": "ms",
    "search.jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "search.input_bytes_per_query": "bytes",
    "search.shuffle_bytes_per_query": "bytes",
    "search.executor_run_ms_per_query": "ms",
    "search.executor_cpu_ms_per_query": "ms",
    "search.kernel_ms": "ms",
    "search.kernel.decode_ms": "ms",
    "search.kernel.score_ms": "ms",
    "search.posting_rows_per_query": "count",
    "search.spark_overhead_ms": "ms",
    "search.open_ms": "ms",
    "search.first_query_after_open_ms": "ms",
    "build.s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "build.shuffle_write_bytes": "bytes",
    "build.executor_run_s": "s",
    "build.executor_cpu_s": "s",
    "build.kernel_s": "s",
    "build.kernel.tokenize_s": "s",
    "build.kernel.encode_s": "s",
    "build.kernel.norms_s": "s",
    "build.kernel.write_s": "s",
    "build.kernel.other_s": "s",
    "build.spark_overhead_s": "s",
    "build.commit_ms": "ms",
    "build.segments": "count",
    "build.postings_bytes": "bytes",
    "merge.plan_ms": "ms",
    "merge.waves": "count",
    "merge.wave_s": "s",
    "merge.jobs_per_wave": "count",
    "merge.tasks": "count",
    "merge.shuffle_write_bytes": "bytes",
    "merge.executor_run_s": "s",
    "merge.commit_ms": "ms",
    "merge.vacuum_ms": "ms",
    "merge.bytes_rewritten_per_index_byte": "ratio",
    "merge.segments_after": "count",
    "delete.update_s": "s",
    "delete.update.build_s": "s",
    "delete.update.delete_ms": "ms",
    "delete.delete_ms": "ms",
    "delete.jobs_per_update": "count",
    "nrt.segments": "count",
    "nrt.tombstones": "count",
    "spark.jobs": "count",
    "spark.failed_tasks": "count",
    "spark.gc_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.unaccounted_ms": "ms",
    "trace.spans": "count",
}

DECODERS = ("functions.postings.decode_docs", "functions.postings.decode_tfs",
            "functions.postings.decode_norms", "functions.postings.decode_positions",
            "functions.postings.decode_block_docs", "functions.varint.decode")
MAIN_OP = {"query_zipf": "op.query", "nrt_churn": "op.nrt"}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Trace:
    """Spans plus the event-log jobs they caused."""

    def __init__(self, tracer, jobs: Dict[int, dict]):
        self.tracer = tracer
        self.spans = tracer.spans
        self.kids = children_index(self.spans)
        self.jobs = jobs
        self.by_id = {s[ID]: s for s in self.spans}

    def named(self, name: str) -> List[list]:
        return [s for s in self.spans if s[NAME] == name]

    def under(self, root, name: str) -> List[list]:
        return [s for s in descendants(root, self.kids) if s[NAME] == name]

    def ms_under(self, root, name: str) -> float:
        return sum(duration_ms(s) for s in self.under(root, name))

    def op_kind(self, s) -> str:
        while s[PARENT] != -1:
            s = self.by_id[s[PARENT]]
        return s[NAME]

    def jobs_of(self, s) -> List[dict]:
        t = self.tracer
        return jobs_in(self.jobs, s[OP], t.epoch_ms(s[T0]), t.epoch_ms(s[T1]))

    def job_sum(self, spans, key: str) -> float:
        return sum(j[key] for s in spans for j in self.jobs_of(s))


def compute(workload: str, tracer, jobs: Dict[int, dict],
            gauges: Dict[str, float]) -> Tuple[Dict[str, float], Dict[str, dict]]:
    """-> (per-layer metrics, per-op-kind breakdown for the report)."""
    tr = Trace(tracer, jobs)
    m: Dict[str, float] = {k: 0.0 for k in UNITS}

    m["sources.generate_s"] = _mean(duration_ms(s) for s in tr.named("sources.generate")) / 1e3

    # ---- search: each planned query = its search.plan span plus the
    # search.collect that follows it in the same op (query and nrt ops)
    per_q = []
    collects = sorted(tr.named("search.collect"), key=lambda s: s[T0])
    for plan in tr.named("search.plan"):
        if tr.op_kind(plan) not in ("op.query", "op.nrt"):
            continue
        nxt = [c for c in collects if c[OP] == plan[OP] and c[T0] >= plan[T1]]
        if not nxt:
            continue
        col = nxt[0]
        t = tr.tracer
        qjobs = jobs_in(tr.jobs, plan[OP], t.epoch_ms(plan[T0]), t.epoch_ms(col[T1]))
        dfs = tr.under(plan, "search.global_dfs")
        per_q.append({
            "parse": sum(duration_ms(s) for s in outermost(
                descendants(plan, tr.kids),
                ("plans.query.parse_query", "plans.query.rewrite"))),
            "plan": duration_ms(plan),
            "dfs": sum(duration_ms(s) for s in dfs),
            "dfs_jobs": sum(len(tr.jobs_of(s)) for s in dfs),
            "collect": duration_ms(col),
            "jobs": len(qjobs),
            "tasks": sum(j["tasks"] for j in qjobs),
            "input": sum(j["input_bytes"] for j in qjobs),
            "shuffle": sum(j["shuffle_write_bytes"] for j in qjobs),
            "run": sum(j["run_ms"] for j in qjobs),
            "cpu": sum(j["cpu_ns"] for j in qjobs) / 1e6,
            "collect_run_ms": sum(j["run_ms"] for j in tr.jobs_of(col)),
            "op": plan[OP],
        })
    if per_q:
        m["plans.query.parse_ms"] = _median(p["parse"] for p in per_q)
        m["search.plan_ms"] = _median(p["plan"] for p in per_q)
        m["search.global_dfs_ms"] = _mean(p["dfs"] for p in per_q)
        m["search.global_dfs_jobs"] = _mean(p["dfs_jobs"] for p in per_q)
        m["search.collect_ms"] = _median(p["collect"] for p in per_q)
        m["search.jobs_per_query"] = _mean(p["jobs"] for p in per_q)
        m["search.tasks_per_query"] = _mean(p["tasks"] for p in per_q)
        m["search.input_bytes_per_query"] = _mean(p["input"] for p in per_q)
        m["search.shuffle_bytes_per_query"] = _mean(p["shuffle"] for p in per_q)
        m["search.executor_run_ms_per_query"] = _mean(p["run"] for p in per_q)
        m["search.executor_cpu_ms_per_query"] = _mean(p["cpu"] for p in per_q)
    # kernel replays exist for query_zipf's timed queries (op "r" + id)
    replays = {r[OP][1:]: r for r in tr.named("op.replay")}
    kern, dec, score, over = [], [], [], []
    for p in per_q:
        r = replays.get(p["op"])
        if r is None:
            continue
        k_ms = tr.ms_under(r, "search.kernel")
        kern.append(k_ms)
        dec.append(sum(duration_ms(s) for s in outermost(descendants(r, tr.kids), DECODERS)))
        score.append(tr.ms_under(r, "functions.bm25.score_tf"))
        over.append(p["collect_run_ms"] - k_ms)
    m["search.kernel_ms"] = _median(kern)
    m["search.kernel.decode_ms"] = _median(dec)
    m["search.kernel.score_ms"] = _median(score)
    m["search.spark_overhead_ms"] = _median(over)

    opens = tr.named("search.open")
    m["search.open_ms"] = _median(duration_ms(s) for s in opens)
    firsts = []
    for o in opens:
        nxt = [c for c in collects if c[T0] >= o[T1]]
        if nxt:
            firsts.append((nxt[0][T1] - o[T1]) / 1e6)
    m["search.first_query_after_open_ms"] = _median(firsts)

    # ---- build: every build_index call; kernel split from the replay
    builds = tr.named("build.build_index")
    if builds:
        m["build.s"] = _mean(duration_ms(s) for s in builds) / 1e3
        m["build.jobs"] = _mean(len(tr.jobs_of(s)) for s in builds)
        m["build.tasks"] = tr.job_sum(builds, "tasks") / len(builds)
        m["build.shuffle_write_bytes"] = tr.job_sum(builds, "shuffle_write_bytes") / len(builds)
        m["build.executor_run_s"] = tr.job_sum(builds, "run_ms") / len(builds) / 1e3
        m["build.executor_cpu_s"] = tr.job_sum(builds, "cpu_ns") / len(builds) / 1e9
        m["build.commit_ms"] = _mean(tr.ms_under(b, "build.commit") for b in builds)
    for r in tr.named("op.replay_build"):
        k_s = tr.ms_under(r, "build.kernel") / 1e3
        parts = {
            "build.kernel.tokenize_s": tr.ms_under(r, "analysis.tokenize") / 1e3,
            "build.kernel.encode_s": tr.ms_under(r, "functions.varint.encode") / 1e3,
            "build.kernel.norms_s": tr.ms_under(r, "functions.smallfloat.encode_norms") / 1e3,
            "build.kernel.write_s": tr.ms_under(r, "build.write") / 1e3,
        }
        m.update(parts)
        m["build.kernel_s"] = k_s
        m["build.kernel.other_s"] = k_s - sum(parts.values())
        # the replay rebuilds the workload's full corpus: compare it with
        # the task time of full-corpus builds (the set-ups)
        full = [b for b in builds if tr.op_kind(b) == "op.setup"]
        if full:
            m["build.spark_overhead_s"] = tr.job_sum(full, "run_ms") / len(full) / 1e3 - k_s

    # ---- merge: force_merge calls that merged something
    m["merge.plan_ms"] = _mean(tr.ms_under(s, "merge.plan")
                               for s in tr.named("merge.force_merge"))
    merges = [s for s in tr.named("merge.force_merge") if tr.under(s, "merge.wave")]
    waves = tr.named("merge.wave")
    if merges:
        m["merge.waves"] = _mean(len(tr.under(s, "merge.wave")) for s in merges)
        m["merge.tasks"] = tr.job_sum(merges, "tasks") / len(merges)
        m["merge.shuffle_write_bytes"] = tr.job_sum(merges, "shuffle_write_bytes") / len(merges)
        m["merge.executor_run_s"] = tr.job_sum(merges, "run_ms") / len(merges) / 1e3
    if waves:
        m["merge.wave_s"] = _mean(duration_ms(s) for s in waves) / 1e3
        m["merge.jobs_per_wave"] = _mean(len(tr.jobs_of(s)) for s in waves)
        m["merge.commit_ms"] = _mean(tr.ms_under(s, "merge.commit") for s in waves)
    m["merge.vacuum_ms"] = _mean(duration_ms(s) for s in tr.named("merge.vacuum"))

    # ---- delete: update_documents (build + tombstone) and plain deletes
    updates = tr.named("delete.update")
    if updates:
        m["delete.update_s"] = _mean(duration_ms(s) for s in updates) / 1e3
        m["delete.update.build_s"] = _mean(tr.ms_under(s, "build.build_index")
                                           for s in updates) / 1e3
        m["delete.update.delete_ms"] = _mean(tr.ms_under(s, "delete.delete") for s in updates)
        m["delete.jobs_per_update"] = _mean(len(tr.jobs_of(s)) for s in updates)
    in_update = {s[ID] for u in updates for s in tr.under(u, "delete.delete")}
    m["delete.delete_ms"] = _mean(duration_ms(s) for s in tr.named("delete.delete")
                                  if s[ID] not in in_update)

    # ---- spark: every job an op tagged
    tagged = [j for j in jobs.values() if j["group"]]
    m["spark.jobs"] = len(tagged)
    m["spark.failed_tasks"] = sum(j["failed_tasks"] for j in jobs.values())
    m["spark.gc_ms"] = sum(j["gc_ms"] for j in tagged)

    # ---- ops: self time (unaccounted) per op kind
    breakdown: Dict[str, dict] = {}
    for s in tr.spans:
        if s[PARENT] == -1 and s[NAME].startswith("op."):
            b = breakdown.setdefault(s[NAME], {"n": 0, "total_ms": 0.0,
                                               "unaccounted_ms": 0.0, "layers": {}})
            b["n"] += 1
            b["total_ms"] += duration_ms(s)
            b["unaccounted_ms"] += self_ms(s, tr.kids)
            for c in tr.kids.get(s[ID], []):
                b["layers"][c[NAME]] = b["layers"].get(c[NAME], 0.0) + duration_ms(c)
    m["trace.unaccounted_ms"] = _median(self_ms(s, tr.kids) for s in tr.named(MAIN_OP[workload]))
    m["trace.spans"] = len(tr.spans)

    for k, v in gauges.items():
        if k in m:
            m[k] = float(v)
    return m, breakdown


def self_time_table(tracer) -> Dict[str, Tuple[int, float]]:
    """span name -> (calls, total self ms) over the spans of ops: where
    every traced second went. (A reader opened while tracing keeps its
    wrapped ``score_fn``, so untraced checks can leave spans outside any
    op; they are not counted.)"""
    kids = children_index(tracer.spans)
    out: Dict[str, Tuple[int, float]] = {}
    for s in tracer.spans:
        if not s[OP]:
            continue
        n, t = out.get(s[NAME], (0, 0.0))
        out[s[NAME]] = (n + 1, t + self_ms(s, kids))
    return out
