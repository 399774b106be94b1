"""The two workloads: query_zipf and nrt_churn.

Each is a closed loop with one client: every call blocks on
``.collect()`` or a commit before the next is sent. A workload has a
set-up (``serving_setup``), one timed loop, and checks that run after
timing. Engine functions are always called
through their module (``B.build_index``, not a from-import), so the
tracer's rebinding sees them.

Traced runs set up once, then alternate blocks of untraced and traced
ops in the same loop; per-layer numbers come from the traced ops and
the tracing overhead is the difference of the two medians.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from lucene_solr_spark.operators import build as B
from lucene_solr_spark.operators import delete as D
from lucene_solr_spark.operators import merge as M
from lucene_solr_spark.operators import search as S

from . import checks, corpus
from .replay import PostingsTable, replay_build, replay_query
from .trace import NullTracer

K = 10
# Index sizes in build segments of ``docs_per_seg`` docs (512 by
# default; ``--docs-per-seg`` scales them). The tiered policy (10
# segments per tier, at most 10 merged at once) merges ten of
# query_zipf's 19 into one in a single wave, so its queries read one
# Spark-merged, multi-file segment (the ``repartition(seg)`` path)
# beside nine build segments. nrt_churn's base sits at the fixpoint, so
# its set-up merges nothing and its runs stay short.
SEGMENTS = {"query_zipf": 19, "nrt_churn": 10}
# builds per set-up; setup_s takes their median. Only the last build is
# merged: a wave costs 8-17 s, more than a run can pay twice.
SETUP_BUILDS = 2
NRT_UPDATE, NRT_DELETE = 50, 10
# fixed, so every run's reader starts the timed stream equally warm
WARMUP = ("spark OR index",)
# a traced run keeps going until it has this many ops, so both the
# untraced and the traced side of the overhead figure have samples
MIN_TRACED_RUN_OPS = 4

# units of the workload-specific figures printed in the report
UNITS = {
    "query_p50_ms": "ms", "query_p75_ms": "ms", "query_p90_ms": "ms", "query_p99_ms": "ms",
    "queries_per_s": "1/s", "term_p50_ms": "ms", "or_p50_ms": "ms", "and_p50_ms": "ms",
    "phrase_p50_ms": "ms", "build_docs_per_s": "docs/s", "merge_s": "s", "closing_merge_s": "s",
    "update_visible_p50_ms": "ms", "nrt_query_p50_ms": "ms",
}


def now() -> float:
    return time.perf_counter()


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: List[float]) -> Tuple[Optional[str], Optional[float]]:
    """Highest of p99/p90/p75 with at least ten samples beyond it."""
    n = len(xs)
    for p in (99, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}", statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return None, None


def _fail(what: str) -> None:
    print(f"perfbench: {what} failed:", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    docs_per_seg: int = 512
    gauges: Dict[str, float] = field(default_factory=dict)
    report: Dict[str, object] = field(default_factory=dict)
    phases: Dict[str, float] = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def phase(self, name: str, t0: float) -> float:
        """Record wall seconds since ``t0`` under ``name``; -> now."""
        t = now()
        self.phases[name] = self.phases.get(name, 0.0) + t - t0
        return t


class Blocks:
    """Alternates untraced and traced blocks of ``size`` ops (untraced
    first). Untraced, every op gets the null tracer."""

    def __init__(self, tracer, size: int):
        self.tracer, self.size = tracer, size
        self.null = NullTracer()

    def tracer_for(self, i: int):
        if not self.tracer.enabled:
            return self.null
        if (i // self.size) % 2:
            self.tracer.install()
            return self.tracer
        self.tracer.uninstall()
        return self.null

    def done(self, i: int, end: float) -> bool:
        return now() >= end and (not self.tracer.enabled or i >= MIN_TRACED_RUN_OPS)


def overhead_pct(untraced: List[float], traced: List[float]) -> float:
    if not untraced or not traced:
        return 0.0
    return 100 * (_median(traced) / _median(untraced) - 1)


@dataclass
class IndexSetup:
    src: str
    idx: str
    reader: object
    build_s: float          # median of the set-up builds
    merge_s: float          # force_merge + vacuum of the last build
    open_s: float
    index_bytes: int        # postings + docmeta on disk, after vacuum
    manifest: object

    @property
    def setup_s(self) -> float:
        return self.build_s + self.merge_s + self.open_s


def write_source(ctx: Ctx, n_docs: int, tracer) -> str:
    """Generate the corpus once; set-ups build from it."""
    src = ctx.path("src")
    with tracer.op("generate", "generate"), tracer.span("sources.generate"):
        corpus.write_corpus(ctx.spark, n_docs, ctx.seed, src)
    return src


def serving_setup(ctx: Ctx, segments: int, tracer) -> IndexSetup:
    """Generate a corpus of ``segments`` build segments and build it
    SETUP_BUILDS times (once when traced), each build replacing the last.
    Then merge the last build to the fixpoint, vacuum, open a reader and
    measure the index on disk."""
    t = now()
    src = write_source(ctx, segments * ctx.docs_per_seg, tracer)
    t = ctx.phase("generate", t)
    n = 1 if tracer.enabled else SETUP_BUILDS
    build_s: List[float] = []
    for i in range(n):
        idx = ctx.path(f"idx-{i}")
        with tracer.op(f"setup-{i}", "setup"):
            t0 = now()
            mb = B.build_index(ctx.spark, ctx.spark.read.parquet(src), idx,
                               docs_per_seg=ctx.docs_per_seg)
            t1 = now()
            build_s.append(t1 - t0)
            if i == n - 1:
                mm = M.force_merge(ctx.spark, idx)
                M.vacuum(idx)
                t2 = now()
                rdr = S.IndexReader(ctx.spark, idx)
                t3 = now()
            else:
                shutil.rmtree(idx, ignore_errors=True)
    st = IndexSetup(src, idx, rdr, _median(build_s), t2 - t1, t3 - t2,
                    checks.index_bytes(idx), mm)
    build_gauges(ctx, mb)
    merge_gauges(ctx, mb, mm)
    ctx.phases.update({"builds": sum(build_s), "merge": t2 - t1, "open": t3 - t2})
    return st


def build_gauges(ctx: Ctx, built) -> None:
    ctx.gauges["build.segments"] = len(built.segments)
    ctx.gauges["build.postings_bytes"] = sum(s.get("postings_bytes", 0) for s in built.segments)


def merge_gauges(ctx: Ctx, before, after) -> None:
    """What a merge rewrote per byte of the index it left, and how many
    segments it left."""
    kept = {s["seg"] for s in after.segments}
    rewritten = sum(s.get("postings_bytes", 0) for s in before.segments
                    if s["seg"] not in kept)
    final = sum(s.get("postings_bytes", 0) for s in after.segments)
    ctx.gauges["merge.bytes_rewritten_per_index_byte"] = rewritten / final if final else 0.0
    ctx.gauges["merge.segments_after"] = len(after.segments)


def setup_metrics(ctx: Ctx, st: IndexSetup, n_docs: int, contents: List[str]) -> Dict[str, float]:
    """End-to-end set-up metrics, and set-up figures for the report."""
    ctx.report.update({"build_docs_per_s": n_docs / st.build_s, "merge_s": st.merge_s})
    return {"setup_s": st.setup_s,
            "index_bytes_per_input_byte": st.index_bytes / corpus.text_bytes(contents)}


def replay_build_trace(ctx: Ctx, table, tracer) -> None:
    """Traced in-process replay of the build kernel over ``table``."""
    out = ctx.path("replay-build")
    tracer.install()
    with tracer.op("replay-build", "replay_build"):
        replay_build(table, ctx.docs_per_seg, out, tracer)
    tracer.uninstall()
    shutil.rmtree(out, ignore_errors=True)


# ------------------------------------------------------------- query_zipf


@dataclass
class QueryRec:
    op_id: str
    cls: str
    text: str
    ms: float
    hits: Optional[List[Tuple[int, float]]]
    traced: bool = False
    replayed: Optional[List[Tuple[int, float]]] = None


def run_query(reader, cls: str, text: str, op_id: str, tracer) -> QueryRec:
    with tracer.op(op_id, "query"):
        t0 = now()
        try:
            df = reader.search(text, k=K)
            with tracer.span("search.collect"):
                rows = df.collect()
            hits = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        except Exception:  # a failed op is counted, the loop goes on
            _fail(f"query {text!r}")
            hits = None
        ms = (now() - t0) * 1e3
    return QueryRec(op_id, cls, text, ms, hits, tracer.enabled)


class QueryZipf:
    name = "query_zipf"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n = SEGMENTS[self.name] * ctx.docs_per_seg

    def execute(self, seconds: float, tracer) -> Tuple[Dict, checks.Tally]:
        ctx = self.ctx
        st = serving_setup(ctx, SEGMENTS[self.name], tracer)
        t = now()
        table = corpus.read_corpus(st.src)
        self.contents = table.column("content").to_pylist()
        with tracer.op("warmup", "warmup"):
            for q in WARMUP:
                df = st.reader.search(q, k=K)
                with tracer.span("search.collect"):
                    df.collect()
        t = ctx.phase("warmup", t)

        # blocks of one query per class, so both sides see the same mix
        blocks = Blocks(tracer, len(corpus.QUERY_CLASSES))
        stream = corpus.QueryStream(self.contents, ctx.seed)
        recs: List[QueryRec] = []
        end = now() + seconds
        t = ctx.phase("prepare", t)
        while not blocks.done(len(recs), end):
            cls, text = stream.next()
            recs.append(run_query(st.reader, cls, text, f"q{len(recs)}",
                                  blocks.tracer_for(len(recs))))
        t = ctx.phase("timed", t)
        if tracer.enabled:
            replay_build_trace(ctx, table, tracer)
            ctx.gauges["trace.overhead_pct"] = overhead_pct(
                [r.ms for r in recs if not r.traced], [r.ms for r in recs if r.traced])
            new, total = corpus.first_seen_ratio([r.text for r in recs], WARMUP)
            ctx.gauges["search.df_first_seen_ratio"] = new / total if total else 0.0
        tally = self.check(st, recs, tracer)
        ctx.phase("checks", t)

        ok = [r for r in recs if r.hits is not None]
        ms = [r.ms for r in ok]
        metrics = setup_metrics(ctx, st, self.n, self.contents)
        metrics["op_p50_ms"] = _median(ms)
        metrics["ops_per_s"] = len(ms) / (sum(ms) / 1e3) if ms else 0.0
        rep = {"query_p50_ms": (metrics["op_p50_ms"], len(ms)),
               "queries_per_s": metrics["ops_per_s"]}
        name, value = tail(ms)
        if name:
            rep[f"query_{name}_ms"] = (value, len(ms))
        for cls in corpus.QUERY_CLASSES:
            xs = [r.ms for r in ok if r.cls == cls]
            rep[f"{cls}_p50_ms"] = (_median(xs), len(xs))
        ctx.report.update(rep)
        return metrics, tally

    def check(self, st: IndexSetup, recs: List[QueryRec], tracer) -> checks.Tally:
        """MaxScore (what Spark ran) must equal its in-process replay and
        the exhaustive replay; the first query also re-runs exhaustive on
        Spark; every queried term's docFreq must match the corpus."""
        reader = st.reader
        postings = PostingsTable(st.idx, st.manifest.seg_ids)
        rows_fed = []
        tracer.install()
        for r in recs:
            if r.hits is not None:
                with tracer.op("r" + r.op_id, "replay"):
                    r.replayed, n_rows = replay_query(reader, postings, r.text, K,
                                                      "maxscore", tracer)
                rows_fed.append(n_rows)
        tracer.uninstall()
        self.ctx.gauges["search.posting_rows_per_query"] = (
            sum(rows_fed) / len(rows_fed) if rows_fed else 0.0)

        oracle = corpus.doc_freqs(self.contents)
        terms = sorted({t for r in recs for t in corpus.query_terms_of(r.text)})
        bad_terms = set(checks.docfreq_mismatches(reader.global_dfs(terms), oracle, terms))
        tally = checks.Tally()
        spark_checked = False
        for r in recs:
            if r.hits is None:
                tally.record(False, f"{r.op_id}: raised")
                continue
            ex, _ = replay_query(reader, postings, r.text, K, "exhaustive")
            ok = checks.same_hits(r.hits, r.replayed) and checks.same_hits(r.hits, ex)
            if not spark_checked:
                spark_checked = True
                got = reader.search(r.text, k=K, prune="exhaustive").collect()
                ok = ok and checks.same_hits(
                    r.hits, [(int(x["doc_id"]), float(x["score"])) for x in got])
            bad = bad_terms.intersection(corpus.query_terms_of(r.text))
            tally.record(ok and not bad, f"{r.op_id} {r.text!r}: "
                         + ("docFreq " + ",".join(sorted(bad)) if bad else "top-k"))
        return tally


# -------------------------------------------------------------- nrt_churn


class NrtChurn:
    name = "nrt_churn"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n = SEGMENTS[self.name] * ctx.docs_per_seg

    def execute(self, seconds: float, tracer) -> Tuple[Dict, checks.Tally]:
        ctx, spark = self.ctx, self.ctx.spark
        st = serving_setup(ctx, SEGMENTS[self.name], tracer)
        t = now()
        table = corpus.read_corpus(st.src)
        self.contents = table.column("content").to_pylist()
        base_keys = list(zip(table.column("repo").to_pylist(), table.column("path").to_pylist()))

        live = st.idx
        churn = corpus.ChurnStream(base_keys, ctx.seed, NRT_UPDATE, NRT_DELETE)
        stream = corpus.QueryStream(self.contents, ctx.seed + 1)
        # an untimed first iteration warms the JVM's update and query
        # paths; its deletes still count in the checks
        tracer.uninstall()
        its = [self.iteration(live, churn, stream, NullTracer(), "warmup")]
        t = ctx.phase("warm_iteration", t)
        blocks = Blocks(tracer, 1)
        timed: List[dict] = []
        end = now() + seconds
        while not blocks.done(len(timed), end):
            timed.append(self.iteration(live, churn, stream,
                                        blocks.tracer_for(len(timed)), f"nrt{len(timed)}"))
        its += timed
        t = ctx.phase("timed", t)
        merged = True
        if tracer.enabled:
            # traced runs end with a tiered force_merge of the small update
            # segments (11-17 s of fixed Spark work, more than untraced runs
            # can afford). expunge_deletes is left out: it crashes on
            # these inputs (README.md, "Engine defect found").
            op_tracer = blocks.tracer_for(blocks.size)
            before = B.read_manifest(live)
            t0 = now()
            with op_tracer.op("merge", "merge"):
                try:
                    after = M.force_merge(spark, live)
                    M.vacuum(live)
                    merge_gauges(ctx, before, after)
                except Exception:
                    _fail("force_merge")
                    merged = False
            ctx.report["closing_merge_s"] = now() - t0
            t = ctx.phase("closing_merge", t)
        ok = [it for it in timed if it["visible_ms"] is not None]
        if tracer.enabled:
            replay_build_trace(ctx, table, tracer)
            ctx.gauges["trace.overhead_pct"] = overhead_pct(
                [it["visible_ms"] for it in ok if not it["traced"]],
                [it["visible_ms"] for it in ok if it["traced"]])
        tally = self.check(live, its, merged)
        ctx.phase("checks", t)

        metrics = setup_metrics(ctx, st, self.n, self.contents)
        visible = [it["visible_ms"] for it in ok]
        metrics["op_p50_ms"] = _median(visible)
        metrics["ops_per_s"] = len(ok) / (sum(visible) / 1e3) if ok else 0.0
        qms = [it["query"][1] for it in ok]
        ctx.report.update({
            "update_visible_p50_ms": (metrics["op_p50_ms"], len(ok)),
            "nrt_query_p50_ms": (_median(qms), len(qms)),
        })
        return metrics, tally

    def iteration(self, live: str, churn, stream, tracer, op_id: str) -> dict:
        """update -> delete -> reopen -> one query, as one op."""
        spark = self.ctx.spark
        rows, commits, rep_ids, del_ids = churn.next()
        new_df = spark.createDataFrame(rows)
        text = stream.next()[1]
        it = {"commits": commits, "gone": set(rep_ids) | set(del_ids),
              "query": None, "visible_ms": None, "traced": tracer.enabled}
        with tracer.op(op_id, "nrt"):
            t0 = now()
            try:
                D.update_documents(spark, live, new_df)
                D.delete_documents(spark, live, del_ids)
                reader = S.IndexReader(spark, live)
                tq = now()
                df = reader.search(text, k=K)
                with tracer.span("search.collect"):
                    got = df.collect()
                t1 = now()
                it["query"] = (text, (t1 - tq) * 1e3, [int(r["doc_id"]) for r in got])
                it["visible_ms"] = (t1 - t0) * 1e3
                self.ctx.gauges["nrt.segments"] = len(reader.manifest.segments)
                self.ctx.gauges["nrt.tombstones"] = int(reader.deleted.size)
            except Exception:  # a failed op is counted, the loop goes on
                _fail("nrt iteration")
                it["visible_ms"] = None
        return it

    def check(self, live: str, its: List[dict], merged: bool) -> checks.Tally:
        """Deleted or superseded ids never appear in results; at the end
        (after the merge, in traced runs) every updated key resolves to
        exactly one live doc carrying its new commit."""
        tally = checks.Tally()
        gone: set = set()
        want: Dict[Tuple[str, str], str] = {}
        for i, it in enumerate(its):
            gone |= it["gone"]
            want.update(it["commits"])
            if it["visible_ms"] is None:
                tally.record(False, f"iteration {i}: raised")
                continue
            text, _, ids = it["query"]
            leaked = gone.intersection(ids)
            tally.record(not leaked, f"iteration {i} {text!r}: deleted ids "
                         f"{sorted(leaked)[:5]} returned")
        if not merged:
            tally.record(False, "force_merge raised")
            return tally
        m = B.read_manifest(live)
        meta = checks.read_docmeta(live, m.seg_ids, ["doc_id", "repo", "path", "commit"])
        dead = set(D.load_deleted_ids(live, m).tolist())
        meta = meta[~meta["doc_id"].isin(dead)]
        by_key: Dict[Tuple[str, str], List[str]] = {}
        for r, p, c in zip(meta["repo"], meta["path"], meta["commit"]):
            by_key.setdefault((r, p), []).append(c)
        bad = [k for k, c in want.items() if by_key.get(k) != [c]]
        leaked = gone.intersection(meta["doc_id"].tolist())
        tally.record(not bad and not leaked,
                     f"final state: {len(bad)} keys wrong, {len(leaked)} deleted ids live")
        return tally


WORKLOADS = {w.name: w for w in (QueryZipf, NrtChurn)}
