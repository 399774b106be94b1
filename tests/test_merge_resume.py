"""Merge, checkpoint/resume, CheckIndex, deterministic doc_ids
(SURVEY.md §5.2.4-5.2.5, BASELINE.json north_rule)."""

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.operators.build import build_index, read_manifest
from lucene_solr_spark.operators.merge import (
    force_merge,
    merge_segments,
    plan_merges,
    vacuum,
)
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.operators.verify import verify_index
from lucene_solr_spark.sources import assign_doc_ids, load_source_table, synth_repo_files
from tests.oracle import OracleIndex

MERGE_QUERIES = ["spark", "the OR spark OR vector", "join AND window",
                 '"merge line"', "batch OR stream NOT join"]


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return load_source_table(spark, sf_dir).cache()


def _mtimes(index_dir, segs):
    out = {}
    for seg in segs:
        d = f"{index_dir}/postings/seg={seg}"
        out[seg] = max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))
    return out


def test_resume_skips_completed_segments(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    # simulate a failed run: only the first half of the doc space done
    half = corpus.filter(F.col("doc_id") < 256)
    m1 = build_index(spark, half, d, docs_per_seg=128)
    assert m1.seg_ids == [0, 1]
    before = _mtimes(d, m1.seg_ids)
    time.sleep(1.1)

    m2 = build_index(spark, corpus, d, docs_per_seg=128, resume=True)
    assert set(m2.seg_ids) > set(m1.seg_ids)
    assert m2.gen == m1.gen + 1
    # completed segments were NOT recomputed (files untouched)
    after = _mtimes(d, m1.seg_ids)
    assert after == before

    # resumed index == fresh build, query-for-query
    d2 = str(tmp_path / "fresh")
    build_index(spark, corpus, d2, docs_per_seg=128)
    r1, r2 = IndexReader(spark, d), IndexReader(spark, d2)
    assert r1.doc_count == r2.doc_count and r1.sum_dl == r2.sum_dl
    for q in MERGE_QUERIES:
        assert r1.search_with_total(q, k=20) == r2.search_with_total(q, k=20)


def test_noop_resume(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    m1 = build_index(spark, corpus, d, docs_per_seg=256)
    m2 = build_index(spark, corpus, d, docs_per_seg=256, resume=True)
    assert m2.gen == m1.gen + 1
    assert m2.seg_ids == m1.seg_ids
    assert [s["input_fingerprint"] for s in m2.segments] == \
           [s["input_fingerprint"] for s in m1.segments]


def test_merge_preserves_results(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)  # 8 segments
    r_before = IndexReader(spark, d)
    expected = {q: r_before.search_with_total(q, k=30) for q in MERGE_QUERIES}
    m0 = read_manifest(d)

    m1 = merge_segments(spark, d, m0.seg_ids[:4])
    assert len(m1.segments) == len(m0.segments) - 3
    merged = next(s for s in m1.segments if s["source"].startswith("merge("))
    assert merged["n_docs"] == sum(
        s["n_docs"] for s in m0.segments if s["seg"] in m0.seg_ids[:4]
    )

    r_after = IndexReader(spark, d)
    assert r_after.doc_count == r_before.doc_count
    for q in MERGE_QUERIES:
        got = r_after.search_with_total(q, k=30)
        assert got == expected[q], f"post-merge mismatch for {q!r}"

    rep = verify_index(spark, d, corpus)
    assert rep["ok"], rep["problems"]


def _posting_rows_by_term(index_dir):
    """{term: [posting row without seg/shard, in shard order]} of the
    one committed segment."""
    import pyarrow.parquet as pq

    (seg,) = read_manifest(index_dir).seg_ids
    rows = pq.read_table(f"{index_dir}/postings/seg={seg}").to_pylist()
    out = {}
    for r in sorted(rows, key=lambda r: (r["term"], r["shard"])):
        out.setdefault(r["term"], []).append(
            {c: v for c, v in r.items() if c not in ("seg", "shard")})
    return out


def test_merged_segment_equals_fresh_build(spark, corpus, tmp_path):
    """Build and merge encode posting rows through the same writer: 8
    build segments merged into one equal a one-segment build of the
    same docs in every posting column."""
    merged, fresh = str(tmp_path / "merged"), str(tmp_path / "fresh")
    m0 = build_index(spark, corpus, merged, docs_per_seg=64)
    assert len(m0.seg_ids) == 8
    merge_segments(spark, merged, m0.seg_ids)
    build_index(spark, corpus, fresh, docs_per_seg=512)
    got, want = _posting_rows_by_term(merged), _posting_rows_by_term(fresh)
    assert got.keys() == want.keys()
    for term in want:
        assert got[term] == want[term], term


def test_force_merge_and_vacuum(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=32)  # 16 segments
    m = read_manifest(d)
    assert len(m.segments) == 16
    plans = plan_merges(m, segs_per_tier=4, max_merge_at_once=4)
    assert plans and all(2 <= len(g) <= 4 for g in plans)

    oracle = OracleIndex(sorted(
        (r["doc_id"], r["content"]) for r in corpus.select("doc_id", "content").collect()
    ))
    m2 = force_merge(spark, d, segs_per_tier=4, max_merge_at_once=4)
    assert len(m2.segments) <= 4
    removed = vacuum(d)
    assert removed  # old segment dirs actually deleted
    r = IndexReader(spark, d)
    for q in MERGE_QUERIES:
        got, total = r.search_with_total(q, k=25)
        exp = oracle.search(q, k=25)
        assert [(dd, np.float32(s)) for dd, s in got] == \
               [(dd, np.float32(s)) for dd, s in exp.score_docs]
        assert total == exp.total_hits
    rep = verify_index(spark, d, corpus)
    assert rep["ok"], rep["problems"]


def test_verify_catches_corruption(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=256)
    # corrupt: source row content differs from what was indexed
    bad_src = corpus.withColumn(
        "content",
        F.when(F.col("doc_id") == 3, F.lit("tampered")).otherwise(F.col("content")),
    )
    rep = verify_index(spark, d, bad_src)
    assert not rep["ok"]
    assert any("sha256" in p for p in rep["problems"])


def test_assign_doc_ids_deterministic(spark):
    src = synth_repo_files(spark, 400, seed=7, num_partitions=5)
    a = assign_doc_ids(src, num_partitions=3)
    b = assign_doc_ids(src, num_partitions=6)
    rows_a = {(r["repo"], r["path"], r["commit"]): r["doc_id"]
              for r in a.select("repo", "path", "commit", "doc_id").collect()}
    rows_b = {(r["repo"], r["path"], r["commit"]): r["doc_id"]
              for r in b.select("repo", "path", "commit", "doc_id").collect()}
    assert rows_a == rows_b
    # equals the pure-Python rank over the sort key
    expected = {k: i for i, k in enumerate(sorted(rows_a))}
    assert rows_a == expected


def test_hot_term_sharded_merge(spark, corpus, tmp_path):
    """Force the hot-term shard path: merge with a tiny shard_postings
    so frequent terms split into multiple doc-ordered rows; searches
    must stay rank-identical to the unsharded index and CheckIndex
    must pass."""
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)  # 8 segments
    baseline = IndexReader(spark, d)
    expected = {q: baseline.search_with_total(q, k=30) for q in MERGE_QUERIES}

    m0 = read_manifest(d)
    # 128 == one block per shard (the minimum after block-alignment
    # rounding); the tiny-vocab corpus has df ~500 per term -> 4 shards
    m1 = merge_segments(spark, d, m0.seg_ids, shard_postings=128)
    assert len(m1.seg_ids) == 1

    merged = IndexReader(spark, d)
    shards = (
        merged.postings.groupBy("term")
        .count().filter(F.col("count") > 1).count()
    )
    assert shards > 0, "expected at least one multi-shard term"
    for q in MERGE_QUERIES:
        assert merged.search_with_total(q, k=30) == expected[q], q
    report = verify_index(spark, d, source=corpus)
    assert report["ok"], report["problems"]


def test_second_level_sharded_merge(spark, corpus, tmp_path):
    """ADVICE r1 (medium): re-merging ALREADY-SHARDED segments must not
    interleave doc ranges across a term's output rows. Two first-level
    merges each produce sharded hot terms (tiny shard_postings), then
    the second-level merge combines them; searches must stay
    rank-identical to the pre-merge index and CheckIndex must pass."""
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)  # 8 segments
    baseline = IndexReader(spark, d)
    expected = {q: baseline.search_with_total(q, k=30) for q in MERGE_QUERIES}

    m0 = read_manifest(d)
    merge_segments(spark, d, m0.seg_ids[:4], shard_postings=128)
    latest = merge_segments(spark, d, m0.seg_ids[4:], shard_postings=128)
    # verify hot (multi-shard) terms exist in the inputs to the final merge
    rdr_mid = IndexReader(spark, d)
    n_sharded = (
        rdr_mid.postings.filter(F.col("shard") > 0)
        .select("term").distinct().count()
    )
    assert n_sharded > 0, "expected sharded terms before the second-level merge"

    m_final = merge_segments(spark, d, latest.seg_ids, shard_postings=128)
    assert len(m_final.seg_ids) == 1

    merged = IndexReader(spark, d)
    for q in MERGE_QUERIES:
        assert merged.search_with_total(q, k=30) == expected[q], q
    report = verify_index(spark, d, source=corpus)
    assert report["ok"], report["problems"]


def test_resume_with_sparse_doc_ids(spark, corpus, tmp_path):
    """ADVICE r1 (low): a committed segment covers its CONSTRUCTION
    range [seg*dps, (seg+1)*dps), not [doc_base, doc_base+n_docs); with
    sparse caller-assigned doc_ids the old interval re-processed a
    committed segment's leftover ids under the same seg id, and the
    atomic rename replaced that segment's parquet with only the
    leftovers — silent data loss on resume."""
    d = str(tmp_path / "idx")
    sparse = corpus.withColumn("doc_id", F.col("doc_id") * 3)
    # segs 0..2 (ranges [0,64) [64,128) [128,192)) are COMPLETE for the
    # full source too: every source id < 192 lands there
    first = sparse.filter(F.col("doc_id") < 192)
    build_index(spark, first, d, docs_per_seg=64)
    m1 = read_manifest(d)
    assert all(s["doc_hi"] == (s["seg"] + 1) * 64 for s in m1.segments)
    committed = set(m1.seg_ids)

    mtimes_before = _mtimes(d, sorted(committed))
    build_index(spark, sparse, d, docs_per_seg=64)
    assert _mtimes(d, sorted(committed)) == mtimes_before, \
        "resume must not rewrite completed sparse segments"

    rdr = IndexReader(spark, d)
    ids = [r["doc_id"] for r in rdr.docmeta.select("doc_id").collect()]
    n_src = sparse.count()
    assert len(ids) == n_src, "docs lost or duplicated on sparse resume"
    assert len(set(ids)) == n_src


def _posting_rows(index_dir, seg):
    """Every posting row of one segment dir (all part files) except its
    ``seg`` column, in (term, shard) order."""
    import pyarrow.parquet as pq

    rows = pq.read_table(f"{index_dir}/postings/seg={seg}").to_pylist()
    return sorted(({c: v for c, v in r.items() if c != "seg"} for r in rows),
                  key=lambda r: (r["term"], r["shard"]))


def test_remerge_equals_direct_merge_for_sharded_terms(spark, corpus, tmp_path):
    """Merging two merged segments re-blocks their sharded (hot) terms
    like any other term, so 4+4 then 2 -> 1 equals one 8 -> 1 merge in
    every posting column, shard layout included."""
    two, one = str(tmp_path / "two"), str(tmp_path / "one")
    m0 = build_index(spark, corpus, two, docs_per_seg=64)
    build_index(spark, corpus, one, docs_per_seg=64)
    merge_segments(spark, two, m0.seg_ids[:4], shard_postings=128)
    mid = merge_segments(spark, two, m0.seg_ids[4:], shard_postings=128)
    final = merge_segments(spark, two, mid.seg_ids, shard_postings=128)
    direct = merge_segments(spark, one, m0.seg_ids, shard_postings=128)
    got = _posting_rows(two, final.seg_ids[0])
    want = _posting_rows(one, direct.seg_ids[0])
    assert any(r["shard"] > 0 for r in want), "expected sharded terms"
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w, (w["term"], w["shard"])


def test_merge_clears_files_left_by_an_interrupted_wave(spark, corpus, tmp_path):
    """An earlier merge attempt that died before its manifest commit
    left parquet files under the next target id. Readers never list
    that dir; the next merge wave clears it before writing, so only its
    own files remain and results are unchanged."""
    import shutil

    from lucene_solr_spark.operators.merge import MERGE_SEG_BASE

    d = str(tmp_path / "idx")
    m0 = build_index(spark, corpus, d, docs_per_seg=64)
    oracle = OracleIndex(sorted(
        (r["doc_id"], r["content"]) for r in corpus.select("doc_id", "content").collect()))
    expected = {q: oracle.search(q, k=30) for q in MERGE_QUERIES}

    def check(reader):
        for q in MERGE_QUERIES:
            got, total = reader.search_with_total(q, k=30)
            assert [(dd, np.float32(s)) for dd, s in got] == \
                   [(dd, np.float32(s)) for dd, s in expected[q].score_docs], q
            assert total == expected[q].total_hits, q

    target = MERGE_SEG_BASE  # the id the next merge wave writes
    src = m0.seg_ids[0]
    for sub in ("postings", "docmeta"):
        os.makedirs(f"{d}/{sub}/seg={target}")
        shutil.copy(f"{d}/{sub}/seg={src}/part-00000.parquet",
                    f"{d}/{sub}/seg={target}/part-00003.parquet")
    before = IndexReader(spark, d)
    check(before)

    m1 = merge_segments(spark, d, m0.seg_ids[:4])
    assert target in m1.seg_ids
    check(before)
    check(IndexReader(spark, d))
    rep = verify_index(spark, d, corpus)
    assert rep["ok"], rep["problems"]
    for sub in ("postings", "docmeta"):
        assert os.listdir(f"{d}/{sub}/seg={target}") == ["part-00000.parquet"], sub


def test_merge_salted_over_parts(spark, corpus, tmp_path, monkeypatch):
    """A target whose source postings exceed MERGE_PART_BYTES is salted
    over ceil(bytes / MERGE_PART_BYTES) term_bucket parts: one file per
    part, every term in exactly one file, and the union equals a
    one-part merge."""
    import pyarrow.parquet as pq

    from lucene_solr_spark.operators import merge

    salted, plain = str(tmp_path / "salted"), str(tmp_path / "plain")
    m0 = build_index(spark, corpus, salted, docs_per_seg=64)
    build_index(spark, corpus, plain, docs_per_seg=64)
    baseline = IndexReader(spark, salted)
    expected = {q: baseline.search_with_total(q, k=30) for q in MERGE_QUERIES}
    total = sum(s["postings_bytes"] for s in m0.segments)
    monkeypatch.setattr(merge, "MERGE_PART_BYTES", total // 4 + 1)
    (seg,) = merge_segments(spark, salted, m0.seg_ids).seg_ids
    monkeypatch.undo()
    (seg_plain,) = merge_segments(spark, plain, m0.seg_ids).seg_ids

    pdir = f"{salted}/postings/seg={seg}"
    files = sorted(os.listdir(pdir))
    assert files == [f"part-{p:05d}.parquet" for p in range(4)]
    owner = {}
    for f in files:
        for term in set(pq.read_table(f"{pdir}/{f}", columns=["term"])["term"].to_pylist()):
            assert term not in owner, (term, owner.get(term), f)
            owner[term] = f
    assert _posting_rows(salted, seg) == _posting_rows(plain, seg_plain)

    merged = IndexReader(spark, salted)
    for q in MERGE_QUERIES:
        assert merged.search_with_total(q, k=30) == expected[q], q
    rep = verify_index(spark, salted, corpus)
    assert rep["ok"], rep["problems"]


def test_interrupted_write_leaves_nothing_a_reader_scans(spark, corpus, tmp_path,
                                                         monkeypatch):
    """A writer killed between ``write_table`` and the rename leaves
    its temp file in the segment dir; readers must not scan it."""
    import pyarrow.parquet as pq

    from lucene_solr_spark.operators import build as B

    d = str(tmp_path / "idx")
    m = build_index(spark, corpus, d, docs_per_seg=256)
    before = IndexReader(spark, d)
    dfs = before.global_dfs(["spark", "merge"])
    expected = {q: before.search_with_total(q, k=20) for q in MERGE_QUERIES}

    class Killed(Exception):
        pass

    def killed(*a, **k):
        raise Killed

    seg_dir = f"{d}/postings/seg={m.seg_ids[0]}"
    table = pq.read_table(f"{seg_dir}/part-00000.parquet")
    with monkeypatch.context() as mp:
        mp.setattr(B.os, "replace", killed)
        mp.setattr(B.os, "unlink", lambda path: None)
        with pytest.raises(Killed):
            B._atomic_parquet_write(table, seg_dir, row_group_size=2048)
    assert len(os.listdir(seg_dir)) == 2, "the temp file should be left behind"

    after = IndexReader(spark, d)
    assert after.global_dfs(["spark", "merge"]) == dfs
    for q in MERGE_QUERIES:
        assert after.search_with_total(q, k=20) == expected[q], q
