"""Segment merging: tiered policy (driver) + salted sorted-merge (executor).

Mirrors (SURVEY.md §2.3):
- `[U] lucene/core/.../index/TieredMergePolicy.java` — pick merges of
  ~equal-size segments, ``segsPerTier=10``, ``maxMergeAtOnce=10``.
  Simplification (documented): candidates are doc_base-ADJACENT runs,
  so every segment keeps a contiguous (doc_base, n_docs) range and the
  MatchAll/doc-universe arithmetic stays O(1) per segment. Lucene's
  skew-scored candidate selection degenerates to smallest-adjacent-run
  selection here.
- `[U] lucene/core/.../index/SegmentMerger.java` — because global
  doc_ids are assigned before segmenting and never remapped
  (SURVEY.md §1.1), merging posting lists is a doc-ordered concat +
  re-block, not a docID remap: strictly cheaper than the reference's
  MappedMultiFields machinery.
- north_star "salted repartition + sorted-merge": source rows shuffle
  ONCE, by (target segment, part) with ``part = term_bucket % n_parts``
  — a salt in term space, so every group holds every row of its terms
  and a large merge spreads over ``n_parts`` tasks. Each group is merged
  and written the way a build task writes a segment: re-blocked by
  ``build.encode_posting_rows`` (hot terms included, so a merged segment
  equals a fresh build), written by ``build._atomic_parquet_write`` as
  ``postings/seg=<t>/part-<p>.parquet`` (part 0 also writes the docmeta),
  and reported back as one build stats row (``build._stats_pa_schema``).

The commit is again manifest-gated: the new segment's parquet is
invisible until gen-N+1 lists it, and source segments simply stop being
listed (files deleted lazily via vacuum()).
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from typing import List, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.postings import decode_docs_concat
from .build import (
    DEFAULT_SHARD_POSTINGS,
    Manifest,
    _DOCMETA_COLS,
    _atomic_parquet_write,
    _offsets,
    _postings_pa_schema,
    _stats_pa_schema,
    commit_manifest,
    encode_posting_rows,
    read_manifest,
    stats_schema,
)

# merged-segment id namespace, disjoint from build ids (doc//docs_per_seg)
MERGE_SEG_BASE = 1_000_000_000
# source postings bytes per merge task. The kernel's Python worker peaks
# near 25x its source bytes (decoded int64 doc/tf/norm/offset arrays plus
# the joined blobs): 684 MB for one 25 MB group, 434 MB at 12.7 MB, on a
# Zipf corpus at docs_per_seg=4096. 16 MB keeps a task near 0.5 GB.
MERGE_PART_BYTES = 16 << 20


# ----------------------------------------------------------------- policy


def plan_merges(manifest: Manifest, segs_per_tier: int = 10,
                max_merge_at_once: int = 10) -> List[List[int]]:
    """TieredMergePolicy-lite: while more segments than segs_per_tier,
    merge the adjacent run (by doc_base) with the smallest total size."""
    segs = sorted(manifest.segments, key=lambda s: s["doc_base"])
    merges: List[List[int]] = []
    while len(segs) > segs_per_tier:
        width = min(max_merge_at_once, len(segs) - segs_per_tier + 1, len(segs))
        if width < 2:
            break
        best_i, best_size = 0, None
        for i in range(len(segs) - width + 1):
            size = sum(s["n_docs"] for s in segs[i : i + width])
            if best_size is None or size < best_size:
                best_i, best_size = i, size
        run = segs[best_i : best_i + width]
        merges.append([s["seg"] for s in run])
        merged_stub = {
            "seg": -1,
            "doc_base": run[0]["doc_base"],
            "n_docs": sum(s["n_docs"] for s in run),
        }
        segs = segs[:best_i] + [merged_stub] + segs[best_i + width:]
    return merges


# --------------------------------------------------------------- executor


def _ragged_gather(buf: bytes, lo: np.ndarray, hi: np.ndarray) -> bytes:
    """Concatenate buf[lo[i]:hi[i]] slices, fully vectorized."""
    lens = (hi - lo).astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return b""
    arr = np.frombuffer(buf, dtype=np.uint8)
    base = np.repeat(lo, lens)
    local = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens)
    return arr[base + local].tobytes()


def _merge_postings(tbl, shard_postings: int, deleted: np.ndarray):
    """Posting rows holding EVERY row of their terms (one (target, part)
    group) -> merged v3 rows in term order: k-way doc-ordered merge of
    each term's rows across source segments, fully batched:

    - a term's rows hold disjoint doc ranges (source segments and their
      shards), so sorting them by first doc id is the doc-ordered merge;
    - tf / pos / norms blobs are BYTE-CONCATENATED, never re-encoded —
      a varint stream whose per-posting values reset at posting starts
      concatenates into another valid stream, and value-boundary byte
      offsets come from one flag scan (varint_value_offsets);
    - doc ids are decoded in ONE batched pass and the merged lists are
      re-blocked by ``build.encode_posting_rows``, the writer the build
      flush uses, so a merged segment equals a fresh build.

    ``deleted`` (sorted doc_ids): the expungeDeletes path (`[U]
    .../index/IndexWriter.java :: forceMergeDeletes`) — tombstoned
    postings are DROPPED before re-gridding. tf/pos streams are
    per-posting self-contained (values reset at posting starts), so the
    purge is a vectorized ragged byte-gather of the kept postings, not
    a re-encode; doc deltas are re-encoded anyway.
    """
    import pyarrow.compute as pc

    from ..functions.varint import decode_varint, varint_value_offsets

    if not tbl.num_rows:
        return _postings_pa_schema().empty_table()
    t_codes, t_uniq = pd.factorize(tbl["term"].to_numpy(), sort=True)
    first_doc = pc.list_element(tbl["blk_first"], 0).to_numpy()
    idx = np.lexsort((first_doc, t_codes))
    cols = {c: tbl[c].to_numpy()[idx]
            for c in ("df", "docs", "blk_n", "tfs", "pos", "norms")}
    c_sorted = t_codes[idx]
    row_t_starts = np.flatnonzero(np.r_[True, np.diff(c_sorted) != 0])
    # posting-space start of each term
    term_starts = _offsets(cols["df"].astype(np.int64))[row_t_starts]
    term_names = t_uniq[c_sorted[row_t_starts]]

    docs_all = decode_docs_concat(cols["docs"], cols["blk_n"])
    # tf values (needed for stats + position boundaries); blob bytes reused
    tfs_cat = b"".join(cols["tfs"])
    tf_all = decode_varint(tfs_cat)
    tf_boff = varint_value_offsets(tfs_cat)          # n_post+1
    pos_cat = b"".join(cols["pos"])
    # per-POSTING pos byte offsets (n_post+1)
    pos_poff = varint_value_offsets(pos_cat)[_offsets(tf_all)]
    norms_all = np.frombuffer(b"".join(cols["norms"]),
                              dtype=np.uint8).astype(np.int64)

    if deleted.size:
        di = np.searchsorted(deleted, docs_all)
        dic = np.minimum(di, len(deleted) - 1)
        keep = ~((di < len(deleted)) & (deleted[dic] == docs_all))
        if not keep.all():
            t_id = np.repeat(np.arange(len(term_starts)),
                             np.diff(np.append(term_starts, len(docs_all))))[keep]
            tfs_cat = _ragged_gather(tfs_cat, tf_boff[:-1][keep], tf_boff[1:][keep])
            pos_cat = _ragged_gather(pos_cat, pos_poff[:-1][keep], pos_poff[1:][keep])
            tf_boff = _offsets(np.diff(tf_boff)[keep])
            pos_poff = _offsets(np.diff(pos_poff)[keep])
            docs_all = docs_all[keep]
            tf_all = tf_all[keep]
            norms_all = norms_all[keep]
            counts = np.bincount(t_id, minlength=len(term_starts))
            nz = np.flatnonzero(counts)
            if nz.size == 0:
                return _postings_pa_schema().empty_table()
            term_names = term_names[nz]
            term_starts = _offsets(counts[nz])[:-1]

    return encode_posting_rows(
        tbl["field"][0].as_py(), term_names, term_starts, docs_all, tf_all,
        norms_all, tfs_cat, tf_boff, pos_cat, pos_poff, shard_postings)


def _merge_writer(index_dir: str, shard_postings: int, deleted: np.ndarray):
    """cogroup applyInArrow kernel: one (target, part) group of source
    posting rows (+ the target's docmeta rows at part 0) -> that part's
    parquet ON DISK + 1 stats row, as a build task does.
    ``n_docs`` / ``sum_dl`` count the live docmeta rows written;
    ``doc_base`` and ``fp_sum`` are left 0 (the driver derives them
    from the source entries)."""

    def kernel(key, postings, docmeta):
        import pyarrow as pa
        import pyarrow.compute as pc

        target, part = (k.as_py() for k in key)
        rows = _merge_postings(postings, shard_postings, deleted)
        postings_bytes = _atomic_parquet_write(
            rows, os.path.join(index_dir, "postings", f"seg={target}"),
            row_group_size=2048, name=f"part-{part:05d}.parquet")
        n_docs = sum_dl = 0
        if part == 0:
            meta = docmeta.select(_DOCMETA_COLS)
            if deleted.size:
                meta = meta.filter(pa.array(
                    ~np.isin(meta["doc_id"].to_numpy(), deleted)))
            meta = meta.sort_by("doc_id")
            _atomic_parquet_write(
                meta, os.path.join(index_dir, "docmeta", f"seg={target}"),
                row_group_size=65536)
            n_docs, sum_dl = meta.num_rows, pc.sum(meta["dl"]).as_py() or 0
        return pa.Table.from_pylist([{
            "seg": target, "n_docs": n_docs, "doc_base": 0, "sum_dl": sum_dl,
            "n_terms": len(pc.unique(rows["term"])),
            "n_postings": pc.sum(rows["df"]).as_py() or 0,
            "fp_sum": 0, "postings_bytes": postings_bytes,
        }], schema=_stats_pa_schema())

    return kernel


def merge_segments(spark: SparkSession, index_dir: str, seg_ids: Sequence[int],
                   shard_postings: int = DEFAULT_SHARD_POSTINGS,
                   purge_deleted: bool = False) -> Manifest:
    """Merge ``seg_ids`` (doc_base-adjacent) into one new segment and
    commit a new manifest generation (thin wrapper over merge_many)."""
    return merge_many(spark, index_dir, [list(seg_ids)], shard_postings,
                      purge_deleted)


def merge_many(spark: SparkSession, index_dir: str,
               groups: Sequence[Sequence[int]],
               shard_postings: int = DEFAULT_SHARD_POSTINGS,
               purge_deleted: bool = False) -> Manifest:
    """Execute a whole MERGE WAVE — several disjoint groups of
    doc_base-adjacent segments — in ONE cogrouped pass and ONE manifest
    commit. Every source row maps to its target segment id and a part
    ``term_bucket % n_parts(target)``, where ``n_parts`` is the
    target's source postings bytes over ``MERGE_PART_BYTES`` (rounded
    up; a per-task memory budget). Posting and
    docmeta rows cogroup by (target, part); each group writes its own
    part file (part 0 also the docmeta) and returns one stats row,
    which the driver sums per target into the manifest entry. At 1000
    executors a tier's worth of merges is one job instead of
    len(groups) sequential job chains.

    Target ids sit above every committed id, so no manifest lists their
    dirs; they are cleared before the job, which drops whatever an
    interrupted earlier attempt left there.

    ``shard_postings`` is rounded UP to a multiple of the 128-doc block
    size (shard boundaries must fall on block boundaries).

    ``purge_deleted``: physically drop tombstoned docs from postings +
    docmeta (expungeDeletes). Entries then record live counts
    (``n_live``/``sum_dl_live``) which collection statistics use, while
    ``n_docs``/``doc_base`` keep the ORIGINAL doc range — MatchAll
    enumeration still walks the range and masks with the retained
    tombstones, so queries need no special case.
    """
    m = read_manifest(index_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest under {index_dir}")
    deleted = np.empty(0, np.int64)
    if purge_deleted:
        from .delete import load_deleted_ids

        deleted = load_deleted_ids(index_dir, m)
        purge_deleted = bool(deleted.size)
    by_id = {s["seg"]: s for s in m.segments}
    groups = [list(g) for g in groups if g]
    flat = [s for g in groups for s in g]
    if len(set(flat)) != len(flat):
        raise ValueError("merge groups must be disjoint")
    missing = set(flat) - set(by_id)
    if missing:
        raise ValueError(f"segments not in manifest: {sorted(missing)}")

    # target ids: disjoint MERGE_SEG_BASE namespace, one per group
    base = max(MERGE_SEG_BASE - 1, max(by_id)) + 1
    targets = list(range(base, base + len(groups)))
    seg_to_target = {s: t for g, t in zip(groups, targets) for s in g}
    srcs_by_target = {
        t: sorted((by_id[s] for s in g), key=lambda s: s["doc_base"])
        for g, t in zip(groups, targets)
    }
    n_parts = {
        t: max(1, -(-sum(s.get("postings_bytes", 0) for s in srcs)
                    // MERGE_PART_BYTES))
        for t, srcs in srcs_by_target.items()
    }
    for t in targets:
        for sub in ("postings", "docmeta"):
            shutil.rmtree(os.path.join(index_dir, sub, f"seg={t}"),
                          ignore_errors=True)

    def lit_map(d):
        return F.create_map(*[F.lit(x) for pair in d.items() for x in pair])

    target = lit_map(seg_to_target)[F.col("seg")]
    postings = (
        spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("seg").isin(flat))
        .withColumn("__target", target)
        .withColumn("__part", F.col("term_bucket") % lit_map(n_parts)[target])
    )
    docmeta = (
        spark.read.parquet(f"{index_dir}/docmeta")
        .filter(F.col("seg").isin(flat))
        .withColumn("__target", target)
        .withColumn("__part", F.lit(0))
    )
    stats = {t: Counter() for t in targets}
    for r in (postings.groupBy("__target", "__part")
              .cogroup(docmeta.groupBy("__target", "__part"))
              .applyInArrow(_merge_writer(index_dir, shard_postings, deleted),
                            schema=stats_schema())
              .collect()):
        stats[r["seg"]].update(r.asDict())

    new_entries = []
    for t in targets:
        srcs, st = srcs_by_target[t], stats[t]
        fp = 0
        for s in srcs:
            fp ^= int(s["input_fingerprint"], 16)
        entry = {
            "seg": int(t),
            "n_docs": sum(s["n_docs"] for s in srcs),
            "doc_base": srcs[0]["doc_base"],
            "doc_lo": min(s.get("doc_lo", s["doc_base"]) for s in srcs),
            "doc_hi": max(s.get("doc_hi", s["doc_base"] + s["n_docs"])
                          for s in srcs),
            "sum_dl": sum(s["sum_dl"] for s in srcs),
            "n_terms": st["n_terms"],
            "n_postings": st["n_postings"],
            "input_fingerprint": f"{fp:016x}",
            "postings_bytes": st["postings_bytes"],
            "source": "merge(" + ",".join(str(s["seg"]) for s in srcs) + ")",
        }
        if purge_deleted:
            entry["purged"] = True
            entry["n_live"] = st["n_docs"]
            entry["sum_dl_live"] = st["sum_dl"]
        elif any("n_live" in s for s in srcs):
            # merging a purged segment with unpurged ones: unpurged
            # sides stay delete-blind, matching per-segment Lucene
            entry["n_live"] = sum(s.get("n_live", s["n_docs"]) for s in srcs)
            entry["sum_dl_live"] = sum(
                s.get("sum_dl_live", s["sum_dl"]) for s in srcs)
        new_entries.append(entry)

    keep = [s for s in m.segments if s["seg"] not in set(flat)]
    out = Manifest(
        gen=m.gen + 1, docs_per_seg=m.docs_per_seg, analyzer=m.analyzer,
        field=m.field,
        segments=sorted(keep + new_entries, key=lambda s: s["seg"]),
        delete_files=list(m.delete_files),
    )
    commit_manifest(index_dir, out)
    return out


def force_merge(spark: SparkSession, index_dir: str,
                segs_per_tier: int = 10, max_merge_at_once: int = 10) -> Manifest:
    """Run the tiered policy to fixpoint (like forceMerge towards a
    budgeted segment count)."""
    m = read_manifest(index_dir)
    while True:
        # groups containing the -1 stub depend on an earlier merge of
        # the same planning round; execute only the independent groups
        # as ONE wave (merge_many single pass), then re-plan
        merges = [g for g in plan_merges(m, segs_per_tier, max_merge_at_once)
                  if -1 not in g]
        if not merges:
            return m
        m = merge_many(spark, index_dir, merges)


def expunge_deletes(spark: SparkSession, index_dir: str) -> Manifest:
    """forceMergeDeletes (`[U] .../index/IndexWriter.java ::
    forceMergeDeletes`): rewrite every segment whose doc range contains
    tombstones, physically dropping the deleted postings + docmeta rows.
    Tombstone files stay listed in the manifest — they still drive the
    MatchAll range mask — but collection statistics switch to the live
    counts, matching Lucene's post-merge stats."""
    m = read_manifest(index_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest under {index_dir}")
    from .delete import load_deleted_ids

    dels = load_deleted_ids(index_dir, m)
    if dels.size == 0:
        return m
    groups = []
    for s in m.segments:
        lo = s.get("doc_lo", s["doc_base"])
        hi = s.get("doc_hi", s["doc_base"] + s["n_docs"])
        i0, i1 = np.searchsorted(dels, [lo, hi])
        if i1 > i0 and not s.get("purged"):
            groups.append([s["seg"]])
    if not groups:
        return m
    # every affected segment rewrites in ONE distributed pass
    return merge_many(spark, index_dir, groups, purge_deleted=True)


def vacuum(index_dir: str) -> List[int]:
    """Delete parquet partition dirs of segments no longer in the
    manifest (Lucene's deleter keeps files until no commit references
    them; here the latest manifest is the only live commit)."""
    m = read_manifest(index_dir)
    live = set(m.seg_ids) if m else set()
    removed = []
    for sub in ("postings", "docmeta"):
        base = os.path.join(index_dir, sub)
        if not os.path.isdir(base):
            continue
        for entry in os.listdir(base):
            if entry.startswith("seg="):
                seg = int(entry.split("=", 1)[1])
                if seg not in live:
                    shutil.rmtree(os.path.join(base, entry))
                    removed.append(seg)
    return sorted(set(removed))
