"""Distributed inverted-index construction (the IndexWriter path).

Spark-first reimplementation of the reference build pipeline
(SURVEY.md §2.3):

- `[U] .../index/DocumentsWriterPerThread.java` — one Spark task per
  segment (``groupBy("seg").applyInPandas``) builds an in-memory
  inverted index for a contiguous doc_id range, exactly the DWPT role.
- `[U] .../index/DefaultIndexingChain.java :: flush` — the task writes
  the segment as parquet rows (postings/docmeta), gated by a manifest.
- `[U] .../codecs/lucene84/Lucene84PostingsWriter.java` + ``ForUtil
  BLOCK_SIZE=128`` — 128-doc blocks, delta+varint (ours, per
  north_star), with per-block (max_tf, min_norm) impacts mirroring
  `[U] .../codecs/lucene84/Lucene84SkipWriter.java` / ``Impacts.java``.
- `[U] .../index/SegmentInfos.java :: commit`` — atomic manifest
  ``gen-N.json`` rename publishes segments; readers only see segments
  listed in the manifest, so partial writes from a failed run are
  invisible and a re-run is idempotent (each task's atomic rename
  rewrites only the segments it recomputes). This is the
  checkpoint/resume protocol required by BASELINE.json north_rule.

Scale notes (100 TB / 10^12 files):
- doc space, not term space, partitions the build — no shuffle of raw
  content beyond the initial seg grouping; token rows shuffle once,
  keyed by ``seg`` (bounded: docs_per_seg * avg_dl rows per task).
- hot terms (huge df inside one segment) are sharded into multiple
  posting rows (``shard`` column) so no single parquet row explodes;
  query-side concatenation is doc-ordered and cheap.
- nothing driver-side is O(corpus): the driver only ever sees the
  per-segment metric rows that go into the manifest.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.smallfloat import encode_norms
from ..functions.varint import encode_varint_with_lengths

BLOCK_SIZE = 128  # docs per posting block, mirroring ForUtil.BLOCK_SIZE
DEFAULT_DOCS_PER_SEG = 4096
DEFAULT_SHARD_POSTINGS = 1 << 17  # hot-term row split threshold
TERM_BUCKETS = 1024  # coarse term-space partitioning for pushdown at scale

_DOCMETA_COLS = ["doc_id", "repo", "path", "commit", "lang", "dl", "norm_byte", "sha256"]


def _stats_pa_schema():
    """Per-segment stats row: the ONLY thing a build or merge task sends
    back to the driver (the manifest/lineage record; everything else is
    written by the task itself, Lucene-style). ``stats_schema()`` is its
    Spark form."""
    import pyarrow as pa

    return pa.schema([
        ("seg", pa.int32()), ("n_docs", pa.int64()), ("doc_base", pa.int64()),
        ("sum_dl", pa.int64()), ("n_terms", pa.int64()),
        ("n_postings", pa.int64()), ("fp_sum", pa.int64()),
        ("postings_bytes", pa.int64()),
    ])


def stats_schema():
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(_stats_pa_schema())


def _postings_pa_schema():
    """Flat format v3 (functions/postings.py): whole-list blobs +
    per-block metadata arrays; ``seg`` is the partition directory."""
    import pyarrow as pa

    return pa.schema([
        ("field", pa.string()), ("term", pa.string()),
        ("term_bucket", pa.int32()), ("shard", pa.int32()),
        ("df", pa.int32()), ("cum_tf", pa.int64()),
        ("max_tf", pa.int32()), ("min_norm", pa.int32()),
        ("blk_first", pa.list_(pa.int64())), ("blk_last", pa.list_(pa.int64())),
        ("blk_n", pa.list_(pa.int32())), ("blk_max_tf", pa.list_(pa.int32())),
        ("blk_min_norm", pa.list_(pa.int32())),
        ("blk_doc_off", pa.list_(pa.int32())), ("blk_tf_off", pa.list_(pa.int32())),
        ("blk_pos_off", pa.list_(pa.int32())),
        ("docs", pa.binary()), ("tfs", pa.binary()),
        ("pos", pa.binary()), ("norms", pa.binary()),
    ])


def _offsets(lengths: np.ndarray) -> np.ndarray:
    """Item lengths -> start offsets with the total appended (n + 1)."""
    off = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=off[1:])
    return off


def _cut(starts: np.ndarray, ends: np.ndarray, step: int):
    """Cut every range [starts[i], ends[i]) into pieces of ``step`` items
    -> (owning range per piece, piece starts, piece boundaries per range)."""
    bounds = _offsets((ends - starts + step - 1) // step)
    owner = np.repeat(np.arange(len(starts)), np.diff(bounds))
    return owner, starts[owner] + (np.arange(bounds[-1]) - bounds[owner]) * step, bounds


def encode_posting_rows(field_name: str, terms, term_starts: np.ndarray,
                        docs: np.ndarray, tfs: np.ndarray, norms: np.ndarray,
                        tfs_buf: bytes, tf_off: np.ndarray,
                        pos_buf: bytes, pos_off: np.ndarray,
                        shard_postings: int = DEFAULT_SHARD_POSTINGS):
    """THE posting-row writer: non-empty postings in (term, doc) order
    -> v3 rows (``_postings_pa_schema``). Both the build flush and the
    merge re-block call it, so a merged segment equals a fresh build.

    ``terms[i]`` starts at posting ``term_starts[i]``; ``docs`` / ``tfs``
    / ``norms`` hold one value per posting; ``tfs_buf`` / ``pos_buf`` are
    varint streams and ``tf_off`` / ``pos_off`` (n_postings + 1) the
    byte offset where each posting's values start.

    A term splits into rows (``shard`` 0, 1, ...) of at most
    ``shard_postings`` postings, rounded UP to a multiple of BLOCK_SIZE
    so row cuts are block cuts. Doc deltas are varint-encoded with an
    absolute value at every 128-doc block start; the binary columns are
    zero-copy slices of the stream buffers via Arrow offsets.
    """
    import pyarrow as pa

    n_post = len(docs)
    shard_postings = max(BLOCK_SIZE, -(-shard_postings // BLOCK_SIZE) * BLOCK_SIZE)
    term_ends = np.append(term_starts[1:], n_post)
    row_term, row_starts, term_rows = _cut(term_starts, term_ends, shard_postings)
    row_ends = np.minimum(row_starts + shard_postings, term_ends[row_term])
    blk_row, b_starts, blk_bounds = _cut(row_starts, row_ends, BLOCK_SIZE)
    b_ends = np.minimum(b_starts + BLOCK_SIZE, row_ends[blk_row])
    row_bounds = np.append(row_starts, n_post)

    ddel = np.empty(n_post, dtype=np.int64)
    ddel[0] = docs[0]
    np.subtract(docs[1:], docs[:-1], out=ddel[1:])
    ddel[b_starts] = docs[b_starts]
    docs_buf, dlen = encode_varint_with_lengths(ddel)
    doc_off = _offsets(dlen)

    blk_offsets = pa.array(blk_bounds.astype(np.int32))

    def blocks(values: np.ndarray, typ):
        return pa.ListArray.from_arrays(blk_offsets, pa.array(values, typ))

    def block_offsets(byte_off: np.ndarray):
        return blocks((byte_off[b_starts] - byte_off[row_starts][blk_row])
                      .astype(np.int32), pa.int32())

    def blobs(buf: bytes, byte_off: np.ndarray):
        off = np.ascontiguousarray(byte_off[row_bounds], dtype=np.int32)
        return pa.Array.from_buffers(
            pa.binary(), len(off) - 1,
            [None, pa.py_buffer(off.tobytes()), pa.py_buffer(buf)])

    n_rows = len(row_starts)
    buckets = np.fromiter((_term_bucket_py(t) for t in terms),
                          dtype=np.int32, count=len(term_starts))
    return pa.table({
        "field": pa.repeat(field_name, n_rows).cast(pa.string()),
        "term": pa.array(terms, pa.string()).take(row_term),
        "term_bucket": pa.array(buckets[row_term], pa.int32()),
        "shard": pa.array((np.arange(n_rows) - term_rows[row_term]).astype(np.int32)),
        "df": pa.array((row_ends - row_starts).astype(np.int32)),
        "cum_tf": pa.array(np.add.reduceat(tfs, row_starts), pa.int64()),
        "max_tf": pa.array(np.maximum.reduceat(tfs, row_starts).astype(np.int32)),
        "min_norm": pa.array(np.minimum.reduceat(norms, row_starts).astype(np.int32)),
        "blk_first": blocks(docs[b_starts], pa.int64()),
        "blk_last": blocks(docs[b_ends - 1], pa.int64()),
        "blk_n": blocks((b_ends - b_starts).astype(np.int32), pa.int32()),
        "blk_max_tf": blocks(np.maximum.reduceat(tfs, b_starts).astype(np.int32), pa.int32()),
        "blk_min_norm": blocks(np.minimum.reduceat(norms, b_starts).astype(np.int32),
                               pa.int32()),
        "blk_doc_off": block_offsets(doc_off),
        "blk_tf_off": block_offsets(tf_off),
        "blk_pos_off": block_offsets(pos_off),
        "docs": blobs(docs_buf, doc_off),
        "tfs": blobs(tfs_buf, tf_off),
        "pos": blobs(pos_buf, pos_off),
        "norms": blobs(norms.astype(np.uint8).tobytes(), np.arange(n_post + 1)),
    }, schema=_postings_pa_schema())


def _atomic_parquet_write(table, dirname: str, row_group_size: int,
                          name: str = "part-00000.parquet") -> int:
    """tmp write + atomic rename -> bytes written. Retried or speculative
    tasks rewrite identical deterministic bytes, so the rename is
    idempotent (the segments_N discipline at file level). The temp file
    is dot-prefixed: Spark's file listing skips ``.``/``_`` names, so a
    writer killed before the rename leaves nothing a reader scans."""
    import pyarrow.parquet as pq

    os.makedirs(dirname, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=dirname, prefix=".", suffix=".inprogress")
    os.close(fd)
    try:
        pq.write_table(table, tmp, row_group_size=row_group_size,
                       compression="snappy")
        size = os.path.getsize(tmp)
        os.replace(tmp, os.path.join(dirname, name))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return size


def _seg_term_codes(texts: List[str], analyzer: str):
    """Python texts of ONE segment -> (dls, codes in sorted-term space,
    uniq_sorted terms, positions-or-None). CPython's sre ``findall``
    measures ~5x faster per core than Java's regex on the same token
    grammar (lookaround alternations are slow on the JVM), so
    tokenization stays in the Python kernel; everything downstream of
    the token lists is numpy/pandas vectorized.

    Gap-free analyzers return positions=None (the kernel derives them
    as 0..dl-1); stop-filtered analyzers return the explicit
    position stream with holes (PositionIncrementAttribute gaps).

    Returns ``(dls, norm_lens, codes, uniq_sorted, positions)``:
    ``dls`` counts EMITTED tokens (the flat-stream offsets and the
    segment's sum_dl == sumTotalTermFreq); ``norm_lens`` is the
    discountOverlaps=true FieldInvertState length (posIncr-0 stacked
    tokens excluded — see analysis.field_length) that feeds the norm
    byte. Identical for non-stacking analyzers."""
    from ..analysis import analyzer_has_gaps, analyze, field_length, tokenize

    if analyzer_has_gaps(analyzer):
        pair_lists = [analyze(t, analyzer) for t in texts]
        dls = np.fromiter((len(p) for p in pair_lists), dtype=np.int64,
                          count=len(pair_lists))
        norm_lens = np.fromiter((field_length(p) for p in pair_lists),
                                dtype=np.int64, count=len(pair_lists))
        total = int(dls.sum())
        if total == 0:
            return dls, norm_lens, np.empty(0, np.int64), [], None
        flat = np.empty(total, dtype=object)
        pos = np.empty(total, dtype=np.int64)
        o = 0
        for pairs in pair_lists:
            for t, pp in pairs:
                flat[o] = t
                pos[o] = pp
                o += 1
        codes, uniq = pd.factorize(flat, sort=True)
        return dls, norm_lens, codes.astype(np.int64), list(uniq), pos

    lists = [tokenize(t, analyzer) for t in texts]
    dls = np.fromiter((len(lst) for lst in lists), dtype=np.int64, count=len(lists))
    total = int(dls.sum())
    if total == 0:
        return dls, dls, np.empty(0, np.int64), [], None
    flat = np.empty(total, dtype=object)
    o = 0
    for lst in lists:
        flat[o:o + len(lst)] = lst
        o += len(lst)
    codes, uniq = pd.factorize(flat, sort=True)
    return dls, dls, codes.astype(np.int64), list(uniq), None


def make_segment_writer(index_dir: str, analyzer: str = "standard",
                        field_name: str = "content"):
    """mapInArrow kernel: a partition of tokenized docs -> segment
    parquet ON DISK + 1 stats row per segment.

    Per segment: tokenize (CPython sre, see ``_seg_term_codes``), one
    lexsort, run-length boundaries, ONE varint pass per tf/pos stream,
    then ``encode_posting_rows`` lays the blocks and assembles the Arrow
    rows as zero-copy byte SLICES of the stream buffers (no per-term
    Python loop). Mirrors the reference's per-term postings write
    (`[U] .../index/FreqProxTermsWriter.java :: flush`) with the
    per-block impacts of `Lucene84SkipWriter.java`.

    The task writes its own parquet (pyarrow, tmp+rename) exactly like
    a Lucene DWPT flushing segment files, and returns only the
    manifest stats rows — no posting bytes ever re-enter the Spark
    shuffle/commit machinery, which is what makes the build scale
    linearly with cores.
    """
    import pyarrow as pa

    def process_segment(sub) -> dict:
        seg = sub["seg"][0].as_py()
        doc_ids = sub["doc_id"].to_numpy().astype(np.int64)
        dls, norm_lens, codes, uniq_list, pos_flat = _seg_term_codes(
            sub[field_name].to_pylist(), analyzer
        )
        norms_by_doc = encode_norms(norm_lens).astype(np.int64)

        total = int(dls.sum())
        if total:
            doc_idx = np.repeat(np.arange(len(sub), dtype=np.int64), dls)
            if pos_flat is None:
                starts = np.zeros(len(sub), dtype=np.int64)
                starts[1:] = np.cumsum(dls)[:-1]
                pos_in_doc = np.arange(total, dtype=np.int64) - np.repeat(starts, dls)
            else:
                pos_in_doc = pos_flat  # explicit stream with stopword gaps

            order = np.lexsort((pos_in_doc, doc_idx, codes))
            c_s, d_s, p_s = codes[order], doc_idx[order], pos_in_doc[order]

            # (term, doc) run boundaries -> tf per posting
            pair_change = np.empty(total, dtype=bool)
            pair_change[0] = True
            pair_change[1:] = (np.diff(c_s) != 0) | (np.diff(d_s) != 0)
            run_starts = np.flatnonzero(pair_change)
            run_ends = np.append(run_starts[1:], total)
            tf_all = (run_ends - run_starts).astype(np.int64)
            post_term = c_s[run_starts]            # term code per posting
            post_doc = d_s[run_starts]             # local doc idx per posting

            # position deltas over the sorted stream, absolute at every
            # (term, doc) run start
            pos_delta = np.empty(total, dtype=np.int64)
            pos_delta[0] = p_s[0]
            pos_delta[1:] = p_s[1:] - p_s[:-1]
            pos_delta[run_starts] = p_s[run_starts]

            # ONE varint pass per stream for the whole segment
            tfs_buf, tlen = encode_varint_with_lengths(tf_all)
            pos_buf, plen = encode_varint_with_lengths(pos_delta)
            post_table = encode_posting_rows(
                field_name, uniq_list,
                np.flatnonzero(np.r_[True, np.diff(post_term) != 0]),
                doc_ids[post_doc], tf_all, norms_by_doc[post_doc],
                tfs_buf, _offsets(tlen), pos_buf, _offsets(plen)[_offsets(tf_all)])
            seg_n_postings = len(post_term)
        else:
            post_table = _postings_pa_schema().empty_table()
            seg_n_postings = 0

        postings_bytes = _atomic_parquet_write(
            post_table, os.path.join(index_dir, "postings", f"seg={seg}"),
            row_group_size=2048)

        meta_table = pa.table({
            "doc_id": sub["doc_id"],
            "repo": sub["repo"],
            "path": sub["path"],
            "commit": sub["commit"],
            "lang": sub["lang"],
            "dl": pa.array(dls, pa.int32()),
            "norm_byte": pa.array(norms_by_doc, pa.int32()),
            "sha256": sub["sha256"],
        })
        _atomic_parquet_write(meta_table, os.path.join(index_dir, "docmeta", f"seg={seg}"),
                              row_group_size=65536)

        fp = 0
        for s in sub["sha256"].to_pylist():
            fp ^= int(s[:15], 16)
        return {
            "seg": int(seg),
            "n_docs": len(sub),
            "doc_base": int(doc_ids.min()),
            "sum_dl": int(dls.sum()),
            "n_terms": len(uniq_list),
            "n_postings": int(seg_n_postings),
            "fp_sum": fp,
            "postings_bytes": postings_bytes,
        }

    def kernel(batches):
        batch_list = [b for b in batches if b.num_rows]
        rows = []
        if batch_list:
            tbl = pa.Table.from_batches(batch_list)
            seg_np = tbl["seg"].to_numpy()
            doc_np = tbl["doc_id"].to_numpy()
            order = np.lexsort((doc_np, seg_np))
            tbl = tbl.take(pa.array(order))
            seg_sorted = seg_np[order]
            bounds = np.flatnonzero(np.r_[True, np.diff(seg_sorted) != 0])
            bounds = np.append(bounds, len(seg_sorted))
            for i in range(len(bounds) - 1):
                sub = tbl.slice(int(bounds[i]), int(bounds[i + 1] - bounds[i]))
                rows.append(process_segment(sub))
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=_stats_pa_schema())

    return kernel


def _term_bucket_py(term: str) -> int:
    # stable, python-side term bucket (matches query-side pushdown);
    # sha-independent cheap hash — NOT Spark's xxhash64 (unavailable in
    # pandas); defined once here and used by both build and query.
    import zlib

    return zlib.crc32(term.encode("utf-8")) % TERM_BUCKETS


# --------------------------------------------------------------- manifest


@dataclass
class Manifest:
    gen: int
    docs_per_seg: int
    analyzer: str
    field: str
    segments: List[dict] = field(default_factory=list)
    #: manifest-gated tombstone files under <index>/deletes/ (the .liv
    #: role — see operators/delete.py); carried forward by build/merge
    delete_files: List[str] = field(default_factory=list)

    @property
    def seg_ids(self) -> List[int]:
        return sorted(s["seg"] for s in self.segments)

    @property
    def doc_count(self) -> int:
        # purged segments (expungeDeletes) carry live-only counts; the
        # raw n_docs keeps the original doc RANGE for MatchAll math
        return sum(s.get("n_live", s["n_docs"]) for s in self.segments)

    @property
    def sum_dl(self) -> int:
        return sum(s.get("sum_dl_live", s["sum_dl"]) for s in self.segments)

    def doc_base(self) -> Dict[int, tuple]:
        return {s["seg"]: (s["doc_base"], s["n_docs"]) for s in self.segments}

    def to_json(self) -> str:
        return json.dumps({
            "gen": self.gen, "docs_per_seg": self.docs_per_seg,
            "analyzer": self.analyzer, "field": self.field,
            "segments": self.segments, "delete_files": self.delete_files,
        }, indent=1, sort_keys=True)


def manifest_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest")


def read_manifest(index_dir: str) -> Optional[Manifest]:
    mdir = manifest_dir(index_dir)
    if not os.path.isdir(mdir):
        return None
    gens = sorted(
        int(f[4:-5]) for f in os.listdir(mdir) if f.startswith("gen-") and f.endswith(".json")
    )
    if not gens:
        return None
    with open(os.path.join(mdir, f"gen-{gens[-1]:06d}.json")) as fh:
        d = json.load(fh)
    return Manifest(gen=d["gen"], docs_per_seg=d["docs_per_seg"], analyzer=d["analyzer"],
                    field=d["field"], segments=d["segments"],
                    delete_files=d.get("delete_files", []))


def commit_manifest(index_dir: str, m: Manifest) -> None:
    """Atomic publish: tmp write + fsync + rename, the segments_N
    protocol (`[U] .../index/SegmentInfos.java :: commit`)."""
    mdir = manifest_dir(index_dir)
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"gen-{m.gen:06d}.json")
    fd, tmp = tempfile.mkstemp(dir=mdir, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(m.to_json())
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, final)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


# ------------------------------------------------------------- the writer


def build_index(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    docs_per_seg: int = DEFAULT_DOCS_PER_SEG,
    analyzer: str = "standard",
    field_name: str = "content",
    resume: bool = True,
) -> Manifest:
    """Build (or resume) the inverted index for ``source`` at ``index_dir``.

    ``source`` must carry a deterministic global ``doc_id`` (see
    sources.assign_doc_ids / load_source_table). Segment = contiguous
    doc_id range of ``docs_per_seg`` docs (ingestion-order slices, like
    Lucene's flush-ordered segments).
    """
    prev = read_manifest(index_dir) if resume else None
    if prev is not None and (prev.docs_per_seg != docs_per_seg
                             or prev.analyzer != analyzer
                             or prev.field != field_name):
        raise ValueError(
            "resume with different docs_per_seg/analyzer/field — use a fresh index_dir")
    done = set(prev.seg_ids) if prev else set()

    src = source.withColumn("seg", (F.col("doc_id") / docs_per_seg).cast("int"))
    # resume must skip every COVERED DOC RANGE, not segment ids: merges
    # renumber segments (into the MERGE_SEG_BASE namespace), so a doc
    # range committed under a merged segment would otherwise be rebuilt
    # under its original build-time id -> duplicated docs.
    # The covered range is the CONSTRUCTION range [seg*dps, (seg+1)*dps)
    # recorded as (doc_lo, doc_hi): with sparse caller-assigned doc_ids
    # the actual-extent interval [doc_base, doc_base+n_docs) undercovers
    # a committed segment, and its leftover ids would be re-processed
    # under the same seg id — the task's atomic rename then replaces the
    # segment's parquet with only the leftovers while the manifest keeps
    # the stale entry: silent data loss (ADVICE r1). Legacy entries
    # without doc_lo/doc_hi fall back to the dense-extent interval.
    if prev and prev.segments:
        intervals = sorted(
            (s.get("doc_lo", s["doc_base"]),
             s.get("doc_hi", s["doc_base"] + s["n_docs"]))
            for s in prev.segments
        )
        covered = [list(intervals[0])]
        for lo, hi in intervals[1:]:
            if lo <= covered[-1][1]:
                covered[-1][1] = max(covered[-1][1], hi)
            else:
                covered.append([lo, hi])
        cond = F.lit(False)
        for lo, hi in covered:
            cond = cond | ((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        todo = src.filter(~cond)
    else:
        todo = src

    # sha256 JVM-side (codegen); ONE job: raw docs shuffle once keyed by
    # seg (the DWPT routing). Each task writes its segments' parquet
    # itself (Lucene DWPT flush) and only the per-segment stats rows
    # (manifest lineage + metrics, north_rule) travel back — the driver
    # is O(segments), never O(corpus).
    content = F.coalesce(F.col(field_name), F.lit(""))
    prepared = todo.select(
        "seg", "doc_id", "repo", "path", "commit", "lang",
        F.sha2(content, 256).alias("sha256"),
        content.alias(field_name),
    )
    stats = prepared.repartition("seg").mapInArrow(
        make_segment_writer(index_dir, analyzer, field_name),
        schema=stats_schema(),
    )
    seg_rows = {r["seg"]: r.asDict() for r in stats.collect()}
    new_segs = sorted(set(seg_rows) - done)

    segments = list(prev.segments) if prev else []
    for seg in new_segs:
        r = seg_rows.get(seg)
        if r is None:
            continue  # segment had no docs (empty range)
        segments.append({
            "seg": int(seg),
            "n_docs": int(r["n_docs"]),
            "doc_base": int(r["doc_base"]),
            "doc_lo": int(seg) * docs_per_seg,
            "doc_hi": (int(seg) + 1) * docs_per_seg,
            "sum_dl": int(r["sum_dl"]),
            "n_terms": int(r["n_terms"] or 0),
            "n_postings": int(r["n_postings"] or 0),
            "input_fingerprint": f"{int(r['fp_sum'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}",
            "postings_bytes": int(r.get("postings_bytes") or 0),
            "source": "build",
        })

    m = Manifest(
        gen=(prev.gen + 1 if prev else 1),
        docs_per_seg=docs_per_seg,
        analyzer=analyzer,
        field=field_name,
        segments=sorted(segments, key=lambda s: s["seg"]),
        delete_files=list(prev.delete_files) if prev else [],
    )
    commit_manifest(index_dir, m)
    return m
