"""Flat posting-row decoder (index format v3).

One parquet row per (term, seg, shard) holds the WHOLE posting list (or
one block-aligned shard of it) as four binary blobs plus parallel
per-block metadata arrays:

    docs binary   -- varint doc-id deltas; value at each 128-block start
                     is the ABSOLUTE doc id (block-local decode possible)
    tfs  binary   -- varint term frequencies
    pos  binary   -- varint position deltas; value at each posting
                     (doc) start is the absolute first position
    norms binary  -- uint8 norm byte per posting
    blk_first/blk_last/blk_n/blk_max_tf/blk_min_norm -- per-block stats
                     (the skip-list impacts, `[U] lucene/core/.../codecs/
                     lucene84/Lucene84SkipWriter.java`, `Impacts.java`)
    blk_doc_off/blk_tf_off/blk_pos_off -- byte offsets of each block
                     inside the blobs (the skip pointers)

Rows are written by ONE encoder, ``operators.build.encode_posting_rows``
(used by both the build flush and the merge re-block); every doc-id
decode goes through ``decode_docs_concat`` here. Query-side block
skipping slices the blob at ``blk_*_off``.
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np

from .varint import decode_varint


def _segmented_cumsum(deltas: np.ndarray, seg_lens: np.ndarray) -> np.ndarray:
    """cumsum of ``deltas`` restarting at every segment start (the value
    at a segment start is absolute)."""
    c = np.cumsum(deltas)
    corr = np.zeros(len(seg_lens), dtype=np.int64)
    corr[1:] = c[np.cumsum(seg_lens)[:-1] - 1]
    return c - np.repeat(corr, seg_lens)


def decode_docs_concat(docs_blobs: Sequence[bytes], blk_ns: Sequence) -> np.ndarray:
    """Doc ids of MANY posting rows in ONE varint pass. Each row's doc
    stream starts with an absolute value at a block boundary, so the
    concatenated stream is a valid block-reset delta stream; per-call
    decode overhead would otherwise dominate wildcard queries and merge
    groups spanning thousands of rows."""
    if not len(docs_blobs):
        return np.empty(0, np.int64)
    d = decode_varint(b"".join(docs_blobs))
    if d.size == 0:
        return d
    blk_n = np.concatenate([np.asarray(n, dtype=np.int64) for n in blk_ns])
    return _segmented_cumsum(d, blk_n)


def decode_docs(row) -> np.ndarray:
    """Whole-list doc ids of one row."""
    return decode_docs_concat([row["docs"]], [row["blk_n"]])


def decode_tfs(row) -> np.ndarray:
    return decode_varint(row["tfs"])


def decode_norms(row) -> np.ndarray:
    return np.frombuffer(row["norms"], dtype=np.uint8)


def decode_positions_concat(row, tfs: np.ndarray) -> np.ndarray:
    """-> absolute positions, concatenated per posting (segmented cumsum
    with absolute resets at posting starts)."""
    deltas = decode_varint(row["pos"])
    if deltas.size == 0:
        return deltas
    return _segmented_cumsum(deltas, tfs)


def split_positions(pos_concat: np.ndarray, tfs: np.ndarray) -> List[np.ndarray]:
    bounds = np.cumsum(tfs)
    starts = np.zeros(len(tfs), dtype=np.int64)
    starts[1:] = bounds[:-1]
    return [pos_concat[s:e] for s, e in zip(starts, bounds)]


def decode_block_docs(row, i: int) -> np.ndarray:
    """Decode ONLY block i's doc ids (for WAND block skipping)."""
    off = np.asarray(row["blk_doc_off"], dtype=np.int64)
    end = off[i + 1] if i + 1 < len(off) else len(row["docs"])
    d = decode_varint(row["docs"][off[i]:end])
    return np.cumsum(d)  # first value is absolute by construction
