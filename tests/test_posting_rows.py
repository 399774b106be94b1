"""The one posting-row writer (build.encode_posting_rows), without Spark:
shard split, block grid, per-row stats, and a decode round trip."""

import numpy as np

from lucene_solr_spark.functions.postings import (
    decode_block_docs,
    decode_docs,
    decode_norms,
    decode_positions_concat,
    decode_tfs,
)
from lucene_solr_spark.functions.varint import encode_varint_with_lengths
from lucene_solr_spark.operators.build import BLOCK_SIZE, encode_posting_rows


def _postings(rng, n):
    docs = np.sort(rng.choice(100_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 6, size=n).astype(np.int64)
    norms = rng.integers(0, 256, size=n).astype(np.int64)
    positions = [np.sort(rng.choice(500, size=tf, replace=False)) for tf in tfs]
    return docs, tfs, norms, positions


def _offsets(lengths):
    return np.concatenate([[0], np.cumsum(lengths)]).astype(np.int64)


def test_writer_shard_split_round_trip():
    rng = np.random.default_rng(7)
    sizes = {"hot": 600, "cold": 5}
    parts = [_postings(rng, n) for n in sizes.values()]
    docs = np.concatenate([p[0] for p in parts])
    tfs = np.concatenate([p[1] for p in parts])
    norms = np.concatenate([p[2] for p in parts])
    positions = [pp for p in parts for pp in p[3]]
    # position deltas, absolute at every posting start
    pos_deltas = np.concatenate([np.diff(pp, prepend=0) for pp in positions])
    tfs_buf, tlen = encode_varint_with_lengths(tfs)
    pos_buf, plen = encode_varint_with_lengths(pos_deltas)

    table = encode_posting_rows(
        "content", list(sizes), np.array([0, sizes["hot"]]), docs, tfs, norms,
        tfs_buf, _offsets(tlen), pos_buf, _offsets(plen)[_offsets(tfs)],
        shard_postings=256)
    rows = table.to_pylist()

    assert [(r["term"], r["shard"], r["df"]) for r in rows] == [
        ("hot", 0, 256), ("hot", 1, 256), ("hot", 2, 88), ("cold", 0, 5)]
    lo = 0
    for r in rows:
        hi = lo + r["df"]
        d = decode_docs(r)
        t = decode_tfs(r)
        # every row's blocks are 128-doc aligned from the row start
        assert r["blk_n"] == [min(BLOCK_SIZE, r["df"] - b)
                              for b in range(0, r["df"], BLOCK_SIZE)]
        assert r["blk_first"] == d[::BLOCK_SIZE].tolist()
        for i in range(len(r["blk_n"])):
            blk = slice(i * BLOCK_SIZE, i * BLOCK_SIZE + r["blk_n"][i])
            assert decode_block_docs(r, i).tolist() == d[blk].tolist()
            assert r["blk_last"][i] == d[blk][-1]
            assert r["blk_max_tf"][i] == t[blk].max()
            assert r["blk_min_norm"][i] == decode_norms(r)[blk].min()
        # the row decodes back to its slice of the input
        assert d.tolist() == docs[lo:hi].tolist()
        assert t.tolist() == tfs[lo:hi].tolist()
        assert decode_norms(r).tolist() == norms[lo:hi].tolist()
        assert decode_positions_concat(r, t).tolist() == \
            np.concatenate(positions[lo:hi]).tolist()
        # per-row stats equal a recount
        assert r["cum_tf"] == tfs[lo:hi].sum()
        assert r["max_tf"] == tfs[lo:hi].max()
        assert r["min_norm"] == norms[lo:hi].min()
        lo = hi
    assert lo == len(docs)
