"""In-process replays of the engine's Python kernels.

The build and query kernels run in Spark's Python worker processes,
where the in-process tracer cannot see. A replay feeds the SAME kernel
factory (``build.make_segment_writer``, ``search.make_query_kernel``)
the same input rows, read with pyarrow, inside the benchmark process.
That gives the kernel's own time and its children (tokenize, varint,
norms, parquet write; decode, score), and Spark overhead is the Spark
job time minus the replay time. The query replay doubles as the
correctness oracle for pruning: MaxScore and exhaustive replays must
both equal what Spark returned.
"""

from __future__ import annotations

import os
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lucene_solr_spark.operators import build as B
from lucene_solr_spark.operators import search as S
from lucene_solr_spark.plans.query import parse_query, query_terms, rewrite

from .corpus import sha256_hex
from .trace import NullTracer


class PostingsTable:
    """Every posting row of a reader's live segments, indexed by term.

    Segments are read file by file and concatenated in pandas: the
    build kernel (pyarrow) and the merge (Spark) name list children
    differently, which an Arrow-level concat would reject."""

    def __init__(self, index_dir: str, seg_ids: List[int]):
        parts = []
        for seg in seg_ids:
            d = os.path.join(index_dir, "postings", f"seg={seg}")
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    pdf = pq.read_table(os.path.join(d, f)).to_pandas()
                    pdf["seg"] = np.int32(seg)
                    parts.append(pdf)
        self.rows = pd.concat(parts, ignore_index=True)
        self.by_term: Dict[str, np.ndarray] = self.rows.groupby("term").indices

    def for_terms(self, terms: List[str]) -> pd.DataFrame:
        idx = [self.by_term[t] for t in dict.fromkeys(terms) if t in self.by_term]
        if not idx:
            return self.rows.iloc[:0]
        return self.rows.iloc[np.sort(np.concatenate(idx))]


def replay_query(reader, postings: PostingsTable, text: str, k: int,
                 prune: str, tracer=NullTracer()) -> Tuple[List[Tuple[int, float]], int]:
    """Run ``text`` through the engine's query kernel in-process, the
    way ``IndexReader.search`` plans it, then merge the per-segment
    top-k like ``orderBy(score desc, doc_id asc).limit(k)``.

    -> ([(doc_id, float32 score)], posting rows fed to the kernel).
    Term statistics come from the reader's docFreq LRU, which the timed
    query already filled, so no Spark job runs."""
    q = parse_query(text, analyzer=reader.manifest.analyzer)
    q = rewrite(reader._expand(q))
    weights, phrase_weights = reader._weights(q)
    rows = postings.for_terms([t for _, t in query_terms(q)])
    kernel = S.make_query_kernel(
        q, weights, phrase_weights, reader.cache, reader.manifest.doc_base(),
        k, prune, deleted=reader.deleted, score_fn=reader._score_fn)
    with tracer.span("search.kernel"):
        parts = list(kernel(iter([rows]))) if len(rows) else []
    if not parts:
        return [], len(rows)
    hits = pd.concat(parts, ignore_index=True)
    hits = hits.sort_values(["score", "doc_id"], ascending=[False, True]).head(k)
    return ([(int(d), float(np.float32(s))) for d, s in zip(hits["doc_id"], hits["score"])],
            len(rows))


def replay_build(corpus: pa.Table, docs_per_seg: int, out_dir: str,
                 tracer=NullTracer()) -> List[dict]:
    """Run the build kernel over ``corpus`` (doc_id, repo, path, commit,
    lang, content) in-process, writing segments under ``out_dir``.
    Input columns match what ``build_index`` ships to the kernel,
    sha256 included. -> the kernel's per-segment stats rows."""
    contents = [c or "" for c in corpus.column("content").to_pylist()]
    doc_ids = corpus.column("doc_id").to_numpy()
    table = pa.table({
        "seg": pa.array((doc_ids // docs_per_seg).astype(np.int32)),
        "doc_id": pa.array(doc_ids, pa.int64()),
        "repo": corpus.column("repo"),
        "path": corpus.column("path"),
        "commit": corpus.column("commit"),
        "lang": corpus.column("lang"),
        "sha256": pa.array(sha256_hex(contents), pa.string()),
        "content": pa.array(contents, pa.string()),
    })
    kernel = B.make_segment_writer(out_dir, "standard", "content")
    out: List[dict] = []
    with tracer.span("build.kernel"):
        for batch in kernel(iter(table.to_batches())):
            out.extend(batch.to_pylist())
    return out
