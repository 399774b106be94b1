"""Seeded inputs: the Zipf corpus, the query stream and NRT batches.

The corpus comes from the engine's own deterministic generator
(``sources.synth_repo_files`` + ``assign_doc_ids``): Zipf(1.2) over a
5,000-term vocabulary, 20-400 tokens per doc, a Unicode "spice" row
every 37 docs. The engine only ever sees the generated rows.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from typing import List, Tuple

import numpy as np
import pyarrow.parquet as pq

# bound here, before any tracer rebinding, so oracles and query
# generation are never traced
from lucene_solr_spark.analysis import tokenize
from lucene_solr_spark.sources import _vocab, _zipf_weights, synth_rows

QUERY_CLASSES = ("term", "or", "and", "phrase")
_PLAIN = re.compile(r"^[a-z][a-z0-9_]*$")


def write_corpus(spark, n_docs: int, seed: int, path: str) -> None:
    """Generate ``n_docs`` rows with global doc ids and write them as
    parquet (the engine's sources layer does all of it)."""
    from lucene_solr_spark import sources

    df = sources.assign_doc_ids(sources.synth_repo_files(spark, n_docs, seed))
    df.write.mode("overwrite").parquet(path)


def read_corpus(path: str):
    """-> pyarrow table (doc_id, repo, path, commit, lang, content), doc_id order."""
    t = pq.read_table(path, columns=["doc_id", "repo", "path", "commit", "lang", "content"])
    return t.sort_by("doc_id")


def text_bytes(contents: List[str]) -> int:
    return sum(len((c or "").encode("utf-8")) for c in contents)


def doc_freqs(contents: List[str]) -> Counter:
    """Oracle docFreq: in how many docs each token occurs, tokenized
    with the engine's ``analysis.tokenize``."""
    df: Counter = Counter()
    for c in contents:
        df.update(set(tokenize(c or "", "standard")))
    return df


def sha256_hex(contents: List[str]) -> List[str]:
    return [hashlib.sha256((c or "").encode("utf-8")).hexdigest() for c in contents]


class QueryStream:
    """Seeded stream of (class, query text). Every other term draw
    follows the corpus' Zipf weights (head terms repeat: LRU hits, long
    posting lists), half are uniform over the vocabulary (mostly first
    seen, each costing a docFreq lookup). Phrases are bigrams sampled
    from generated docs, so they match. Classes take turns, so every
    seed sends the same class mix."""

    def __init__(self, contents: List[str], seed: int):
        self.rng = np.random.default_rng([seed, 0x51EA])
        self.vocab = _vocab()
        self.weights = _zipf_weights(len(self.vocab))
        self.contents = contents
        self.n = 0
        self.draws = 0

    def _term(self) -> str:
        self.draws += 1
        if self.draws % 2:
            return str(self.rng.choice(self.vocab, p=self.weights))
        return str(self.vocab[self.rng.integers(len(self.vocab))])

    def _terms(self, n: int) -> List[str]:
        out: List[str] = []
        while len(out) < n:
            t = self._term()
            if t not in out:
                out.append(t)
        return out

    def _bigram(self) -> Tuple[str, str]:
        while True:
            toks = tokenize(self.contents[self.rng.integers(len(self.contents))])
            pairs = [(a, b) for a, b in zip(toks, toks[1:])
                     if _PLAIN.match(a) and _PLAIN.match(b)]
            if pairs:
                return pairs[self.rng.integers(len(pairs))]

    def next(self) -> Tuple[str, str]:
        cls = QUERY_CLASSES[self.n % len(QUERY_CLASSES)]
        self.n += 1
        if cls == "term":
            return cls, self._term()
        if cls == "or":
            return cls, " OR ".join(self._terms(int(self.rng.integers(2, 6))))
        if cls == "and":
            return cls, " AND ".join(self._terms(int(self.rng.integers(2, 4))))
        a, b = self._bigram()
        return cls, f'"{a} {b}"'


class ChurnStream:
    """Seeded NRT batches over a base corpus. ``base_keys[i]`` is the
    (repo, path) of doc id ``i``: ``assign_doc_ids`` numbers docs densely
    from 0, so positions and doc ids coincide.

    Each batch replaces ``n_update // 2`` existing keys (same repo/path,
    new commit and content) and adds the rest as new keys, then deletes
    ``n_delete`` base doc ids. No key or id is touched twice, so every
    superseded or deleted id is known."""

    def __init__(self, base_keys: List[Tuple[str, str]], seed: int,
                 n_update: int, n_delete: int):
        self.rng = np.random.default_rng([seed, 0xC4A7])
        self.n_base = len(base_keys)
        self.base_keys = base_keys
        self.free = list(self.rng.permutation(self.n_base))
        self.n_update, self.n_delete = n_update, n_delete
        self.next_new = self.n_base
        self.batch_no = 0
        self.seed = seed

    def next(self):
        """-> (pandas rows to upsert, {key: new commit}, superseded base
        ids, base ids to delete)."""
        self.batch_no += 1
        n_rep = self.n_update // 2
        n_new = self.n_update - n_rep
        if len(self.free) < n_rep + self.n_delete:
            raise RuntimeError("churn stream ran out of untouched base docs")
        rep_ids = [int(self.free.pop()) for _ in range(n_rep)]
        del_ids = sorted(int(self.free.pop()) for _ in range(self.n_delete))
        # fresh content from generator ids no base doc uses
        fresh = synth_rows(range(self.next_new, self.next_new + self.n_update),
                           self.seed + 7919)
        self.next_new += self.n_update
        for j, i in enumerate(rep_ids):
            repo, path = self.base_keys[i]
            fresh.loc[j, "repo"] = repo
            fresh.loc[j, "path"] = path
        fresh["commit"] = [
            hashlib.sha1(f"{r}:{p}:batch{self.batch_no}".encode()).hexdigest()
            for r, p in zip(fresh["repo"], fresh["path"])
        ]
        commits = {(r, p): c for r, p, c in zip(fresh["repo"], fresh["path"], fresh["commit"])}
        if len(commits) != n_rep + n_new:
            raise RuntimeError("churn batch keys collide")
        return fresh, commits, rep_ids, del_ids


def query_terms_of(text: str) -> List[str]:
    from lucene_solr_spark.plans.query import parse_query, query_terms

    return [t for _, t in query_terms(parse_query(text, analyzer="standard"))]


def first_seen_ratio(queries: List[str], warmup: List[str]) -> Tuple[int, int]:
    """-> (terms of ``queries`` not queried before on this reader, terms
    of ``queries``); ``warmup`` queries ran first."""
    seen = {t for q in warmup for t in query_terms_of(q)}
    new = total = 0
    for q in queries:
        for t in dict.fromkeys(query_terms_of(q)):
            total += 1
            if t not in seen:
                new += 1
                seen.add(t)
    return new, total
