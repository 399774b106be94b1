"""Output checks. Every workload counts wrong answers as failed ops."""

from __future__ import annotations

import os
from typing import Dict, List, Sequence, Tuple

import numpy as np
import pyarrow.parquet as pq

Hits = List[Tuple[int, float]]


class Tally:
    """Attempted and failed ops, with a note per failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: List[str] = []

    def record(self, ok: bool, note: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(note)
        return ok


def same_hits(a: Hits, b: Hits) -> bool:
    """Rank identity: same doc ids in the same order, float32 scores equal."""
    if a is None or b is None or len(a) != len(b):
        return False
    return all(int(da) == int(db) and np.float32(sa) == np.float32(sb)
               for (da, sa), (db, sb) in zip(a, b))


def selftest() -> bool:
    """A deliberately wrong answer must be counted as failed: one right
    and one perturbed answer give attempted=2, failed=1."""
    right = [(7, 3.25), (3, 1.5)]
    wrong = [(7, 3.25), (3, float(np.nextafter(np.float32(1.5), np.float32(2))))]
    t = Tally()
    t.record(same_hits(right, list(right)))
    t.record(same_hits(right, wrong), "perturbed score")
    t.record(same_hits(right, right[::-1]), "swapped ranks")
    return t.attempted == 3 and t.failed == 2


def read_docmeta(index_dir: str, seg_ids: Sequence[int], columns: List[str]):
    """-> pandas frame of the given docmeta columns over live segments."""
    import pandas as pd

    parts = []
    for seg in seg_ids:
        d = os.path.join(index_dir, "docmeta", f"seg={seg}")
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                parts.append(pq.read_table(os.path.join(d, f), columns=columns).to_pandas())
    return pd.concat(parts, ignore_index=True)


def index_bytes(index_dir: str) -> int:
    """Bytes of posting and docmeta parquet files on disk."""
    total = 0
    for sub in ("postings", "docmeta"):
        for dirpath, _, files in os.walk(os.path.join(index_dir, sub)):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files if f.endswith(".parquet"))
    return total


def docfreq_mismatches(engine: Dict[str, int], oracle: Dict[str, int],
                       terms: Sequence[str]) -> List[str]:
    """Terms whose engine docFreq differs from the oracle count (the
    engine omits terms with df 0)."""
    return [t for t in terms if engine.get(t, 0) != oracle.get(t, 0)]
