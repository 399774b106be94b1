"""Single-parallelism-level scaling job (invoked by scaling_bench.py).

Reads a pre-generated corpus parquet (IDENTICAL input for every level),
builds the full inverted index, runs the query set, prints one JSON
line: {"cpus": N, "build_sec": ..., "docs_per_sec": ..., "query_p50_ms": ...}

Usage: python tools/scaling_job.py --cpus 8 --corpus .work/scaling_corpus
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.machine import heap_gb_for, ram_bytes  # noqa: E402

QUERIES = [
    "content:spark",
    "content:merge",
    "content:(spark OR merge OR vector)",
    "content:(hash OR scan OR filter OR join)",
    "spark AND merge",
    "spark AND join AND hash",
    "(hash OR scan) AND NOT merge",
    '"batch batch"',
    "content:(table OR row OR column OR value)",
    "partition AND NOT (spark OR merge)",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--docs-per-seg", type=int, default=1024)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName(f"scaling-job-{args.cpus}")
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", f"{heap_gb_for(ram_bytes())}g"))
        # 2 task waves per core: binomial seg-count skew across hash
        # partitions amortizes instead of defining the stage tail
        .config("spark.sql.shuffle.partitions", str(args.cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from lucene_solr_spark.operators.build import build_index
    from lucene_solr_spark.operators.search import IndexReader

    from pyspark.sql import functions as F

    src = spark.read.parquet(args.corpus)

    # steady-state methodology: a small untimed warm-up build first (JIT
    # compilation, Python worker spin-up, filesystem/codec init), so the
    # timed run measures throughput, not constant session warm-up — the
    # quantity that actually scales with executors on a real cluster.
    warm_dir = os.path.join(os.path.dirname(args.corpus), f"warmup_idx_c{args.cpus}")
    shutil.rmtree(warm_dir, ignore_errors=True)
    build_index(spark, src.filter(F.col("doc_id") < 16 * args.docs_per_seg),
                warm_dir, docs_per_seg=args.docs_per_seg)
    shutil.rmtree(warm_dir, ignore_errors=True)

    idx_dir = os.path.join(os.path.dirname(args.corpus), f"scaling_idx_c{args.cpus}")
    shutil.rmtree(idx_dir, ignore_errors=True)

    t0 = time.perf_counter()
    manifest = build_index(spark, src, idx_dir, docs_per_seg=args.docs_per_seg)
    build_sec = time.perf_counter() - t0

    idx = IndexReader(spark, idx_dir)
    # warm-up (JVM/codegen), then timed
    idx.search(QUERIES[0], k=10).collect()
    lat = []
    for q in QUERIES:
        tq = time.perf_counter()
        idx.search(q, k=10).collect()
        lat.append((time.perf_counter() - tq) * 1000)

    out = {
        "cpus": args.cpus,
        "n_docs": manifest.doc_count,
        "n_segments": len(manifest.seg_ids),
        "build_sec": round(build_sec, 3),
        "docs_per_sec": round(manifest.doc_count / build_sec, 2),
        "query_p50_ms": round(statistics.median(lat), 1),
        "query_mean_ms": round(statistics.mean(lat), 1),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
