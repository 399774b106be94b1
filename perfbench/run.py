#!/usr/bin/env python3
"""Build -> merge -> query benchmark for lucene_solr_spark.

Run from the repository root:

    python3 perfbench/run.py --workload query_zipf --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` runs the same workload traced and reports per-layer
metrics instead. Human-readable report lines go first; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. All scratch files live under
``.bench_work/`` in the checkout and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "index_bytes_per_input_byte": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("query_zipf", "nrt_churn"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs-per-seg", type=int, default=512,
                    help="build segment size; corpus sizes scale with it")
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def fmt(v) -> str:
    if isinstance(v, tuple):
        return f"{v[0]:.4g} (n={v[1]})"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lucene_solr_spark")):
        print(f"perfbench: no lucene_solr_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import checks, layers, machine
    from perfbench.trace import (NullTracer, Tracer, check_nesting, find_event_log,
                                 read_event_log)
    from perfbench.workloads import UNITS as REPORT_UNITS, WORKLOADS, Ctx

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traced = bool(args.trace)
    n_cpus = machine.cpus()
    heap = machine.heap_gb_for(machine.ram_bytes())
    event_dir = os.path.join(work, "eventlog") if traced else None
    t_start = time.perf_counter()
    try:
        spark = machine.start_spark(ROOT, work, n_cpus, heap, event_dir)
        t_spark = time.perf_counter()
        try:
            facts = machine.describe(spark, n_cpus, heap)
            ctx = Ctx(spark, work, args.seed, args.docs_per_seg)
            tracer = Tracer(spark.sparkContext) if traced else NullTracer()
            tracer.install()
            t0 = time.perf_counter()
            try:
                metrics, tally = WORKLOADS[args.workload](ctx).execute(args.seconds, tracer)
            finally:
                tracer.uninstall()
            wall_s = time.perf_counter() - t0
        finally:
            t_stop = time.perf_counter()
            stop_spark(spark)
        ctx.phases["spark_start"] = t_spark - t_start
        ctx.phases["spark_stop"] = time.perf_counter() - t_stop

        selftest_ok = checks.selftest()
        nesting = check_nesting(tracer.spans) if traced else []
        print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
              f"trace={args.trace} wall={wall_s:.1f}s machine={json.dumps(facts)}")
        error_rate = tally.failed / tally.attempted if tally.attempted else 1.0
        print(f"  error_rate = {error_rate:.4g} ratio ({tally.failed}/{tally.attempted}); "
              f"checker self-test {'ok' if selftest_ok else 'FAILED'}")
        print("  phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in ctx.phases.items()))
        for note in tally.notes:
            print(f"  FAILED: {note}")
        for k, v in ctx.report.items():
            print(f"  {k} = {fmt(v)} {REPORT_UNITS.get(k, '')}")
        if traced:
            print(f"  trace nesting: {'ok' if not nesting else 'BROKEN'} "
                  f"({len(tracer.spans)} spans)")
            for problem in nesting[:10]:
                print(f"  FAILED: {problem}")
            log = find_event_log(event_dir)
            jobs = read_event_log(log) if log else {}
            out, breakdown = layers.compute(args.workload, tracer, jobs, ctx.gauges)
            for kind, b in sorted(breakdown.items()):
                n = b["n"]
                parts = ", ".join(f"{k} {v / n:.1f}" for k, v in sorted(b["layers"].items()))
                print(f"  {kind}: n={n} mean {b['total_ms'] / n:.1f} ms = {parts}, "
                      f"unaccounted {b['unaccounted_ms'] / n:.2f} ms")
            print("  self time by span (calls, ms):")
            for name, (calls, ms) in sorted(layers.self_time_table(tracer).items(),
                                            key=lambda kv: -kv[1][1]):
                print(f"    {name:<40} {calls:>7} {ms:>10.1f}")
            result = {k: {"value": out[k], "unit": u} for k, u in layers.UNITS.items()}
        else:
            result = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
        for k, v in result.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
        print(json.dumps({
            "correct": (tally.failed == 0 and tally.attempted > 0 and selftest_ok
                        and not nesting),
            "attempted": max(1, tally.attempted),
            "failed": tally.failed if tally.attempted else 1,
            "metrics": result,
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:   # another run is using it
            pass


if __name__ == "__main__":
    sys.exit(main())
