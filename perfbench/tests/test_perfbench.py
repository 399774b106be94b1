"""Tests for the benchmark itself.

    python3 -m pytest perfbench/tests -q

The workload tests run ``perfbench/run.py`` at a tiny scale
(``--docs-per-seg 100``: 1,900 docs for query_zipf, 1,000 for nrt_churn)
in a subprocess each, untraced and traced, and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.errors import PythonException

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, layers, trace  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402


def test_selftest_counts_a_wrong_answer():
    assert checks.selftest()
    t = checks.Tally()
    t.record(checks.same_hits([(1, 2.0)], [(1, 2.0)]))
    t.record(checks.same_hits([(1, 2.0)], [(1, 2.0000002)]), "score")
    t.record(checks.same_hits([(1, 2.0)], []), "missing hit")
    assert (t.attempted, t.failed) == (3, 2)


def test_spans_nest_in_a_traced_kernel_replay(tmp_path):
    """Rebound functions record spans inside their callers' spans, and
    self time is never negative."""
    import pyarrow as pa

    from lucene_solr_spark.sources import synth_corpus_local
    from perfbench.replay import replay_build

    pdf = synth_corpus_local(300, seed=3)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    tr = trace.Tracer()
    tr.install()
    try:
        with tr.op("replay-build", "replay_build"):
            stats = replay_build(table, 100, str(tmp_path), tr)
    finally:
        tr.uninstall()
    assert sum(s["n_docs"] for s in stats) == 300
    names = {s[trace.NAME] for s in tr.spans}
    assert {"op.replay_build", "build.kernel", "analysis.tokenize",
            "functions.varint.encode", "build.write"} <= names
    assert trace.check_nesting(tr.spans) == []
    kids = trace.children_index(tr.spans)
    assert all(trace.self_ms(s, kids) >= 0 for s in tr.spans)
    # uninstall restores the originals
    from lucene_solr_spark.operators import build as B
    assert not isinstance(B.encode_varint_with_lengths, trace._Traced)


def test_nesting_check_flags_a_child_outside_its_parent():
    spans = [[0, "op.x", 0, 100, -1, "a"], [1, "child", 50, 150, 0, "a"]]
    assert trace.check_nesting(spans)


def test_event_log_reader(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Failed": False}, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 40, "Executor CPU Time": 3_000_000,
                          "JVM GC Time": 2, "Input Metrics": {"Bytes Read": 100},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Failed": True}, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Executor Run Time": 10}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1250},
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = trace.read_event_log(str(log))
    j = jobs[0]
    assert j["group"] == "q1" and j["end_ms"] - j["submit_ms"] == 250
    assert (j["tasks"], j["failed_tasks"], j["run_ms"], j["cpu_ns"]) == (2, 1, 50, 3_000_000)
    assert (j["input_bytes"], j["shuffle_write_bytes"], j["gc_ms"]) == (100, 7, 2)
    assert trace.jobs_in(jobs, "q1", 999, 1001) == [j]
    assert trace.jobs_in(jobs, "q2", 0, 2000) == []


def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
    assert [w["name"] for w in spec["workloads"]] == ["query_zipf", "nrt_churn"]
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def _run(workload: str, traced: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(traced), "--docs-per-seg", "100"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return {"result": json.loads(lines[-1]), "lines": lines}


@pytest.mark.parametrize("workload", ["query_zipf", "nrt_churn"])
def test_workload_emits_every_metric_and_no_errors(workload):
    untraced = _run(workload, 0)
    r = untraced["result"]
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in r["metrics"].values())
    assert any(line.strip().startswith("error_rate = 0 ") for line in untraced["lines"])

    traced = _run(workload, 1)
    r = traced["result"]
    assert r["correct"] is True and r["failed"] == 0
    assert {k: v["unit"] for k, v in r["metrics"].items()} == layers.UNITS
    assert r["metrics"]["spark.failed_tasks"]["value"] == 0
    assert r["metrics"]["spark.jobs"]["value"] > 0
    assert any("trace nesting: ok" in line for line in traced["lines"])
    assert any("unaccounted" in line for line in traced["lines"])


@pytest.mark.xfail(strict=True, raises=PythonException, reason=(
    "engine defect: expunge_deletes raises ArrowNotImplementedError when every "
    "posting of a (segment, term_bucket) group is tombstoned "
    "(perfbench/README.md, 'Engine defect found')"))
def test_engine_expunge_of_a_mostly_deleted_segment(tmp_path):
    from lucene_solr_spark.operators import build as B
    from lucene_solr_spark.operators import delete as D
    from lucene_solr_spark.operators import merge as M
    from perfbench import corpus, machine

    spark = machine.start_spark(ROOT, str(tmp_path), 2, 1)
    try:
        src, idx = str(tmp_path / "src"), str(tmp_path / "idx")
        corpus.write_corpus(spark, 1000, 3, src)
        B.build_index(spark, spark.read.parquet(src), idx, docs_per_seg=100)
        D.delete_documents(spark, idx, range(99))   # all but one doc of segment 0
        m = M.expunge_deletes(spark, idx)
        assert m.doc_count == 1000 - 99
    finally:
        spark.stop()
