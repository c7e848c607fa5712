"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke tests start a local Spark session per workload (about 30 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
sys.path.insert(0, REPO)

from perfbench import layers, run, stats  # noqa: E402
from perfbench.trace import count_exchanges  # noqa: E402
from perfbench.workloads import WORKLOADS, Op  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("n, pct", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        assert n * (100 - pct) / 100 >= 10 - 1e-6


def test_percentile_interpolates():
    xs = [float(x) for x in range(1, 11)]
    assert stats.percentile(xs, 50) == 5.5
    assert stats.percentile(xs, 90) == pytest.approx(9.1)
    assert stats.percentile([3.0], 90) == 3.0


def test_self_time_subtracts_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [
        {"start": 1.0, "end": 3.0},
        {"start": 2.0, "end": 5.0},   # overlaps the first
        {"start": 7.0, "end": 8.0},
        {"start": 9.5, "end": 12.0},  # runs past the parent: clipped
    ]
    assert stats.self_time(parent, kids) == pytest.approx(10 - 4 - 1 - 0.5)
    assert stats.self_time(parent, []) == 10.0


def test_span_index_counts_outermost_spans_once():
    spans = [
        {"id": 0, "name": "op.x", "parent": None, "start": 0, "end": 10, "jobs": [1]},
        {"id": 1, "name": "operators.qc.a", "parent": 0, "start": 1, "end": 6, "jobs": [2]},
        {"id": 2, "name": "operators.qc.b", "parent": 1, "start": 2, "end": 4, "jobs": [3, 4]},
        {"id": 3, "name": "operators.qc.a", "parent": 0, "start": 7, "end": 8, "jobs": []},
    ]
    idx = layers.SpanIndex(spans)
    qc = lambda s: s["name"].startswith("operators.qc.")  # noqa: E731
    assert idx.time(qc) == 6
    assert idx.jobs(qc) == 3


@pytest.mark.parametrize("name, ok", [
    ("setup_s", True), ("sinks.table.write_s", True), ("0x-1.a_b", True),
    ("_x", False), (".x", False), ("a b", False), ("a" * 64, True),
    ("a" * 65, False), ("", False), ("op/s", False),
])
def test_metric_name_regex(name, ok):
    assert bool(stats.NAME_RE.match(name)) is ok


def test_benchmark_json_matches_the_emitted_metrics():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert stats.NAME_RE.match(m["name"]) and stats.UNIT_RE.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    emitted = run.end_to_end({"ops": [{"s": 1.0}, {"s": 2.0}], "passes": [{}]}, 1.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in emitted.items()}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER


def test_count_exchanges_reads_the_final_plan():
    plan = """== Physical Plan ==
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 1
   +- HashAggregate
      +- ShuffleQueryStage 0
         +- Exchange hashpartitioning(k#1, 4)
            +- BroadcastHashJoin
               :- BroadcastQueryStage 2
               :  +- BroadcastExchange HashedRelationBroadcastMode
+- == Initial Plan ==
   HashAggregate
   +- Exchange hashpartitioning(k#1, 4)

(1) Scan parquet
Output: Exchange"""
    assert count_exchanges(plan) == 2


class _StubWorkload:
    """Three ops: one right, one returning a wrong result, one raising."""

    def pass_ops(self, p):
        def boom():
            raise RuntimeError("op error")

        return [
            Op("good", lambda: 2, lambda r: r == 2),
            Op("wrong", lambda: 3, lambda r: r == 2),
            Op("error", boom, lambda r: True),
        ]


def test_wrong_results_and_errors_count_as_failed():
    res = run.measure(_StubWorkload(), None, seconds=0)
    assert [o["ok"] for o in res["ops"]] == [True, False, False]
    assert run.tally(res["ops"]) == (3, 2)
    assert all(o["s"] >= 0 for o in res["ops"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("workload, trace", [
    ("etl_ingest", 0), ("etl_ingest", 1), ("llm_corpus", 1),
])
def test_smoke_pass(workload, trace, tmp_path):
    spans = tmp_path / "spans.jsonl"
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         "3", "--seconds", "1", "--trace", str(trace), "--smoke",
         "--spans", str(spans)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    if trace:
        recs = [json.loads(line) for line in spans.read_text().splitlines()]
        assert recs and {"name", "start", "end", "parent", "op", "jobs"} <= set(recs[0])
    if workload == "etl_ingest" and trace:
        for name in ("sinks.table.bytes_written", "operators.qc.s",
                     "operators.climate.exec_s", "sources.decode_s"):
            assert out["metrics"][name]["value"] > 0
    if workload == "llm_corpus":
        assert out["metrics"]["plans.build_jobs"]["value"] > 0
        detail = json.loads(p.stdout.strip().splitlines()[-2])
        for row in ("kmeans_centroids", "minhash_lsh_candidates"):
            assert detail["jobs_by_op_kind"][row]["build_jobs"] > 0
