"""Tests of the benchmark itself.

Fast tests check the seeded generator and the metric contract. The
``slow`` ones run every workload at sf0.001 in this process (about a
minute each)::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, workloads  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_ops():
    assert workloads.dashboard_ops(7, 20) == workloads.dashboard_ops(7, 20)
    assert workloads.dashboard_ops(7, 20) != workloads.dashboard_ops(8, 20)
    assert workloads.ingest_ops(7, 1000, 1000) == workloads.ingest_ops(7, 1000, 1000)
    assert workloads.ingest_ops(7, 1000, 1000) != workloads.ingest_ops(8, 1000, 1000)


def test_blocks_hold_the_same_mix_for_every_seed():
    for seed in range(5):
        for block in workloads.dashboard_ops(seed, 10):
            assert sorted(op.template for op in block) == sorted(workloads.DASHBOARD_TEMPLATES)
        for block in workloads.ingest_ops(seed, 1000, 1000):
            assert block[0].kind == "refresh"
            assert sorted(op.template for op in block[1:]) == sorted(
                list(workloads.INGEST_READS) * workloads.READ_VARIANTS + ["curate", "ivf_topk"])


def test_ingest_reads_of_a_step_are_distinct():
    for block in workloads.ingest_ops(4, 1000, 1000):
        texts = [op.text for op in block if op.kind == "sql"]
        assert len(set(texts)) == len(texts)


def test_dashboard_texts_repeat():
    texts = [op.text for block in workloads.dashboard_ops(3, 10) for op in block]
    assert len(set(texts)) < len(texts)


def test_warmup_never_uses_a_timed_text():
    timed = {op.text for block in workloads.dashboard_ops(5, 50) for op in block}
    timed |= {op.text for block in workloads.ingest_ops(5, 1000, 1000) for op in block}
    for name, templates in (("dashboard", workloads.DASHBOARD_TEMPLATES),
                            ("ingest", workloads.INGEST_READS)):
        warm = workloads.warmup_texts(name, 5)
        assert len(warm) == len(templates)
        assert not set(warm) & timed


def test_metric_names_match_benchmark_json():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {(m["name"], m["unit"]) for m in bench["end_to_end"]} == set(
        harness.END_TO_END_UNITS.items())
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == harness.PER_LAYER
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        layers = json.load(f)
    assert sorted(layers["workloads"]) == sorted(WORKLOADS)
    per_layer = {m["name"] for m in bench["per_layer"]}
    e2e = {m["name"] for m in bench["end_to_end"]}
    for row in layers["layer_map"]:
        assert set(row["metrics"]) <= per_layer, row["layer"]
        assert set(row["should_move"]) <= e2e, row["layer"]
    assert set().union(*(row["metrics"] for row in layers["layer_map"])) == per_layer


def _run(workload: str, tmp_path, trace: bool, monkeypatch) -> dict:
    monkeypatch.setattr(harness, "SF", 0.001)
    monkeypatch.setattr(harness, "TRACE_BLOCKS", {"dashboard": 2, "ingest": 1})
    bench = harness.Bench(workload, 11, str(tmp_path / f"{workload}-{trace}"))
    try:
        return bench.run(1, trace)
    finally:
        bench.close()


@pytest.mark.slow
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_every_workload(workload, tmp_path, monkeypatch):
    result = _run(workload, tmp_path, False, monkeypatch)
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["report"]["failed_ratio"] == 0
    assert result["correct"] is True
    assert set(result["metrics"]) == set(harness.END_TO_END_UNITS)
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.slow
@pytest.mark.parametrize("workload", WORKLOADS)
def test_exact_counts_repeat(workload, tmp_path, monkeypatch):
    exact = ("py4j.calls", "query.plan_jobs", "spark.jobs", "cube.layout_df_calls")
    first = _run(workload, tmp_path / "a", True, monkeypatch)
    second = _run(workload, tmp_path / "b", True, monkeypatch)
    assert first["failed"] == second["failed"] == 0
    assert [(m, u) for m, u in harness.PER_LAYER] == [
        (m, first["metrics"][m]["unit"]) for m in first["metrics"]]
    for name in exact:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
    assert first["metrics"]["py4j.calls"]["value"] > 0
