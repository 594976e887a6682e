"""Self-test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload traced at a tiny size, pins the end-to-end and
per-layer metric names against BENCHMARK.json, checks that each
workload stresses the layer it was chosen for, and checks that a wrong
result injected into the program shows up as a failed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, spec, workloads  # noqa: E402


@pytest.fixture(scope="module", autouse=True)
def _clean_workspace():
    yield
    shutil.rmtree(os.path.join(ROOT, harness.WORK_DIR_NAME), ignore_errors=True)
    shutil.rmtree(os.path.join(ROOT, "perfbench", "traces"), ignore_errors=True)


def _tiny(name: str, trace: bool, patch=None) -> dict:
    cwd = os.getcwd()
    os.chdir(ROOT)
    try:
        return workloads.run(name, seed=7, seconds=0, trace=trace, sizes=workloads.TINY, patch=patch)
    finally:
        os.chdir(cwd)


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"]: w["why"] for w in bench["workloads"]} == spec.WORKLOADS
    assert set(spec.WORKLOADS) == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {k: v[0] for k, v in spec.END_TO_END.items()}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {k: v[0] for k, v in spec.PER_LAYER.items()}


@pytest.mark.parametrize("name", sorted(spec.WORKLOADS))
def test_tiny_traced_run(name):
    res = _tiny(name, trace=True)
    assert res["failed"] == 0, res["errors"]
    assert res["attempted"] > 0
    assert set(res["e2e"]) == set(spec.END_TO_END)
    assert all(v > 0 for v in res["e2e"].values()), res["e2e"]
    assert set(res["layers"]) == set(spec.PER_LAYER)
    layers = res["layers"]
    if name == "queries":
        # the curation family runs jobs while its plans are built, the
        # warehouse family none
        assert layers["plans.curation.build_jobs"] > 0
        assert layers["plans.warehouse_sql.build_jobs"] == 0
        assert layers["operators.components.connected_components.jobs"] > 0
        assert layers["plans.exec.task_run_s"] > 0
    else:
        assert layers["pipeline.write_amp"] > 1
        assert layers["pipeline.load_s"] > 0
        assert layers["streaming.add_batch_ms"] > 0
        assert layers["streaming.compactions"] > 0


def _wrong_query(wl):
    from webscrap_datapipeline_spark.plans import REGISTRY

    q = REGISTRY[spec.QUERIES["warehouse_sql"][0]]
    orig = q.fn

    def restore():
        q.fn = orig

    q.fn = lambda spark, sf_dir: orig(spark, sf_dir).unionAll(orig(spark, sf_dir))  # every row twice
    wl.restore = restore


def _lost_state_commit(wl):
    import webscrap_datapipeline_spark.pipeline as pipeline

    orig = pipeline.commit_state

    def restore():
        pipeline.commit_state = orig

    pipeline.commit_state = lambda state, path: None
    wl.restore = restore


@pytest.mark.parametrize("name,inject", [("queries", _wrong_query), ("ingest", _lost_state_commit)])
def test_injected_wrong_result_raises_failed_frac(name, inject):
    holder = {}

    def patch(wl):
        inject(wl)
        holder["wl"] = wl

    try:
        res = _tiny(name, trace=False, patch=patch)
    finally:
        holder["wl"].restore()
    assert res["failed"] > 0
    assert res["report"]["failed_frac"][0] > 0
