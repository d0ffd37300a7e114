"""Layer-coverage check over traced runs (sf0.01 base warehouse).

    python3 -m pytest perfbench/test_layers.py -q

Runs each workload once with --trace 1 (a few minutes in all) and checks
that every declared per-layer metric is reported, that the outputs were
correct, and that each layer shows up only on the workload that exercises
it: Python workers and cut_lineage on curation_batch, the navigator, the
retail pipeline and matview maintenance on etl_ingest.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PYTHON_LAYER = ("python.run_s", "python.init_s", "python.sent_mb",
                "python.received_mb", "python.share_of_executor_time")
PIPELINE_LAYER = ("pipeline.run_pipeline_s", "pipeline.fact_rows_per_s",
                  "pipeline.output_bytes_per_input_byte")


def _traced(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def runs() -> dict[str, dict]:
    return {w: _traced(w) for w in ("curation_batch", "etl_ingest")}


def _value(run: dict, name: str) -> float:
    return run["metrics"][name]["value"]


def test_every_layer_metric_reported_and_outputs_correct(runs):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    for workload, run in runs.items():
        assert run["correct"] and run["failed"] == 0, workload
        assert set(run["metrics"]) == declared, workload


def test_python_and_cut_lineage_only_on_curation(runs):
    cur, etl = runs["curation_batch"], runs["etl_ingest"]
    for name in PYTHON_LAYER + ("session.cut_lineage.calls",
                                "iterative.jobs_per_request"):
        assert _value(cur, name) > 0, name
        assert _value(etl, name) == 0, name


def test_navigator_serves_dashboard_reads(runs):
    assert _value(runs["etl_ingest"], "matview.navigate.hit_ratio") > 0
    assert _value(runs["curation_batch"], "matview.navigate.calls") == 0


def test_pipeline_and_maintenance_only_on_etl(runs):
    cur, etl = runs["curation_batch"], runs["etl_ingest"]
    for name in PIPELINE_LAYER + ("matview.apply_cdc_batch_s",
                                  "matview.publish_s"):
        assert _value(etl, name) > 0, name
        assert _value(cur, name) == 0, name
