"""Tiny-size runs of the benchmark command with the arguments it takes
from BENCHMARK.json.

Each run starts its own Spark session (about a minute per run on four
cores). Run from the repository root: ``python -m pytest benchmark/tests``.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload, trace, cwd=ROOT, scale="0.1"):
    return subprocess.run(
        [
            sys.executable, "benchmark/run.py", "--workload", workload,
            "--seed", "3", "--seconds", "1", "--trace", str(trace),
            "--scale", scale,
        ],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_has_no_failed_job(workload):
    p = _run(workload, 0)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def _import_layers(m, truth):
    assert m["discovery.issues"] == truth["issues"] + truth["import_errors"]
    assert m["importers.error_rows"] == truth["import_errors"]
    assert m["validate.rows_rejected"] == truth["rejected_pages"]
    assert m["importers.busy_s"] > 0 and m["sinks.files_written"] > 0
    assert m["readers.busy_s"] == 0 and m["text_arrow.busy_s"] == 0


def _rebuild_layers(m, truth):
    assert m["rebuild_solr.cis_out"] + m["rebuild_solr.problem_rows"] == truth["cis"]
    assert m["rebuild_passim.docs_out"] == m["rebuild_solr.cis_out"]
    assert m["readers.busy_s"] > 0 and m["sinks.files_written"] > 0
    assert m["importers.busy_s"] == 0 and m["text_arrow.busy_s"] == 0


def _corpus_layers(m, truth):
    assert 0 < m["text_arrow.kept_share"] < 1
    assert m["dedup.docs_dropped"] > 0
    assert m["dedup.line_busy_s"] > 0 and m["dedup.doc_busy_s"] > 0
    assert m["importers.busy_s"] == 0 and m["readers.busy_s"] == 0


LAYER_CHECKS = {
    "import_mets_alto": _import_layers,
    "rebuild_canonical": _rebuild_layers,
    "corpus_prepare": _corpus_layers,
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_per_layer_metric(workload):
    p = _run(workload, 1)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    truth = json.loads(lines[-2])["record"]["truth"]
    LAYER_CHECKS[workload](m, truth)
    assert m["session.get_spark_s"] > 0 and m["spark.tasks"] > 0


def test_without_the_program_it_fails_without_a_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "benchmark"), tmp_path / "benchmark")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("import_mets_alto", 0, cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
