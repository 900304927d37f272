"""Smoke tests of the benchmark itself, at a tiny corpus size.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Each end-to-end test runs the command in a child process with the corpus
shrunk, exactly as the benchmark runs it otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import spec  # noqa: E402

TINY = "run.PIPELINE_DOCS = 60; "


def _bench(workload: str, trace: int, patch: str = "", seconds: int = 1,
           ) -> tuple[int, dict, list[str]]:
    """Run the benchmark on a tiny pipeline corpus; (exit code, result,
    metric lines)."""
    argv = ["run.py", "--workload", workload, "--seed", "3", "--seconds", str(seconds),
            "--trace", str(trace)]
    code = (f"import sys; sys.path.insert(0, {HERE!r}); import run; {TINY}{patch}"
            f"sys.argv = {argv!r}; sys.exit(run.main())")
    proc = subprocess.run([sys.executable, "-c", code], cwd=run.ROOT, text=True,
                          stdout=subprocess.PIPE, timeout=600, check=False)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]), lines[:-1]


def _printed(lines: list[str]) -> dict[str, tuple[float, str]]:
    out = {}
    for line in lines:
        name, value, unit = line.split(" ")
        out[name] = (float(value), unit)
    return out


def test_benchmark_json_matches_spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec.benchmark_json()


@pytest.mark.parametrize("workload", list(spec.WORKLOADS))
def test_every_end_to_end_metric_printed_with_unit(workload):
    code, res, lines = _bench(workload, 0)
    assert code == 0 and res["correct"] and res["failed"] == 0
    printed = _printed(lines)
    assert {n: u for n, (_, u) in printed.items()} == {
        n: u for n, (u, _, _) in spec.END_TO_END.items()}
    assert res["metrics"] == {n: {"value": v, "unit": u} for n, (v, u) in printed.items()}
    assert all(v > 0 for v, _ in printed.values())


def test_traced_ledger_routes_and_reconciliation():
    code, res, lines = _bench("mixed_run", 1, seconds=10)
    assert code == 0 and res["correct"]
    m = _printed(lines)
    assert {n: u for n, (_, u) in m.items()} == {n: u for n, (u, _, _) in spec.PER_LAYER.items()}
    routes = sum(v for n, (v, _) in m.items() if n.startswith("route."))
    assert routes == m["classify.spans"][0] > 0
    layers = ("scan", "classify", "exchange", "extract", "assemble", "commit")
    artifact = max(glob.glob(os.path.join(run.WORK, "results", "mixed_run-s3-t1-*.json")),
                   key=os.path.getmtime)
    with open(artifact) as f:
        saved = json.load(f)
    # no layer has a negative self time, and the reconciliation compares
    # their sum with the run() walls measured with tracing off. At this size
    # the tracing overhead alone is over 10% of run(), so the 10% bound is
    # checked by the traced runs of the full corpus, not here.
    rec = saved["reconcile"]
    assert rec["negative"] == [], rec
    total = sum(m[f"{layer}.self_s"][0] for layer in layers)
    assert total == pytest.approx(rec["layer_sum_s"])
    assert rec["untraced_run_s"] == pytest.approx(statistics.median(saved["untraced_walls"]))
    assert rec["ok"] == (abs(rec["rel_gap"]) <= 0.10)
    spans = saved["spans"]
    assert len({s["trace_id"] for s in spans}) == 1
    assert {f"cut.{c}" for c in layers[:-1]} | {"run"} <= {s["name"] for s in spans}


def test_wrong_output_fails_the_gate():
    # ANALYSIS-mode OCR keeps only layout CONTENT blocks, so scanned PDFs
    # extract differently from the DETECTION-mode goldens
    patch = ("from cies_ocr_java_spark.plans import pipeline as pl; import workloads; "
             "workloads.MixedRun.call = lambda self: pl.run("
             "self.spark, self.docs, self.out, resume=False, ocr_mode='ANALYSIS'); ")
    code, res, _ = _bench("mixed_run", 0, patch)
    assert code == 1
    assert not res["correct"] and res["failed"] == res["attempted"]
    assert res["metrics"]["ops_ok_frac"]["value"] == 0.0


def test_wrong_registry_result_fails_the_gate():
    patch = ("from cies_ocr_java_spark.plans import queries; "
             "f = queries.QUERIES['dedup_exact']; "
             "queries.QUERIES['dedup_exact'] = lambda s, sf: f(s, sf).limit(0); ")
    code, res, _ = _bench("registry_dedup", 0, patch)
    assert code == 1 and not res["correct"]
    assert res["failed"] == res["attempted"] // len(spec.REGISTRY_NAMES)
