"""Smoke test of the benchmark at tiny scale (a few minutes: each run
starts its own Spark session).

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import LAYERS, layer_of  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    CONTRACT = json.load(f)
with open(os.path.join(HERE, "spec.json")) as f:
    WORKLOADS = list(json.load(f)["workloads"])  # including ingest_pdf, which BENCHMARK.json leaves out
SEED = 1
# The layers each workload's traced ops call into.
EXPECTED_LAYERS = {
    "ingest_pdf": {"sources.pdf", "functions.text", "functions.embed", "operators.ingest"},
    "serve_mixed": {"sources.pdf", "functions.text", "functions.embed", "operators.ingest",
                    "operators.status", "operators.knn", "operators.serving"},
    "retrieve_batch": {"operators.knn", "arrow"},
}


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    proc = bench(workload, 0)
    out = result(proc)
    assert out["correct"] and out["failed"] == 0, proc.stderr[-3000:]
    for m in CONTRACT["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]
        assert re.search(rf"^  {re.escape(m['name'])} = \S+ {re.escape(m['unit'])} \(n=\d+\)$", proc.stdout, re.M)
    assert set(out["metrics"]) == {m["name"] for m in CONTRACT["end_to_end"]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_layers_and_writes_spans(workload):
    out = result(bench(workload, 1))
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in CONTRACT["per_layer"]}
    with open(os.path.join(ROOT, ".perfbench", "spans", f"{workload}-seed{SEED}.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    layers = {layer_of(s["name"]) for s in spans}
    assert EXPECTED_LAYERS[workload] | {"session"} <= layers
    for s in spans:
        assert s["end"] >= s["start"] and "request" in s and "parent" in s
    for layer in EXPECTED_LAYERS[workload]:
        assert any(v["value"] > 0 for m, v in out["metrics"].items() if m.startswith(layer + ".")), layer


def test_every_layer_is_covered_by_some_workload():
    assert set().union(*EXPECTED_LAYERS.values()) | {"session"} == set(LAYERS)


@pytest.mark.parametrize("workload", ["serve_mixed", "retrieve_batch"])
def test_wrong_top5_counts_as_failed(workload):
    out = result(bench(workload, 0, "--inject-wrong-topk"))
    assert out["failed"] == 1 and not out["correct"]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("serve_mixed", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_contract_shape():
    assert set(CONTRACT) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in CONTRACT["workloads"]} <= set(WORKLOADS)
    names = [m["name"] for m in CONTRACT["end_to_end"] + CONTRACT["per_layer"]] + [w["name"] for w in CONTRACT["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    for m in CONTRACT["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": max(m["bound"] for m in CONTRACT["end_to_end"])} in CONTRACT["end_to_end"]
    for m in CONTRACT["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
    for w in CONTRACT["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
