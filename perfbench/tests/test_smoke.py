"""Harness smoke test: every workload at a tiny size, untraced and traced.

Run from the checkout root (takes a few minutes on 4 cores):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
TABLES = ("repo_files", "graph_nodes", "graph_relations", "search_documents")


def run(workload: str, trace: int, tmp_path) -> tuple[dict, list[str], str]:
    spans = tmp_path / "spans.jsonl"
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "5",
         "--trace", str(trace), "--size", "smoke", "--spans-out", str(spans)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1], str(spans)


def check_result(res: dict, section: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    for v in res["metrics"].values():
        assert isinstance(v["value"], float) and v["value"] == v["value"]  # not NaN


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_prints_every_end_to_end_metric(workload, tmp_path):
    res, before, _ = run(workload, 0, tmp_path)
    check_result(res, "end_to_end")
    assert any(line.startswith("final_state_digest=") for line in before)
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_writes_spans_for_every_layer(workload, tmp_path):
    res, _, spans_path = run(workload, 1, tmp_path)
    check_result(res, "per_layer")
    with open(spans_path) as fh:
        spans = [json.loads(line) for line in fh]
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    # work (tasks and executor CPU) is attributed to each layer's spans
    worked = ["dedup", "lake.read_for_keys", "lake.read_where"] + [
        f"lake.{phase}.{t}" for t in TABLES for phase in ("prepare", "compact")]
    for name in worked:
        assert name in by_name, name
        assert sum(s["tasks"] for s in by_name[name]) > 0, name
        assert sum(s["cpu_s"] for s in by_name[name]) > 0, name
    for name in ["pipeline.epoch", "operators.extract_entities",
                 "operators.nodes_from_entities", "operators.relations_from_entities",
                 "operators.docs_from_entities"] + [f"lake.commit.{t}" for t in TABLES]:
        assert name in by_name, name
    ids = {s["id"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    # an epoch's wall is its self time plus the time its children cover
    m = res["metrics"]
    assert 0 < m["pipeline.epoch_self_s"]["value"] < m["pipeline.epoch_s"]["value"]
    assert m["trace.overhead_s"]["value"] > 0


def test_run_without_the_engine_fails_without_a_result(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_mor",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
