"""Tests of the benchmark itself, at the 1,500-order (sf0.001-sized) input.

Run from the repository root:  python3 -m pytest perfbench/tests -q
Each end-to-end case starts its own Spark driver (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(BENCH, "run.py"),
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--orders", "1500", *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def test_inputs_are_a_function_of_the_seed():
    a, b = gen.make_tables(300, 5), gen.make_tables(300, 5)
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    assert not gen.make_tables(300, 6)["lineitem"].equals(a["lineitem"])
    assert a["orders"].num_rows == 300 and a["lineitem"].num_rows == 1200


def test_compare_counts_row_overlap_and_honours_expected_hash():
    want = (["a"], ["1", "2", "2"])
    got = (["a"], ["2", "1", "3"])
    v = checks.compare(got, want)
    assert not v["ok"] and v["matched"] == 2 and v["n_got"] == 3
    assert checks.compare(want, want)["ok"]
    assert not checks.compare(want, want, expected_hash="0" * 32)["ok"]


@pytest.mark.parametrize("workload", ["warehouse", "graph_query"])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    record, result = _run(workload, 0)
    names = {m["name"] for m in _spec()["end_to_end"]}
    assert set(result["metrics"]) == names
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert all(result["metrics"][n]["value"] > 0 for n in names)
    assert result["metrics"]["precision"]["value"] == 1.0
    assert result["metrics"]["recall"]["value"] == 1.0
    assert record["env"]["cores"] == 4 and record["cpu_per_wall"] > 0


def test_traced_warehouse_reports_every_stage():
    _, result = _run("warehouse", 1)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == {x["name"] for x in _spec()["per_layer"]}
    assert result["correct"]
    for name in ("extraction.extraction", "graph.materialize.edges"):
        assert m[f"{name}.wall_s"] > 0 and m[f"{name}.rows"] > 0
        assert m[f"merge.{name}.wall_s"] > 0
    assert m["extraction.extraction.cpu_s"] > 0
    assert m["trace.overhead_s"] > 0 and m["pipeline.lineage_s"] > 0
    assert 0 < m["linking.fuzzy_accept_ratio"] <= 1


def test_traced_graph_query_counts_a_wrong_expected_hash_as_failure():
    _, result = _run("graph_query", 1, "--expect", "kg_gq_tool_callers=" + "0" * 32)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert result["failed"] == 1 and not result["correct"]
    assert all(m[f"graph.query.{n}.p50_s"] > 0 for n in (
        "kg_gq_tool_callers", "kg_gq_supplier_upstream", "kg_gq_customer_orbit",
    ))
    assert m["graph.query.kg_gq_supplier_upstream.shuffle_mb"] > 0
