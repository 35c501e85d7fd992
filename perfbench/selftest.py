"""Self-test of the benchmark at tiny sizes (about 200 conversations for
``ingest``, the sf0.001 tables for ``serve_mix``). Run from the root of a
checkout:

    python3 -m pytest -q -p no:cacheprovider perfbench/selftest.py

It checks that every metric is printed by name with its unit, that a
deliberately dropped triple counts as a failed operation, and that traced
spans carry name, start, end and parent and reconcile with the untraced
walls. Each test starts its own Spark driver, so the file takes a few
minutes.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

import metrics  # noqa: E402
import run  # noqa: E402

TINY_INGEST = {"base_convs": 150, "drop_convs": 25, "min_drops": 1,
               "max_drops": 2}
TINY_SERVE = {"sf_dir": os.path.join(os.path.dirname(os.path.abspath(
    __file__)), "data", "sf0.001")}
TRACE_BOUND = 0.25     # the largest bound BENCHMARK.json allows


def _run(workload, trace, sizes):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res = run.run(workload, 7, 1, trace, sizes)
        run.report(workload, res, trace)
        print(json.dumps(run.result_line(res, trace)))
    return res, buf.getvalue().splitlines()


def _assert_named_with_units(lines, expected):
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        n: u for n, u, _ in expected}
    for n, u, _ in expected:
        assert any(line.startswith("#") and f" {n} = " in line
                   and line.split(" = ", 1)[1].split()[1] == u
                   for line in lines[:-1]), n
    return result


def test_benchmark_json_matches_metrics():
    with open(os.path.join(run.common.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]
            ] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]
            ] == metrics.per_layer()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_ingest_untraced_prints_every_metric():
    res, lines = _run("ingest", False, TINY_INGEST)
    result = _assert_named_with_units(lines, metrics.END_TO_END)
    assert result["correct"] and result["failed"] == 0
    assert all(m["value"] > 0 for m in result["metrics"].values())
    for n, _, _ in metrics.END_TO_END:
        assert any(f"e2e {n} = " in ln and "(n=" in ln for ln in lines)


def test_ingest_traced_spans_reconcile():
    res, lines = _run("ingest", True, TINY_INGEST)
    result = _assert_named_with_units(lines, metrics.per_layer())
    assert result["correct"]
    spans = res["tracer"].spans
    ids = {s["id"] for s in spans}
    for s in spans:
        assert s["name"] and s["start"] <= s["end"]
        assert s["parent"] is None or s["parent"] in ids
    staged = [s for s in spans if s["name"] == "ingest.cold_load_staged"]
    stages = [s for s in spans if s["parent"] == staged[0]["id"]]
    assert [s["name"] for s in stages] == list(metrics.BATCH_STAGES)
    assert sum(s["wall_s"] for s in stages) <= staged[0]["wall_s"]
    layer = res["layer"]
    assert abs(layer["bench.trace_overhead_share"]) <= TRACE_BOUND
    assert 1 - TRACE_BOUND <= layer["bench.span_coverage"] <= 1
    assert layer["pipeline.run_pipeline.jobs"] > 0
    assert layer["extraction_vec.extract_records_vec.tasks"] > 0


def test_dropped_triple_counts_as_failed(monkeypatch):
    """kg_payment_facts serves one row per PAID triple; dropping one row
    must fail the cold call's oracle check and no other."""
    import serve

    setup = serve.ServeMix.setup

    def setup_dropping_one(self, spark):
        setup(self, spark)
        fn = self.fns["kg_payment_facts"]
        self.fns["kg_payment_facts"] = lambda s, d: fn(s, d).offset(1)

    monkeypatch.setattr(serve.ServeMix, "setup", setup_dropping_one)
    res, lines = _run("serve_mix", False, TINY_SERVE)
    result = json.loads(lines[-1])
    assert not result["correct"]
    cold_fails = [ln for ln in lines if ln.startswith("# check failed")
                  and "(cold)" in ln]
    assert len(cold_fails) == 1 and "kg_payment_facts" in cold_fails[0]


if __name__ == "__main__":
    sys.exit(pytest.main(["-q", "-p", "no:cacheprovider", __file__]))
