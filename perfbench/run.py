"""KG engine benchmark: one workload per invocation, run from the root of a
checkout.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads: ``ingest`` (batch initial load, then incremental drops; see
ingest.py) and ``serve_mix`` (KG build, then a cold and warm query mix; see
serve.py). Each run uses one driver process, a fresh ``local[nproc]``
session, one client thread and its own temp directory, removed at the end.

Output: report lines starting with ``#`` (host metadata, every metric with
its unit and sample count, the workload's own detail metrics, failed
checks), then one JSON line with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A per-layer metric of a layer the workload does
not call reads 0. Traced runs also write their spans to
``.perfbench_out/spans_<workload>_s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import common
import metrics

WORKLOADS = ("ingest", "serve_mix")


def _workload(name):
    if name == "ingest":
        from ingest import Ingest
        return Ingest
    from serve import ServeMix
    return ServeMix


def span_coverage(tracer) -> float:
    """Share of the walls of spans with children that their children's
    walls cover."""
    parents = {s["id"]: s for s in tracer.spans
               if tracer.children(s["id"])}
    covered = sum(c["wall_s"] for s in parents.values()
                  for c in tracer.children(s["id"]))
    total = sum(s["wall_s"] for s in parents.values())
    return covered / total


def run(workload: str, seed: int, seconds: int, trace: bool,
        sizes: dict | None = None) -> dict:
    """Run one workload; returns the result object and report."""
    from tracer import Tracer

    stale = common.clean_stale_run_dirs()
    run_dir = common.new_run_dir()
    host_start = common.host_meta()
    spark = None
    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    try:
        wl = _workload(workload)(run_dir, seed, sizes)
        phase("inputs_s")
        tracer = Tracer(enabled=trace)
        spark, session_s = common.start_spark(run_dir)
        tracer.attach(spark)
        t0 = time.perf_counter()
        wl.setup(spark)
        setup_s = session_s + time.perf_counter() - t0
        phase("setup_s")
        out = wl.run(tracer, seconds, trace)
        phase("timed_s")
        wl.check(out)
        phase("check_s")
        layer = {}
        if trace:
            layer = wl.layers(tracer, out, common.nproc())
            layer["session.get_spark.wall_s"] = session_s
            layer["bench.span_coverage"] = span_coverage(tracer)
        rss = common.peak_rss_mb(spark)
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    phase("stop_s")
    walls = out["op_walls"]
    if not walls:
        raise RuntimeError("no operation completed")
    e2e = {"setup_s": setup_s, "cold_s": out["cold_s"],
           "op_p50_s": common.median(walls)}
    counts = {"setup_s": 1, "cold_s": 1, "op_p50_s": len(walls)}
    out["detail"]["peak_rss_mb"] = (rss, "MB", 1)
    return {
        "out": out, "e2e": e2e, "counts": counts, "layer": layer,
        "tracer": tracer,
        "host": {"start": host_start, "end": common.host_meta(),
                 "stale_run_dirs_removed": stale, "phases": phases},
    }


def result_line(res: dict, trace: bool) -> dict:
    out = res["out"]
    if trace:
        ms = {n: {"value": float(res["layer"].get(n, 0.0)), "unit": u}
              for n, u, _ in metrics.per_layer()}
    else:
        ms = {n: {"value": float(res["e2e"][n]), "unit": u}
              for n, u, _ in metrics.END_TO_END}
    return {"correct": out["failed"] == 0, "attempted": out["attempted"],
            "failed": out["failed"], "metrics": ms}


def report(workload: str, res: dict, trace: bool) -> None:
    out = res["out"]
    print(f"# workload {workload} host {json.dumps(res['host'])}")
    for n, u, _ in metrics.END_TO_END:
        print(f"# e2e {n} = {res['e2e'][n]:.6g} {u} (n={res['counts'][n]})")
    detail = dict(out["detail"])
    detail["failed_ops_ratio"] = (out["failed"] / out["attempted"], "ratio",
                                  out["attempted"])
    for n, (v, u, k) in sorted(detail.items()):
        print(f"# detail {n} = {v:.6g} {u} (n={k})")
    if trace:
        for n, u, _ in metrics.per_layer():
            print(f"# layer {n} = {res['layer'].get(n, 0.0):.6g} {u}")


def _write_spans(workload: str, seed: int, tracer) -> None:
    os.makedirs(common.OUT_ROOT, exist_ok=True)
    path = os.path.join(common.OUT_ROOT, f"spans_{workload}_s{seed}.json")
    with open(path, "w") as f:
        json.dump(tracer.spans, f, default=str)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, common.ROOT)
    import owl_n4j_spark  # noqa: F401 - fails fast outside a checkout

    trace = args.trace == 1
    res = run(args.workload, args.seed, args.seconds, trace)
    if trace:
        _write_spans(args.workload, args.seed, res["tracer"])
    report(args.workload, res, trace)
    print(json.dumps(result_line(res, trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
