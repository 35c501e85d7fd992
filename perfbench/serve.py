"""``serve_mix`` workload: the read side. Closed loop, one client.

Set-up builds the events-derived KG through ``kg_analytics.kg_result``
(warehouse and manifest on: the flagship path). The client then runs a cold
pass over 17 registered queries, which pays every per-session shared-table
build, followed by warm passes over the 10 lookups, each in a seed-shuffled
order. Every call is consumed with ``toPandas()``, as a Python client would.

The events, documents and embeddings tables are fixed (the sf0.01 driver
tables, copied under ``data/``), so the seed only shuffles the call order.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import time

import inputs
from common import CACHE_ROOT, median, percentile
from metrics import ANALYTICS, LOOKUPS, query_span

QUERIES = LOOKUPS + ANALYTICS
MIN_LOOKUP_PASSES = 3    # the median of three ignores one slow pass
P90_MIN_SAMPLES = 100    # p90 needs ten samples beyond it


def _oracle_rows(sql, sf_dir):
    """The oracle's rows on DuckDB over the serve tables, normalised as
    scripts_dev/check_oracles.py normalises them. The tables are fixed, so
    the rows are cached by the SQL text and the table files (a pickle this
    benchmark alone writes, under the checkout's cache directory)."""
    import duckdb
    import pandas as pd
    from scripts_dev.check_oracles import normalize

    files = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    h = hashlib.sha1(sql.encode())
    for f in files:
        h.update(f"|{os.path.basename(f)}:{os.path.getsize(f)}".encode())
    path = os.path.join(CACHE_ROOT, "oracle", f"{h.hexdigest()[:20]}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    with duckdb.connect() as con:
        for f in files:
            t = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
        want = normalize(con.execute(sql).df())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    want.to_pickle(tmp)
    os.replace(tmp, path)
    return want


def _oracle_mismatch(got, want) -> str | None:
    import pandas as pd
    from scripts_dev.check_oracles import normalize

    g = normalize(got)
    if list(g.columns) != list(want.columns):
        return f"columns {list(g.columns)} != {list(want.columns)}"
    if len(g) != len(want):
        return f"rows {len(g)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(g, want, check_dtype=False,
                                      check_exact=False, atol=1e-5, rtol=0)
    except AssertionError as e:
        return str(e).split("\n")[0]
    return None


class ServeMix:
    def __init__(self, run_dir, seed, sizes=None):
        self.sf_dir = (sizes or {}).get("sf_dir", inputs.SERVE_SF_DIR)
        self.rng = random.Random(seed)

    def setup(self, spark):
        """Program set-up before the first timed call: the KG build."""
        import __spark_entry__
        from owl_n4j_spark.plans.kg_analytics import kg_result

        self.spark = spark
        all_q = __spark_entry__.queries()
        self.fns = {q: all_q[q] for q in QUERIES}
        self.oracles = __spark_entry__.oracle_sql()
        t0 = time.perf_counter()
        kg_result(spark, self.sf_dir)["edges"].count()
        self.kg_result_s = time.perf_counter() - t0

    def _pass(self, tracer, queries, phase, traced):
        order = list(queries)
        self.rng.shuffle(order)
        calls = []
        for q in order:
            fn = self.fns[q]
            rec = {"query": q, "phase": phase, "traced": traced}
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span(query_span(q), phase=phase):
                        rec["result"] = fn(self.spark, self.sf_dir).toPandas()
                else:
                    rec["result"] = fn(self.spark, self.sf_dir).toPandas()
            except Exception:   # noqa: BLE001 - counted as a failed operation
                import traceback
                traceback.print_exc()
                rec["result"] = None
            rec["wall_s"] = time.perf_counter() - t0
            calls.append(rec)
        return calls

    def run(self, tracer, seconds, trace):
        """Cold pass over all 17 queries, then passes over the 10 lookups
        for ``seconds`` (at least three). A traced run instead makes two warm
        passes over all 17: one untraced, one traced, so the per-query warm
        spans and the tracing overhead come from the same run."""
        out = {"attempted": 0, "failed": 0, "detail": {}, "layers": {}}
        t0 = time.perf_counter()
        with tracer.span("serve.pass", phase="cold"):
            cold = self._pass(tracer, QUERIES, "cold", trace)
        out["cold_s"] = time.perf_counter() - t0
        warm: list[list[dict]] = []
        if trace:
            warm.append(self._pass(tracer, QUERIES, "warm", False))
            with tracer.span("serve.pass", phase="warm"):
                warm.append(self._pass(tracer, QUERIES, "warm", True))
        else:
            t_warm = time.perf_counter()
            while (len(warm) < MIN_LOOKUP_PASSES
                   or time.perf_counter() - t_warm < seconds):
                warm.append(self._pass(tracer, LOOKUPS, "warm", False))
        out["cold"], out["warm"] = cold, warm
        # The warm operation is one pass over the 10 lookups: a per-call
        # median sits between whichever two lookups straddle it, and so
        # jumps between runs.
        out["op_walls"] = [sum(c["wall_s"] for c in p if c["query"] in LOOKUPS)
                           for p in warm]
        return out

    def check(self, out):
        """Cold pass: each query against its DuckDB oracle. Warm passes:
        each call returns the cold call's columns and row count."""
        cold_rows = {}
        for c in out["cold"]:
            out["attempted"] += 1
            got = c.pop("result")
            bad = "raised" if got is None else None
            if bad is None and c["query"] in self.oracles:
                bad = _oracle_mismatch(got, _oracle_rows(
                    self.oracles[c["query"]], self.sf_dir))
            elif bad is None and got.empty:
                bad = "no rows"
            if bad:
                out["failed"] += 1
                print(f"# check failed: {c['query']} (cold): {bad}")
            else:
                cold_rows[c["query"]] = (list(got.columns), len(got))
        for p in out["warm"]:
            for c in p:
                out["attempted"] += 1
                got = c.pop("result")
                if got is None or cold_rows.get(c["query"]) != (
                        list(got.columns), len(got)):
                    out["failed"] += 1
                    print(f"# check failed: {c['query']} (warm)")
        self._detail(out)

    def _detail(self, out):
        d = out["detail"]
        d["serve_cold_s"] = (out["cold_s"], "s", len(out["cold"]))
        d["kg_build_s"] = (self.kg_result_s, "s", 1)
        lookups = [c["wall_s"] for p in out["warm"] for c in p
                   if c["query"] in LOOKUPS]
        d["lookup_p50_s"] = (median(lookups), "s", len(lookups))
        if len(lookups) >= P90_MIN_SAMPLES:
            d["lookup_p90_s"] = (percentile(lookups, 90), "s", len(lookups))
        passes = [sum(c["wall_s"] for c in p if c["query"] in ANALYTICS)
                  for p in out["warm"] if len(p) == len(QUERIES)]
        if passes:
            d["analytics_pass_s"] = (median(passes), "s", len(passes))

    def layers(self, tracer, out, nproc):
        layer = {"kg_analytics.kg_result.wall_s": self.kg_result_s}
        for q in QUERIES:
            spans = tracer.named(query_span(q))
            warm = [s for s in spans if s["phase"] == "warm"]
            layer[f"{query_span(q)}.warm_p50_s"] = median(
                [s["wall_s"] for s in warm])
            layer[f"{query_span(q)}.jobs"] = median([s["jobs"] for s in warm])
            if q in ANALYTICS:
                layer[f"{query_span(q)}.cold_s"] = next(
                    s["wall_s"] for s in spans if s["phase"] == "cold")
        walls = [sum(c["wall_s"] for c in p) for p in out["warm"]]
        untraced = [w for w, p in zip(walls, out["warm"]) if not p[0]["traced"]]
        traced = [w for w, p in zip(walls, out["warm"]) if p[0]["traced"]]
        layer["bench.trace_overhead_share"] = (median(traced)
                                               / median(untraced) - 1)
        return layer
