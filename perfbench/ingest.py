"""``ingest`` workload: a case's initial evidence dump is built into a KG in
batch, then transcript drops land one at a time and each is taken to a
committed KG before the next lands (closed loop, one producer).

- Cold operation: the base corpus goes through ``run_pipeline`` with a
  warehouse and the manifest on (extraction_vec, linking, canonicalize,
  materialize, staged parquet commits, the two-thread chain pool).
- Warm operations: each drop goes through
  ``streaming.run_incremental_extraction`` (availableNow), then
  ``add_thread_mentions``, then ``run_pipeline(records_df=..., warehouse=...,
  with_manifest=True)`` over the base records plus every landed drop. The
  drop's latency runs from the file landing to the pipeline's return, when
  its nodes and edges are committed.

Traced runs add, after the untraced cold load, the same base corpus taken
through the public stage functions one at a time, composed as
``run_pipeline`` composes them and each committed by one write, so every
build layer gets its own span. Drops are traced as stream extraction, the
pipeline with the manifest off, and the manifest records written by the
benchmark on the same stage outputs the pipeline records.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

import inputs
from common import median
from metrics import BATCH_QUANTITIES, BATCH_STAGES, DROP_SPANS

SIZES = {"base_convs": 300, "drop_convs": 100, "min_drops": 2,
         "max_drops": 4}
CASE_ID = "case-001"
MIN_P_R = 0.95
MIN_COMPONENT_ACCURACY = 0.98

RECORD_COLS = ["conv_id", "turn_idx", "kind", "surface", "mention_key",
               "mention_type", "subj_key", "pred", "obj_key", "amount",
               "date", "ts"]


def _commit(spark, df, path):
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _staged_build(spark, tracer, transcripts, alias_dict, wh):
    """The batch build through the public stage functions, one span each.
    Returns {span name: committed output dirs}."""
    from owl_n4j_spark.operators.canonicalize import canonical_mapping
    from owl_n4j_spark.operators.extraction_vec import extract_records_vec
    from owl_n4j_spark.operators.linking import build_key_mapping, remap_keys
    from owl_n4j_spark.operators.materialize import (
        build_edges, build_nodes, enforce_referential)
    from owl_n4j_spark.pipeline import normalize_transcripts

    p = {n: os.path.join(wh, n) for n in (
        "t01_normalized", "t02_records", "link_map", "t03_mapping",
        "t04_mentions", "t05_triples", "t06_nodes", "t07_edges")}
    with tracer.span(BATCH_STAGES[0]):
        clean = _commit(spark, normalize_transcripts(transcripts),
                        p["t01_normalized"])
    with tracer.span(BATCH_STAGES[1]):
        records = _commit(spark, extract_records_vec(clean), p["t02_records"])
    mentions_raw = records.filter(F.col("kind") == "mention")
    triples_raw = records.filter(F.col("kind") == "triple")
    sameas_raw = records.filter(F.col("kind") == "sameas")
    with tracer.span(BATCH_STAGES[2]):
        null = F.lit(None).cast("string").alias("mention_type")
        mention_keys = (
            mentions_raw.select(F.col("mention_key").alias("raw_key"),
                                "mention_type")
            .unionByName(sameas_raw.select(F.col("subj_key").alias("raw_key"),
                                           null))
            .unionByName(sameas_raw.select(F.col("obj_key").alias("raw_key"),
                                           null))
            .filter(F.col("raw_key").isNotNull())
            .dropDuplicates(["raw_key"]))
        link_map = _commit(spark, build_key_mapping(mention_keys, alias_dict),
                           p["link_map"])
    with tracer.span(BATCH_STAGES[3]):
        final = _commit(spark, canonical_mapping(link_map, sameas_raw),
                        p["t03_mapping"])
    with tracer.span(BATCH_STAGES[4]):
        mentions = _commit(spark, remap_keys(mentions_raw, final,
                                             ["mention_key"]),
                           p["t04_mentions"])
        base = (remap_keys(triples_raw, final, ["subj_key", "obj_key"])
                .select("subj_key", "pred", "obj_key", "conv_id", "turn_idx",
                        "ts", "amount", "date")
                .dropDuplicates(["subj_key", "pred", "obj_key", "conv_id",
                                 "turn_idx"]))
        participated = (
            base.filter(F.col("pred") == "SENT_MESSAGE")
            .groupBy("conv_id", "subj_key", "obj_key")
            .agg(F.min("turn_idx").alias("turn_idx"), F.min("ts").alias("ts"))
            .select("subj_key", F.lit("PARTICIPATED_IN").alias("pred"),
                    "obj_key", "conv_id", "turn_idx", "ts",
                    F.lit(None).cast("string").alias("amount"),
                    F.lit(None).cast("string").alias("date")))
        triples = _commit(spark, base.unionByName(participated),
                          p["t05_triples"])
    with tracer.span(BATCH_STAGES[5]):
        nodes = _commit(spark, build_nodes(mentions, final, CASE_ID),
                        p["t06_nodes"])
    with tracer.span(BATCH_STAGES[6]):
        valid, _ = enforce_referential(build_edges(triples, CASE_ID), nodes,
                                       count_drops=False)
        _commit(spark, valid, p["t07_edges"])
    return {
        BATCH_STAGES[0]: [p["t01_normalized"]],
        BATCH_STAGES[1]: [p["t02_records"]],
        BATCH_STAGES[2]: [p["link_map"]],
        BATCH_STAGES[3]: [p["t03_mapping"]],
        BATCH_STAGES[4]: [p["t04_mentions"], p["t05_triples"]],
        BATCH_STAGES[5]: [p["t06_nodes"]],
        BATCH_STAGES[6]: [p["t07_edges"]],
    }


def _record_manifest(spark, res, warehouse):
    """What ``run_pipeline`` records for a records_df run, recorded by the
    benchmark on the committed stage outputs."""
    from owl_n4j_spark.manifest import ManifestWriter
    from owl_n4j_spark.operators.materialize import build_edges

    mw = ManifestWriter(spark, path=os.path.join(warehouse, "manifest"))
    n_valid = res["edges"].count()
    n_all = build_edges(res["triples"], CASE_ID).count()
    mw.record("edges_referential", in_rows=n_all, out_rows=n_valid,
              quarantined=n_all - n_valid, per_partition=False)
    n_records = res["records"].count()
    mw.record("extract_external", in_rows=n_records, out_df=res["records"])
    mw.record("link_canonicalize", in_rows=res["mapping"].count(),
              out_df=res["mapping"])
    mw.record("triples", in_rows=n_records, out_df=res["triples"])
    mw.record("materialize_nodes", in_rows=res["mentions"].count(),
              out_df=res["nodes"])
    mw.flush()


def _check(wh, truth, convs, out, label):
    """Triple P/R and component accuracy of the KG committed in ``wh``
    against the ground truth of the conversations ``convs``. Returns True
    if both meet their floors."""
    want = truth["expected_triples"]
    want = want[want["conv_id"].isin(convs)]
    got = inputs.read_table(os.path.join(wh, "t05_triples"),
                            inputs.TRIPLE_COLS)
    precision, recall = inputs.triple_pr(got, want)
    mapping = inputs.read_table(os.path.join(wh, "t03_mapping"),
                                ["raw_key", "canonical_key"])
    acc = inputs.component_accuracy(mapping, truth["expected_components"])
    out[f"{label}_triple_precision"] = (precision, "ratio", 1)
    out[f"{label}_triple_recall"] = (recall, "ratio", 1)
    out[f"{label}_component_accuracy"] = (acc, "ratio", 1)
    ok = (precision >= MIN_P_R and recall >= MIN_P_R
          and acc >= MIN_COMPONENT_ACCURACY)
    if not ok:
        print(f"# check failed: {label} KG: precision {precision:.4f}, "
              f"recall {recall:.4f}, component accuracy {acc:.4f}")
    return ok


class Ingest:
    def __init__(self, run_dir, seed, sizes=None):
        self.sizes = dict(SIZES, **(sizes or {}))
        self.truth = inputs.ingest_corpus(
            seed, self.sizes["base_convs"], self.sizes["drop_convs"],
            self.sizes["max_drops"])
        tr = self.truth["transcripts"]
        self.dirs = {n: os.path.join(run_dir, n) for n in (
            "staging", "stream_in", "stream_out", "checkpoint", "wh_base",
            "wh_inc", "wh_staged", "wh_ref")}
        for n in ("staging", "stream_in"):
            os.makedirs(self.dirs[n])
        self.part_turns, self.part_convs = {}, {}
        for part, pdf in tr.groupby("part"):
            path = os.path.join(self.dirs["staging"], f"part_{part}.parquet")
            inputs.write_parquet(pdf.drop(columns="part"), path)
            self.part_turns[int(part)] = len(pdf)
            self.part_convs[int(part)] = set(pdf["conv_id"])
        self.alias_path = os.path.join(run_dir, "alias_dict.parquet")
        inputs.write_parquet(self.truth["alias_dict"], self.alias_path)

    def setup(self, spark):
        """Program set-up before the first timed call: bind the landed base
        dump and the alias dictionary."""
        self.spark = spark
        self.transcripts = spark.read.parquet(
            os.path.join(self.dirs["staging"], "part_0.parquet"))
        self.alias_dict = spark.read.parquet(self.alias_path)

    def run(self, tracer, seconds, trace):
        spark, d = self.spark, self.dirs
        from owl_n4j_spark.pipeline import run_pipeline

        out = {"attempted": 1, "failed": 0, "detail": {}, "layers": {}}
        t0 = time.perf_counter()
        run_pipeline(spark, self.transcripts, alias_dict=self.alias_dict,
                     warehouse=d["wh_base"], with_manifest=True)
        out["cold_s"] = time.perf_counter() - t0
        if trace:
            # The staged build runs warm, so it is reconciled against a
            # second, warm untraced build rather than the cold one.
            with tracer.span("ingest.cold_load_staged"):
                out["staged_dirs"] = _staged_build(
                    spark, tracer, self.transcripts, self.alias_dict,
                    d["wh_staged"])
            t0 = time.perf_counter()
            run_pipeline(spark, self.transcripts, alias_dict=self.alias_dict,
                         warehouse=d["wh_ref"], with_manifest=True)
            out["warm_load_s"] = time.perf_counter() - t0
        base_records = spark.read.parquet(
            os.path.join(d["wh_base"], "t02_records")).select(*RECORD_COLS)
        walls, landed = [], [0]
        t_warm = time.perf_counter()
        for k in range(1, self.sizes["max_drops"] + 1):
            if (k > self.sizes["min_drops"]
                    and time.perf_counter() - t_warm >= seconds):
                break
            out["attempted"] += 1
            os.rename(os.path.join(d["staging"], f"part_{k}.parquet"),
                      os.path.join(d["stream_in"], f"part_{k}.parquet"))
            t0 = time.perf_counter()
            try:
                if trace:
                    self._drop_traced(tracer, base_records, k)
                else:
                    self._drop(base_records)
            except Exception:   # noqa: BLE001 - counted, reported, loop ends
                import traceback
                traceback.print_exc()
                out["failed"] += 1
                break
            walls.append(time.perf_counter() - t0)
            landed.append(k)
        out["op_walls"] = walls
        out["landed"] = landed
        return out

    def _records(self, base_records):
        from owl_n4j_spark.operators.extraction import add_thread_mentions

        streamed = self.spark.read.parquet(self.dirs["stream_out"])
        return base_records.unionByName(
            add_thread_mentions(streamed.select(*RECORD_COLS)))

    def _drop(self, base_records):
        from owl_n4j_spark.pipeline import run_pipeline
        from owl_n4j_spark.streaming.incremental import (
            run_incremental_extraction)

        d = self.dirs
        run_incremental_extraction(self.spark, d["stream_in"],
                                   d["stream_out"], d["checkpoint"])
        run_pipeline(self.spark, None, alias_dict=self.alias_dict,
                     records_df=self._records(base_records),
                     warehouse=d["wh_inc"], with_manifest=True)

    def _drop_traced(self, tracer, base_records, k):
        from owl_n4j_spark.pipeline import run_pipeline
        from owl_n4j_spark.streaming.incremental import (
            run_incremental_extraction)

        d = self.dirs
        rows_before = inputs.parquet_rows(d["stream_out"])
        with tracer.span("ingest.drop", turns=self.part_turns[k]):
            with tracer.span("streaming.run_incremental_extraction") as s:
                run_incremental_extraction(self.spark, d["stream_in"],
                                           d["stream_out"], d["checkpoint"])
            records = self._records(base_records)
            with tracer.span("pipeline.run_pipeline"):
                res = run_pipeline(self.spark, None,
                                   alias_dict=self.alias_dict,
                                   records_df=records, warehouse=d["wh_inc"],
                                   with_manifest=False)
            with tracer.span("manifest.ManifestWriter.record"):
                _record_manifest(self.spark, res, d["wh_inc"])
        s["rows_out"] = inputs.parquet_rows(d["stream_out"]) - rows_before
        s["turns_per_s"] = self.part_turns[k] / s["wall_s"]

    def check(self, out):
        """Output checks, outside every timed region."""
        d, detail = self.dirs, out["detail"]
        if not _check(d["wh_base"], self.truth, self.part_convs[0], detail,
                      "cold"):
            out["failed"] += 1
        if len(out["landed"]) > 1:
            convs = set().union(*(self.part_convs[k] for k in out["landed"]))
            if not _check(d["wh_inc"], self.truth, convs, detail, "final"):
                out["failed"] += 1
        if "staged_dirs" in out:
            out["attempted"] += 1
            for t in ("t05_triples", "t06_nodes", "t07_edges"):
                if (inputs.parquet_rows(os.path.join(d["wh_staged"], t))
                        != inputs.parquet_rows(os.path.join(d["wh_base"], t))):
                    print(f"# check failed: staged build {t} rows differ")
                    out["failed"] += 1
                    break
        base_turns = self.part_turns[0]
        detail["batch_turns_per_s"] = (base_turns / out["cold_s"], "1/s", 1)
        if out["op_walls"]:
            detail["drop_to_kg_p50_s"] = (median(out["op_walls"]), "s",
                                          len(out["op_walls"]))
        detail["base_turns"] = (base_turns, "count", 1)
        detail["drop_turns"] = (sum(self.part_turns[k]
                                    for k in out["landed"][1:]), "count",
                                len(out["landed"]) - 1)

    def layers(self, tracer, out, nproc):
        layer = {}
        for stage, dirs in out["staged_dirs"].items():
            s = tracer.named(stage)[0]
            s["rows_out"] = sum(inputs.parquet_rows(p) for p in dirs)
            for q in BATCH_QUANTITIES:
                layer[f"{stage}.{q}"] = _quantity(s, q, nproc)
        wh = self.dirs["wh_staged"]
        rows = {t: inputs.parquet_rows(os.path.join(wh, t))
                for t in ("t01_normalized", "t02_records")}
        layer["extraction_vec.records_per_turn"] = (rows["t02_records"]
                                                    / rows["t01_normalized"])
        method = inputs.read_table(os.path.join(wh, "link_map"),
                                   ["method"])["method"].value_counts()
        missed = method.get("fuzzy", 0) + method.get("self", 0)
        layer["linking.exact_share"] = method.get("exact", 0) / method.sum()
        layer["linking.fuzzy_accept_ratio"] = (method.get("fuzzy", 0)
                                               / missed if missed else 0.0)
        mapping = inputs.read_table(os.path.join(wh, "t03_mapping"),
                                    ["canonical_key", "link_key"])
        layer["canonicalize.merged_share"] = float(
            (mapping["link_key"] != mapping["canonical_key"]).mean())
        layer["canonicalize.max_component_size"] = int(
            mapping.groupby("canonical_key").size().max())
        for name, quantities in DROP_SPANS.items():
            spans = tracer.named(name)
            for q in quantities:
                layer[f"{name}.{q}"] = median(
                    [_quantity(s, q, nproc) for s in spans])
        staged = tracer.named("ingest.cold_load_staged")[0]["wall_s"]
        layer["bench.trace_overhead_share"] = staged / out["warm_load_s"] - 1
        return layer


def _quantity(span, q, nproc):
    if q == "busy_share":
        return span["executor_run_s"] / (span["wall_s"] * nproc)
    return span[q]
