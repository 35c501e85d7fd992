"""Names, units and directions of every metric the benchmark prints; the
single source BENCHMARK.json mirrors (the self-test checks they agree)."""

from __future__ import annotations

END_TO_END = (
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("cold_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
)

_UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "executor_run_s": "s",
    "gc_s": "s", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "rows_out": "count", "busy_share": "ratio", "turns_per_s": "1/s",
    "output_bytes": "bytes", "warm_p50_s": "s", "cold_s": "s",
    "records_per_turn": "ratio", "exact_share": "ratio",
    "fuzzy_accept_ratio": "ratio", "merged_share": "ratio",
    "max_component_size": "count", "trace_overhead_share": "ratio",
    "span_coverage": "ratio",
}
_HIGHER = {"busy_share", "turns_per_s", "rows_out", "records_per_turn",
           "exact_share", "fuzzy_accept_ratio", "merged_share",
           "span_coverage"}

BATCH_STAGES = (
    "pipeline.normalize_transcripts",
    "extraction_vec.extract_records_vec",
    "linking.build_key_mapping",
    "canonicalize.canonical_mapping",
    "linking.remap_keys",
    "materialize.build_nodes",
    "materialize.build_edges",
)
BATCH_QUANTITIES = ("wall_s", "jobs", "tasks", "executor_run_s", "gc_s",
                    "shuffle_write_bytes", "spill_bytes", "rows_out",
                    "busy_share")
BATCH_RATIOS = ("extraction_vec.records_per_turn", "linking.exact_share",
                "linking.fuzzy_accept_ratio", "canonicalize.merged_share",
                "canonicalize.max_component_size")
DROP_SPANS = {
    "streaming.run_incremental_extraction": (
        "wall_s", "jobs", "tasks", "rows_out", "turns_per_s", "output_bytes"),
    "pipeline.run_pipeline": (
        "wall_s", "jobs", "tasks", "executor_run_s", "output_bytes",
        "busy_share"),
    "manifest.ManifestWriter.record": ("wall_s", "jobs", "tasks"),
}
SETUP_SPANS = ("session.get_spark", "kg_analytics.kg_result")

LOOKUPS = ("kg_timeline_page", "kg_thread_stats", "kg_degree_topn",
           "kg_unified_contacts", "kg_entity_summaries", "kg_top_entities",
           "kg_payment_facts", "kg_mentioned_in", "kg_suggest_links",
           "q_graph_degree")
ANALYTICS = ("q_pagerank", "q_graph_cc", "q_louvain", "q_betweenness",
             "q_graph_triangles", "q_neardup_clusters", "kg_rag_answer")
_QUERY_MODULE = {"q_graph_degree": "graph_algos", "q_pagerank": "graph_algos",
                 "q_graph_cc": "graph_algos", "q_louvain": "graph_algos",
                 "q_betweenness": "graph_algos",
                 "q_graph_triangles": "graph_algos",
                 "q_neardup_clusters": "text"}


def query_span(query: str) -> str:
    """``plans.<module>.<query>``, e.g. plans.graph_algos.q_pagerank."""
    return f"plans.{_QUERY_MODULE.get(query, 'kg_analytics')}.{query}"


def per_layer_names() -> list[str]:
    names = [f"{s}.{q}" for s in BATCH_STAGES for q in BATCH_QUANTITIES]
    names += BATCH_RATIOS
    names += [f"{s}.{q}" for s, qs in DROP_SPANS.items() for q in qs]
    names += [f"{s}.wall_s" for s in SETUP_SPANS]
    for q in LOOKUPS + ANALYTICS:
        names += [f"{query_span(q)}.warm_p50_s", f"{query_span(q)}.jobs"]
    names += [f"{query_span(q)}.cold_s" for q in ANALYTICS]
    names += ["bench.trace_overhead_share", "bench.span_coverage"]
    return names


def per_layer() -> list[tuple[str, str, str]]:
    out = []
    for n in per_layer_names():
        q = n.rsplit(".", 1)[1]
        out.append((n, _UNITS[q], "higher" if q in _HIGHER else "lower"))
    return out
