"""Seeded inputs and ground truth, generated outside every timed region and
cached under ``.perfbench_cache/`` by seed and size.

The ingest corpus is the repository's own seeded generator
(``synth.generate_corpus_pandas``): intro SAME_AS turns, name typos, second
devices, Zipf hub speakers and 2% duplicate rows, with expected triples and
expected identity components as ground truth. Conversations never span two
drops, so the base load plus any prefix of the drops is a complete corpus
for its conversations.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from common import CACHE_ROOT

TRIPLE_COLS = ["subj_key", "pred", "obj_key", "conv_id", "turn_idx"]
SERVE_SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "sf0.01")


def ingest_corpus(seed: int, base_convs: int, drop_convs: int,
                  max_drops: int) -> dict[str, pd.DataFrame]:
    """transcripts (with a ``part`` column: 0 = base, k = drop k),
    expected_triples, alias_dict and expected_components."""
    key = f"ingest_s{seed}_b{base_convs}_d{drop_convs}x{max_drops}"
    path = os.path.join(CACHE_ROOT, key)
    names = ("transcripts", "expected_triples", "alias_dict",
             "expected_components")
    if not os.path.isdir(path):
        from owl_n4j_spark.synth import generate_corpus_pandas

        corpus = generate_corpus_pandas(base_convs + drop_convs * max_drops,
                                        seed=seed)
        idx = corpus["transcripts"]["conv_id"].str.slice(5).astype(int)
        corpus["transcripts"]["part"] = (
            (idx - base_convs) // drop_convs + 1).clip(lower=0)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        for n in names:
            write_parquet(corpus[n], os.path.join(tmp, f"{n}.parquet"))
        try:
            os.rename(tmp, path)
        except OSError:          # another run committed the same inputs
            shutil.rmtree(tmp, ignore_errors=True)
    return {n: pd.read_parquet(os.path.join(path, f"{n}.parquet"))
            for n in names}


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Write with microsecond timestamps, the resolution Spark reads."""
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def parquet_files(path: str) -> list[str]:
    return [f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                 recursive=True)
            if "/_" not in f[len(path):] and "/." not in f[len(path):]]


def parquet_rows(path: str) -> int:
    """Row count from parquet footers: no Spark job."""
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in parquet_files(path))


def read_table(path: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def triple_pr(got: pd.DataFrame, want: pd.DataFrame) -> tuple[float, float]:
    g = set(map(tuple, got[TRIPLE_COLS].astype(
        {"turn_idx": int}).values.tolist()))
    w = set(map(tuple, want[TRIPLE_COLS].astype(
        {"turn_idx": int}).values.tolist()))
    tp = len(g & w)
    return (tp / len(g) if g else 0.0), (tp / len(w) if w else 0.0)


def component_accuracy(mapping: pd.DataFrame,
                       expected: pd.DataFrame) -> float:
    """Share of observed member keys resolved to the fixture's canonical."""
    exp = dict(zip(expected["member_key"], expected["canonical_key"]))
    obs = mapping[mapping["raw_key"].isin(exp)]
    if obs.empty:
        return 0.0
    return float((obs["raw_key"].map(exp) == obs["canonical_key"]).mean())
