"""The registry workload: oracle-paired queries from
``newscrawler_spark.queries`` over a fixed data set, each output fully
materialized, then checked against its DuckDB oracle.

Each query is timed up to its output collected on the driver, which
computes every output column.  ``count()`` would let the optimizer prune
projections nothing reads, pandas UDFs included, and time a different
plan.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

from newscrawler_spark.queries import ORACLES, QUERIES

from spans import Tracer

TABLES = ("documents", "embeddings", "events")
# A run must end within its time limit on 4 cores, so a pass is not all 79
# entries: it holds, for each of 16 operators/* modules, the cheapest query
# that calls it (at the data under perfbench/data).  The cheapest queries
# of the other four, cold pass + warm pass on 4 cores, would add about
# 15 s (seen_antijoin: seen, scheduling), 14 s (seen_cuckoo: cuckoo) and
# 9 s (kmeans_assign: clustering) to a run; the crawl workload runs the
# seen-set and scheduling code instead.
QUERY_NAMES = (
    "train_split", "multimodal_frames", "events_sessionize", "anchor_stats",
    "decontaminate_embed", "jaccard_pairs", "hashed_classifier", "lm_bigrams",
    "inverted_index", "length_quantiles", "media_manifest", "tfidf_terms",
    "shuffle_shards", "hll_distinct", "bpe_vocab",
)
OPERATOR_MODULES = (
    "classify", "corpusprep", "curation", "dedup", "events", "lmscore",
    "multimodal", "postings", "profiling", "projections", "retrieval",
    "sampling", "similarity", "sketches", "tokenizer", "webgraph",
)


def set_up(spark, data_dir: Path) -> None:
    """Scan every input column once: file listing, footers and the first
    jobs' code generation happen here, not in the first query."""
    for t in TABLES:
        spark.read.parquet(str(data_dir / f"{t}.parquet")).write.format(
            "noop").mode("overwrite").save()


def run_pass(spark, data_dir: Path, tracer: Tracer | None = None) -> dict:
    """Query name -> (seconds, output): each output is collected, which
    computes every column."""
    out = {}
    for name in QUERY_NAMES:
        t0 = time.time()
        if tracer is None:
            got = QUERIES[name](spark, str(data_dir)).toPandas()
        else:
            with tracer.span(f"registry.{name}"):
                got = QUERIES[name](spark, str(data_dir)).toPandas()
        out[name] = (time.time() - t0, got)
    return out


def modules_called(spark, data_dir: Path, name: str) -> set[str]:
    """The operators/* modules whose functions run on the driver while
    the query's plan is built."""
    mods: set[str] = set()

    def prof(frame, event, arg):
        if event == "call":
            m = frame.f_globals.get("__name__", "")
            if m.startswith("newscrawler_spark.operators."):
                mods.add(m.rsplit(".", 1)[1])

    sys.setprofile(prof)
    try:
        QUERIES[name](spark, str(data_dir))
    finally:
        sys.setprofile(None)
    return mods


# -- correctness ---------------------------------------------------------------
# The comparison is the benchmark's own, not the program's tools, so that a
# change to the program cannot loosen the check it is measured by.

def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v))
                              else repr(v.tolist() if hasattr(v, "tolist") else v))
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both frames hold the same rows in any order, else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind in "fiub" or y.dtype.kind in "fiub":
            x, y = pd.to_numeric(x), pd.to_numeric(y)
        bad = ~((x.isna() & y.isna()) | (x == y))
        if bad.any():
            return f"column {c}: {int(bad.sum())} values differ"
    return None


def oracle_outputs(data_dir: Path, cache_dir: Path) -> dict[str, pd.DataFrame]:
    """Each query's DuckDB oracle output, cached by the oracle's SQL and
    the input files."""
    h = hashlib.sha256()
    for t in TABLES:
        h.update((data_dir / f"{t}.parquet").read_bytes())
    for name in QUERY_NAMES:
        h.update(f"{name}\0{ORACLES[name]}\0".encode())
    path = cache_dir / f"oracles-{h.hexdigest()[:16]}.pkl"
    if path.exists():
        return pickle.loads(path.read_bytes())
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")
        out = {name: con.sql(ORACLES[name]).df() for name in QUERY_NAMES}
    finally:
        con.close()
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_bytes(pickle.dumps(out))
    os.replace(tmp, path)
    return out


def check(outputs: dict, want: dict[str, pd.DataFrame]) -> dict[str, str]:
    """Query name -> mismatch, for every output of a pass that differs
    from its oracle's."""
    problems = {}
    for name, (_, got) in outputs.items():
        why = same_rows(got, want[name])
        if why:
            problems[name] = why
    return problems
