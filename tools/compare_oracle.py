"""Local stand-in for the driver's correctness harness: run every
queries() entry on Spark AND its oracle_sql() on DuckDB at a given
sf dir, then compare row count, column names, and values exactly
(columns sorted by name, rows sorted by all columns) — a stricter
version of the driver's order-insensitive value-hash.
List cells are compared element by element; floats, top-level or inside
lists, must be equal, not close.

Usage: python tools/compare_oracle.py [sf_dir] [query ...]

The session comes from newscrawler_spark.session.get_spark (cores from
$SPARK_GRAFT_CPUS).  One verdict line per query goes to stderr; the last
line of stdout is a JSON summary: {"sf_dir": ..., "checked": N,
"failures": [...], "per_query": {name: {"rows": n, "match": bool,
"sec": s}}}.  Exits 1 when any query fails.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _list_cell(v):
    """A list cell as one string, so that Spark's and DuckDB's list
    types (python list, numpy array) compare and sort alike; floats
    inside keep every digit."""
    def item(x):
        if isinstance(x, (list, np.ndarray)):
            return [item(y) for y in x]
        if isinstance(x, (float, np.floating)):
            return repr(float(x))
        return str(x)

    return str(item(v))


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: None if v is None or (isinstance(v, float) and math.isnan(v))
                else _list_cell(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"columns differ: spark={sorted(a.columns)} duck={sorted(b.columns)}"]
    if len(a) != len(b):
        problems.append(f"rowcount differ: spark={len(a)} duck={len(b)}")
        return problems
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        if str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
            aligned = pd.DataFrame({"a": pd.to_numeric(av), "b": pd.to_numeric(bv)})
            bad = aligned[
                ~((aligned["a"].isna() & aligned["b"].isna()) | (aligned["a"] == aligned["b"]))
            ]
            if len(bad):
                md = (bad["a"] - bad["b"]).abs().max()
                problems.append(f"col {c}: {len(bad)} float mismatches, maxdiff={md}")
        else:
            neq = ~((av.isna() & bv.isna()) | (av.astype(str) == bv.astype(str)))
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches, e.g. row {i}: "
                    f"spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from newscrawler_spark.session import get_spark

    spark = get_spark("compare-oracle")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    per_query: dict[str, dict] = {}
    failures: list[str] = []

    def fail(name: str, msg: str) -> None:
        per_query[name] = {"match": False, "err": msg}
        failures.append(name)
        print(f"FAIL  {name}: {msg}", file=sys.stderr)

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            fail(name, f"spark raised {type(exc).__name__}: {exc}")
            continue
        sec = round(time.time() - t0, 2)
        if name not in oracles:
            per_query[name] = {"rows": len(sdf), "match": None, "sec": sec}
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{sec}s]", file=sys.stderr)
            continue
        try:
            ddf = con.sql(oracles[name]).df()
            problems = compare(sdf, ddf)
        except Exception as exc:
            fail(name, f"oracle check raised {type(exc).__name__}: {exc}")
            continue
        per_query[name] = {"rows": len(sdf), "oracle_rows": len(ddf),
                           "match": not problems, "sec": sec}
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: rows spark={len(sdf)} duck={len(ddf)} [{sec}s]",
                  file=sys.stderr)
            for p in problems[:5]:
                print(f"      {p}", file=sys.stderr)
        else:
            print(f"OK    {name}: {len(sdf)} rows [{sec}s]", file=sys.stderr)
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "checked": len(per_query),
                      "failures": failures, "per_query": per_query}))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
