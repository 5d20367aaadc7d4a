"""Scale-factor sweep (round-4 verdict task 1): run the bench query
list at several sf dirs and report wall-time ratios against the row
ratio, flagging super-linear growth.

The sf1 input is a deterministic 10x upsample of the driver's sf0.1
tables (scripts/make_sf.py) whose per-replica perturbations keep every
query's OUTPUT linear in the input — so a super-linear wall ratio here
is an engine property, not a data artifact.

Usage:
  python scripts/make_sf.py /root/testdata/sf0.1 /tmp/sfscale/sf1 10
  python scripts/sf_sweep.py /root/testdata/sf0.01 /root/testdata/sf0.1 /tmp/sfscale/sf1

Prints one JSON line: {"sweep": {sf_dir: {query: sec}}, "ratios": ...}
Each sf dir runs in the same session (queries are independent); each
query is timed on .count() like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def main() -> None:
    only: list[str] | None = None
    argv = sys.argv[1:]
    if "--only" in argv:
        i = argv.index("--only")
        only = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2 :]
    dirs = argv or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        "/tmp/sfscale/sf1",
    ]
    from newscrawler_spark.queries import QUERIES
    from newscrawler_spark.session import default_cores, get_spark

    # the FULL query surface (all 39 driver-checked entries), not just
    # the bench subset: a super-linear surprise in an un-benched query
    # is exactly what the sweep exists to catch
    names = [n for n in QUERIES if only is None or n in only]
    cpus = default_cores()
    spark = get_spark("sf-sweep", cores=cpus, shuffle_partitions=2 * cpus)
    sweep: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}
    for d in dirs:
        out: dict[str, float] = {}
        for name in names:
            t0 = time.time()
            try:
                n = QUERIES[name](spark, d).count()
            except Exception as exc:  # noqa: BLE001
                print(f"  {d} {name} FAILED: {exc}", file=sys.stderr)
                out[name] = -1.0
                continue
            out[name] = round(time.time() - t0, 3)
            print(f"  {d} {name}: {n} rows in {out[name]}s", file=sys.stderr)
        sweep[d] = out
        import duckdb

        rows[d] = duckdb.sql(
            f"select count(*) from '{d}/documents.parquet'"
        ).fetchone()[0]
    spark.stop()

    # wall ratio between the two largest dirs vs their row ratio
    ratios = {}
    if len(dirs) >= 2:
        a, b = dirs[-2], dirs[-1]
        row_ratio = rows[b] / max(rows[a], 1)
        for name in names:
            wa, wb = sweep[a].get(name), sweep[b].get(name)
            if wa and wb and wa > 0 and wb > 0:
                ratios[name] = {
                    "wall_ratio": round(wb / wa, 2),
                    "vs_rows": round((wb / wa) / row_ratio, 2),
                }
    print(json.dumps({"sweep": sweep, "doc_rows": rows, "ratios": ratios}))


if __name__ == "__main__":
    main()
