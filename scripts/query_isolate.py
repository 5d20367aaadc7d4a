"""Per-query isolation harness (round-5 verdict task 2).

Times one or more registry queries, each in a FRESH JVM, repeated
`--reps` times, so a wall-clock number is attributable to the query
itself rather than to plan-cache / codegen / GC state left behind by
whatever ran earlier in a shared bench session (the round-4
politeness_schedule 6 s -> 23 s mystery was exactly this ambiguity).

Usage:
  python scripts/query_isolate.py politeness_schedule [more...] \
      [--sf-dir /root/testdata/sf0.1] [--reps 3] [--cpus 32] [--shared]

--shared additionally times the queries back-to-back inside ONE session
(bench-style) after the isolated runs, so the isolated-vs-shared delta
is printed directly.

Prints one JSON line:
  {"sf_dir": ..., "isolated": {name: {"walls": [...], "min": s}},
   "shared": {name: s, ...}?}
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _one(name: str, sf_dir: str, cpus: int) -> float:
    """Run inside a worker process: one query, fresh JVM, return wall."""
    from newscrawler_spark.queries import QUERIES
    from newscrawler_spark.session import get_spark

    spark = get_spark(f"isolate-{name}", cores=cpus, shuffle_partitions=2 * cpus)
    t0 = time.time()
    QUERIES[name](spark, sf_dir).count()
    wall = time.time() - t0
    spark.stop()
    return wall


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--worker":
        print(json.dumps({"wall": _one(sys.argv[2], sys.argv[3], int(sys.argv[4]))}))
        return
    from newscrawler_spark.session import default_cores

    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=default_cores())
    ap.add_argument("--shared", action="store_true")
    args = ap.parse_args()

    out: dict = {"sf_dir": args.sf_dir, "cpus": args.cpus, "isolated": {}}
    for name in args.queries:
        walls = []
        for _ in range(args.reps):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker",
                 name, args.sf_dir, str(args.cpus)],
                capture_output=True, text=True, timeout=900,
            )
            if proc.returncode != 0:
                out["isolated"][name] = {"err": proc.stderr[-400:]}
                break
            walls.append(round(json.loads(proc.stdout.strip().splitlines()[-1])["wall"], 2))
        else:
            out["isolated"][name] = {"walls": walls, "min": min(walls)}
            print(f"isolated {name}: {walls} min={min(walls)}s", file=sys.stderr)

    if args.shared:
        from newscrawler_spark.queries import QUERIES
        from newscrawler_spark.session import get_spark

        spark = get_spark("isolate-shared", cores=args.cpus,
                          shuffle_partitions=2 * args.cpus)
        shared = {}
        for name in args.queries:
            t0 = time.time()
            QUERIES[name](spark, args.sf_dir).count()
            shared[name] = round(time.time() - t0, 2)
            print(f"shared   {name}: {shared[name]}s", file=sys.stderr)
        spark.stop()
        out["shared"] = shared
    print(json.dumps(out))


if __name__ == "__main__":
    main()
