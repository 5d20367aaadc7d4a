"""One-config crawl probe for conf A/Bs: run bench.run_crawl in THIS
process with SPARK_GRAFT_EXTRA_CONF already in the environment, print
one JSON line.  Each invocation is a fresh JVM, so core confs (codec,
shuffle compression) actually take effect.

Usage:
  SPARK_GRAFT_EXTRA_CONF='{"spark.io.compression.codec":"zstd"}' \
      python scripts/ab_crawl.py [CORES] [N_URLS] [label]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from newscrawler_spark.session import default_cores

    cores = int(sys.argv[1]) if len(sys.argv) > 1 else default_cores()
    n_urls = int(sys.argv[2]) if len(sys.argv) > 2 else 400_000
    label = sys.argv[3] if len(sys.argv) > 3 else "baseline"
    import bench

    r = bench.run_crawl(cores, n_urls)
    r["label"] = label
    r["extra_conf"] = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    del r["per_round"]
    print(json.dumps(r))


if __name__ == "__main__":
    main()
