"""Snapshot catalog — the Iceberg-shaped seam.

The north rule asks for Iceberg tables with per-round snapshots and
per-partition lineage; this container has no Iceberg runtime jars, so
the same semantics are implemented over parquet + an atomically-written
JSON manifest (SURVEY.md §7 step 6 fallback), behind one `Catalog` class
so a real Iceberg catalog can be dropped in on a cluster:

  <root>/manifest.json            {"last_round": k, "deltas": {...}}
  <root>/<table>/round=<k>/*.parquet   append-only per-round deltas

Semantics matched to Iceberg:
  * snapshot isolation per round — a round's deltas become visible only
    when the manifest is atomically replaced (os.replace, in
    _write_manifest) after all writes succeed; a kill mid-round leaves
    the previous manifest intact;
  * reads union the delta files up to `last_round` (like snapshot
    time-travel `VERSION AS OF`);
  * one schema per table — schema.py declares each crawl table's
    columns, the DDL an Iceberg catalog would carry; read_delta, the one
    typed read of a round's delta (and where an Iceberg table read
    plugs in), reads with schema.TABLES, and the driver-side deltas are
    written with it;
  * lineage — every delta row carries its `round`; docs rows also carry
    (domain_bucket, source_seed);
  * at scale, per-round full rewrites are forbidden: url_seen/docs are
    append-only deltas; compact_table and expire_rounds are the Iceberg
    maintenance actions (rewrite_data_files, expire_snapshots), run
    outside the crawl.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import schema

# The three small per-round outputs (seen delta, fetch order, quarantine)
# are written as ONE partitioned `round_log` delta —
#   <root>/round_log/round=<k>/kind=<seen|order|quarantine>/*.parquet
# — so a round costs one write job instead of three, while each logical
# table keeps its own name + schema through these read-time views.  The
# kind partition column means a view's read prunes at the FILE level
# (partition pruning, not row-group statistics).  On Iceberg this is an
# append to a log table with PARTITIONED BY (round, kind).
#
# The log is read with schema.ROUND_LOG, never by schema inference: a
# round with zero log rows writes no partition files at all (partitionBy
# of an empty frame), and at 10^10 scale schema-on-read should never scan
# footers anyway.  `kind` (and `round` for multi-delta reads) are
# partition columns whose values come from the directory names.
ROUND_LOG_VIEWS: dict[str, tuple[str, list[str]]] = {
    "url_seen": ("seen", ["url_hash", "bucket", "canonical_url", "round AS round_seen"]),
    "fetch_order": ("order", ["round", "domain", "rank", "canonical_url", "url"]),
    "quarantine": ("quarantine", ["url", "round", "error", "attempt"]),
}


class Catalog:
    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- manifest ------------------------------------------------------------
    @property
    def _manifest_path(self) -> Path:
        return self.root / "manifest.json"

    def read_manifest(self) -> dict:
        if not self._manifest_path.exists():
            return {"last_round": -1, "tables": {}}
        return json.loads(self._manifest_path.read_text())

    def commit_round(self, round_no: int, tables: dict[str, int]) -> None:
        """Atomically publish round `round_no` (tables maps name -> rows
        written this round, recorded as metrics-in-manifest)."""
        manifest = self.read_manifest()
        manifest["last_round"] = round_no
        manifest.setdefault("rounds", {})[str(round_no)] = tables
        self._write_manifest(manifest)

    def _write_manifest(self, manifest: dict) -> None:
        """Replace the manifest atomically: a kill leaves either the old
        file or the new one, never a partial write."""
        tmp = self._manifest_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(manifest, indent=2))
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    @property
    def last_round(self) -> int:
        return int(self.read_manifest()["last_round"])

    # -- deltas ----------------------------------------------------------------
    def delta_path(self, table: str, round_no: int) -> str:
        return str(self.root / table / f"round={round_no}")

    def write_delta(self, df: DataFrame, table: str, round_no: int) -> int:
        """Write one round's delta; returns row count.  Overwrite is safe:
        an uncommitted round's partial delta is simply rewritten on retry
        (the manifest hasn't advanced).  The count rides on the write
        itself via an Observation — one job, no second execution of the
        lineage and no extra footer-scan job.

        The REBALANCE hint (AQE) sizes the output: a delta assembled
        from unions of 64-partition persisted frames would otherwise
        write one tiny task per input partition (measured 145-674 tasks
        for KB-sized rounds — pure scheduling overhead), while at 100 TB
        the same hint yields evenly-sized ~64 MB files instead of one
        file per upstream partition."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        path = self.delta_path(table, round_no)
        obs = Observation()
        df.hint("rebalance").observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(path)
        return int(obs.get["n"])

    def write_round_log(self, df: DataFrame, round_no: int) -> dict[str, int]:
        """Write the unified per-round log (seen ∪ order ∪ quarantine,
        discriminated and partitioned by `kind`) in ONE job; per-kind row
        counts ride on the write via a multi-aggregate Observation."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        aggs = [
            F.count(F.when(F.col("kind") == k, 1)).alias(k)
            for k in ("seen", "order", "quarantine")
        ]
        # rebalance: see write_delta — the 6-branch union would write
        # one task per upstream partition otherwise
        df.hint("rebalance").observe(obs, *aggs).write.mode("overwrite").partitionBy(
            "kind"
        ).parquet(self.delta_path("round_log", round_no))
        got = obs.get
        return {k: int(got[k]) for k in ("seen", "order", "quarantine")}

    def write_metrics_row(self, round_no: int, counters: dict[str, int]) -> None:
        """Driver-side metrics delta — the row is a handful of
        already-known longs, so spinning a Spark job for it would be
        pure fixed cost.  Counters outside schema.METRICS (wall time,
        near-dup matches, capacity total) stay in the manifest only."""
        self._write_local(
            "metrics", round_no, schema.METRICS, [{"round": round_no, **counters}]
        )

    def write_budget_state_row_local(self, round_no: int, budget_rows) -> None:
        """A4 driver-side: fold the round's per-domain consumption (read
        straight from the just-written round_log order partition with
        in-process DuckDB) into the budget table and write the delta
        with pyarrow — zero Spark jobs.  Same arithmetic as
        operators.scheduling.budget_accounting (which remains the
        distributed path for rounds too big to fold on the driver)."""
        import glob as _glob

        import duckdb

        from ..operators.scheduling import DEFAULT_WINDOW_S

        order_glob = f"{self.delta_path('round_log', round_no)}/kind=order/*.parquet"
        used: dict[str, int] = {}
        if _glob.glob(order_glob):
            for dom, n in duckdb.sql(
                f"SELECT domain, count(*) FROM '{order_glob}' GROUP BY domain"
            ).fetchall():
                used[dom] = int(n)
        rows = []
        for r in budget_rows:
            cap, win = r["capacity"], r["window_s"]
            u = used.get(r["domain"], 0)
            rows.append({
                "domain": r["domain"], "capacity": cap, "window_s": win, "used": u,
                # NULL capacity = unbounded budget (budget_gate semantics):
                # remaining stays NULL, matching the distributed path's
                # null-propagating arithmetic
                "remaining": max(0, int(cap) - u) if cap is not None else None,
                "reset_ts": float(
                    (round_no + 1) * (win if win is not None else DEFAULT_WINDOW_S)
                ),
            })
        self._write_local("budget_state", round_no, schema.BUDGET_STATE, rows)

    def write_bloom_local(
        self,
        round_no: int,
        prev_round: int | None,
        m_bits: int,
    ) -> None:
        """Bloom sidecar fold on the DRIVER for small rounds: a new
        bucket gets an ``m_bits`` bitset (see _write_sidecar_local)."""
        self._write_sidecar_local("bloom", round_no, prev_round, m_bits)

    def write_cuckoo_local(
        self,
        round_no: int,
        prev_round: int | None,
        capacity_per_bucket: int,
    ) -> None:
        """Cuckoo sidecar fold on the DRIVER for small rounds: a new
        bucket's table is sized for ``capacity_per_bucket`` fingerprints
        (see _write_sidecar_local)."""
        self._write_sidecar_local(
            "cuckoo", round_no, prev_round, capacity_per_bucket
        )

    def _write_sidecar_local(
        self, kind: str, round_no: int, prev_round: int | None, size: int
    ) -> None:
        """Fold round ``round_no``'s seen rows into the ``prev_round``
        sidecar of ``kind`` with zero Spark jobs: the round's (bucket,
        url_hash) rows and the prior sidecar are read with in-process
        DuckDB, every bucket goes through the kind's per-bucket fold
        kernel on sorted hashes — the kernel the distributed
        operators.seen.fold_sidecar runs, so the sidecar is
        byte-identical per bucket either way (tested) — and the result
        is written with pyarrow.  The sidecar is one row per bucket (8 MB
        for the default 64 bloom buckets of 1 Mbit); rounds past the
        scheduler's LOCAL_FOLD_MAX_ROWS use the distributed fold
        instead."""
        import glob as _glob

        import duckdb
        import numpy as np

        from ..operators.seen import SEEN_KINDS

        spec = SEEN_KINDS[kind]
        prior: dict[int, dict] = {}
        if prev_round is not None:
            prev_glob = f"{self.delta_path(kind, prev_round)}/*.parquet"
            rel = duckdb.sql(f"SELECT * FROM '{prev_glob}'")
            for values in rel.fetchall():
                row = dict(zip(rel.columns, values))
                prior[int(row["bucket"])] = row

        new: dict[int, np.ndarray] = {}
        seen_glob = f"{self.delta_path('round_log', round_no)}/kind=seen/*.parquet"
        if _glob.glob(seen_glob):
            for bucket, hashes in duckdb.sql(
                f"SELECT bucket, list(url_hash ORDER BY url_hash) "
                f"FROM '{seen_glob}' GROUP BY bucket"
            ).fetchall():
                new[int(bucket)] = np.array(hashes, dtype=np.int64)

        no_hashes = np.empty(0, dtype=np.int64)
        rows = [
            {"bucket": b, **spec.fold(prior.get(b), new.get(b, no_hashes), size)}
            for b in sorted(prior.keys() | new.keys())
        ]
        self._write_local(kind, round_no, spec.schema, rows)

    def _write_local(
        self, table: str, round_no: int, table_schema: T.StructType, rows: list[dict]
    ) -> None:
        """Write one round's delta of ``table`` from the driver with
        pyarrow: ``rows`` (dicts keyed by column; other keys are ignored)
        typed by ``table_schema``, nullability included.  Built column by
        column: Table.from_pylist is several times slower on large
        binary values such as the bloom bitsets."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow = to_arrow_schema(table_schema)
        table_data = pa.table(
            {f.name: pa.array([r[f.name] for r in rows], f.type) for f in arrow},
            schema=arrow,
        )
        path = Path(self.delta_path(table, round_no))
        path.mkdir(parents=True, exist_ok=True)
        pq.write_table(table_data, path / "part-00000.parquet")

    # -- maintenance (Iceberg rewrite_data_files / expire_snapshots) ---------

    # per-round INPUT deltas (frontier) and the kind-partitioned log are
    # excluded: the scheduler addresses them by exact round directory
    COMPACTABLE = ("docs", "neardup", "dedup_index", "dedup_sigs")

    def compact_table(self, spark: SparkSession, table: str,
                      upto_round: int | None = None) -> int:
        """Merge a table's per-round deltas (≤ upto_round) into one
        compacted snapshot — the Iceberg `rewrite_data_files`
        maintenance action, run OUTSIDE the crawl path.  Read-equivalent
        by construction: rows carry their lineage (`round` is a data
        column on docs), only the file layout changes.

        Kill-safe: the compacted dir is written aside and renamed into
        place, then the manifest records the compaction horizon
        atomically; a kill at any point leaves reads on the previous
        layout.  Old round dirs stay until expire_rounds (so time
        travel below the horizon keeps working).  Returns rows
        compacted."""
        if table not in self.COMPACTABLE:
            raise ValueError(f"{table} is not compactable (allow: {self.COMPACTABLE})")
        last = self.last_round if upto_round is None else upto_round
        paths = self._delta_paths(table, last)
        if not paths:
            return 0
        import shutil as _shutil

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        df = spark.read.parquet(*paths)
        obs = Observation()
        tmp = self.root / table / f"_compact_tmp_{last}"
        _shutil.rmtree(tmp, ignore_errors=True)
        df.hint("rebalance").observe(
            obs, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(str(tmp))
        final = self.root / table / f"compact_upto={last}"
        _shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
        manifest = self.read_manifest()
        manifest.setdefault("compacted", {})[table] = last
        self._write_manifest(manifest)
        # superseded compaction snapshots are unreachable once the
        # manifest points past them
        for d in (self.root / table).glob("compact_upto=*"):
            if d != final:
                _shutil.rmtree(d, ignore_errors=True)
        return int(obs.get["n"])

    def expire_rounds(self, table: str) -> int:
        """Delete a table's round deltas at or below its compaction
        horizon (Iceberg `expire_snapshots`): afterwards time travel
        below the horizon raises, exactly like reading an expired
        snapshot.  Returns #dirs removed."""
        import shutil as _shutil

        manifest = self.read_manifest()
        horizon = manifest.get("compacted", {}).get(table)
        if horizon is None:
            return 0
        removed = []
        for r in range(horizon + 1):
            p = Path(self.delta_path(table, r))
            if p.exists():
                _shutil.rmtree(p)
                removed.append(r)
        if removed:
            expired = set(manifest.setdefault("expired", {}).get(table, []))
            manifest["expired"][table] = sorted(expired.union(removed))
            self._write_manifest(manifest)
        return len(removed)

    def _delta_paths(self, table: str, last: int) -> list[str]:
        manifest = self.read_manifest()
        horizon = manifest.get("compacted", {}).get(table)
        compact_dir = (
            self.root / table / f"compact_upto={horizon}"
            if horizon is not None
            else None
        )
        if (
            horizon is not None
            and horizon <= last
            and compact_dir.exists()
        ):
            start = horizon + 1
            paths = [str(compact_dir)]
        else:
            start = 0
            paths = []
            if horizon is not None and horizon > last:
                # time travel below the compaction horizon only works on
                # unexpired deltas — fail loudly if any are gone
                gone = [
                    r
                    for r in manifest.get("expired", {}).get(table, [])
                    if r <= last
                ]
                if gone:
                    raise ValueError(
                        f"time travel to round {last} of '{table}' crosses the "
                        f"compaction horizon ({horizon}) and deltas {gone} "
                        f"are expired"
                    )
        paths += [
            self.delta_path(table, r)
            for r in range(start, last + 1)
            if Path(self.delta_path(table, r)).exists()
        ]
        return paths

    def read_table(
        self, spark: SparkSession, table: str, upto_round: int | None = None
    ) -> DataFrame | None:
        """Union of committed deltas (≤ upto_round); None if no data.
        The seen/order/quarantine tables resolve as partition-pruned
        views over the unified round_log deltas."""
        last = self.last_round if upto_round is None else upto_round
        if table in ROUND_LOG_VIEWS:
            kind, cols = ROUND_LOG_VIEWS[table]
            paths = self._delta_paths("round_log", last)
            if not paths:
                return None
            from pyspark.sql import functions as F

            with_round = schema.ROUND_LOG.fields + [
                T.StructField("round", T.IntegerType(), True)
            ]
            return (
                spark.read.schema(T.StructType(with_round))
                .option("basePath", str(self.root / "round_log"))
                .parquet(*paths)
                .filter(F.col("kind") == kind)
                .selectExpr(*cols)
            )

        paths = self._delta_paths(table, last)
        if not paths:
            return None
        return spark.read.parquet(*paths)

    def read_delta(
        self, spark: SparkSession, table: str, round_no: int
    ) -> DataFrame | None:
        """One round's delta of a crawl table, read with the table's
        schema.TABLES schema (no footer scan, and a delta with no rows
        still reads); None when that round wrote no such delta.  This
        is the one typed read of a crawl delta — where an Iceberg
        catalog's table scan (a snapshot's files for one round) would
        plug in."""
        path = self.delta_path(table, round_no)
        if not os.path.isdir(path):
            return None
        return spark.read.schema(schema.TABLES[table]).parquet(path)
