"""Cuckoo-filter URL-seen variant (operators/cuckoo.py): build, merge,
delete, probe — and equivalence with the bloom path's exact results.

The contract under test is the prune-only invariant: whatever the
filter's internal state (fresh build, incremental merge, post-delete),
``filter_unseen(..., "cuckoo")`` must return exactly the rows a plain anti-join
against url_seen returns — the filter only shrinks the probe set.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from newscrawler_spark.operators.cuckoo import (
    CUCKOO_SLOTS,
    _bulk_insert,
    _delete_from_table,
    _probe_table,
    _size_rows,
    delete_cuckoo,
)
from newscrawler_spark.operators.seen import filter_unseen, fold_sidecar

N_BUCKETS = 8


def _hash_bucket(df):
    return df.select(
        F.xxhash64("canonical_url").alias("url_hash"),
        F.pmod(F.xxhash64("canonical_url"), F.lit(N_BUCKETS)).cast("int").alias("bucket"),
        "canonical_url",
    )


@pytest.fixture(scope="module")
def corpus(spark):
    urls = spark.range(2000).select(
        F.concat(F.lit("plat:art"), F.format_string("%06d", F.col("id"))).alias(
            "canonical_url"
        ),
        (F.col("id") % 7).cast("int").alias("priority"),
    )
    return urls.localCheckpoint()


def test_no_false_negatives_and_exact_result(spark, corpus):
    seen = _hash_bucket(corpus.filter(F.col("priority") < 3))
    cand = corpus.select("canonical_url", "priority")
    filt = fold_sidecar(seen, None, "cuckoo", 64)
    got = filter_unseen(cand, seen, filt, N_BUCKETS, "cuckoo")
    want = cand.join(
        seen.select("canonical_url"), "canonical_url", "left_anti"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_matches_bloom_path(spark, corpus):
    seen = _hash_bucket(corpus.filter(F.col("priority") % 2 == 0))
    cand = corpus.select("canonical_url", "priority")
    ck = filter_unseen(
        cand, seen, fold_sidecar(seen, None, "cuckoo", 64), N_BUCKETS, "cuckoo"
    )
    bl = filter_unseen(
        cand, seen, fold_sidecar(seen, None, "bloom", 1 << 14), N_BUCKETS
    )
    assert ck.exceptAll(bl).count() == 0
    assert bl.exceptAll(ck).count() == 0


def test_incremental_merge_equals_fresh_build(spark, corpus):
    """merge(build(A), B) prunes identically to build(A ∪ B) — the
    incremental URL-seen merge the scheduler would run per round."""
    a = _hash_bucket(corpus.filter(F.col("priority") < 2))
    b = _hash_bucket(
        corpus.filter((F.col("priority") >= 2) & (F.col("priority") < 4))
    )
    both = a.unionByName(b)
    cand = corpus.select("canonical_url", "priority")
    merged = fold_sidecar(b, fold_sidecar(a, None, "cuckoo", 64), "cuckoo", 0)
    out_merged = filter_unseen(cand, both, merged, N_BUCKETS, "cuckoo")
    out_fresh = filter_unseen(
        cand, both, fold_sidecar(both, None, "cuckoo", 64), N_BUCKETS, "cuckoo"
    )
    assert out_merged.exceptAll(out_fresh).count() == 0
    assert out_fresh.exceptAll(out_merged).count() == 0
    # merged filter accounts for all items
    tot = merged.agg(F.sum("n_items")).first()[0]
    assert tot == both.count()


def test_delete_unsees_for_recrawl(spark, corpus):
    """The bloom-inexpressible op: after delete_cuckoo + url_seen
    removal, previously-seen URLs flow through the prune again."""
    seen = _hash_bucket(corpus.filter(F.col("priority") < 3))
    removals = _hash_bucket(corpus.filter(F.col("priority") == 0))
    filt = delete_cuckoo(fold_sidecar(seen, None, "cuckoo", 64), removals)
    remaining = seen.join(
        removals.select("url_hash", "bucket"), ["url_hash", "bucket"], "left_anti"
    )
    cand = corpus.select("canonical_url", "priority")
    got = filter_unseen(cand, remaining, filt, N_BUCKETS, "cuckoo")
    # everything un-seen (priority 0) or never seen (>= 3) comes back
    want = cand.filter((F.col("priority") == 0) | (F.col("priority") >= 3))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # and n_items dropped by exactly the removal count
    n_after = filt.agg(F.sum("n_items")).first()[0]
    assert n_after == seen.count() - removals.count()


def test_kernel_insert_delete_reinsert_roundtrip():
    """Pure-numpy kernel invariants: slot compaction after delete keeps
    later bulk inserts sound (regression guard for the rank-scatter's
    left-contiguity assumption)."""
    rng = np.random.default_rng(11)
    hashes = np.unique(
        rng.integers(-(2**63), 2**63 - 1, size=20_000, dtype=np.int64)
    )
    table = np.zeros((_size_rows(len(hashes)), CUCKOO_SLOTS), dtype=np.uint16)
    stash = [int(hashes[i]) for i in _bulk_insert(table, hashes)]
    assert _probe_table(hashes, table, np.asarray(stash, np.int64)).all()
    dele = hashes[::3].copy()
    removed = _delete_from_table(table, stash, dele)
    assert removed == len(dele)
    keep = np.setdiff1d(hashes, dele)
    assert _probe_table(keep, table, np.asarray(stash, np.int64)).all()
    # occupied slots stay left-compacted after deletes
    nz = table != 0
    assert not (nz[:, 1:] & ~nz[:, :-1]).any()
    stash.extend(int(dele[i]) for i in _bulk_insert(table, dele))
    assert _probe_table(hashes, table, np.asarray(stash, np.int64)).all()


def test_local_cuckoo_fold_matches_distributed(spark, tmp_path):
    """The driver-side (DuckDB+numpy) cuckoo fold must produce
    byte-identical fingerprint tables + stashes to the distributed
    cogroup path — mirror of the bloom fold's byte-identity test
    (sorted insertion makes the layout a pure function of the hash
    set)."""
    from newscrawler_spark.sources.catalog import Catalog

    cap = 256
    cat = Catalog(tmp_path / "cat")

    def seen_df(lo, hi):
        return spark.range(lo, hi).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(8))
            .cast("int")
            .alias("bucket"),
        )

    def log_shape(df):
        return df.select(
            F.lit(None).cast("string").alias("url"),
            F.lit(None).cast("string").alias("canonical_url"),
            "url_hash",
            "bucket",
            F.lit(None).cast("string").alias("domain"),
            F.lit(None).cast("int").alias("rank"),
            F.lit(None).cast("string").alias("error"),
            F.lit(None).cast("int").alias("attempt"),
            F.lit("seen").alias("kind"),
        )

    # disjoint rounds — the crawl's anti-join guarantees no re-seen rows
    cat.write_round_log(log_shape(seen_df(0, 300)), 0)
    cat.write_round_log(log_shape(seen_df(300, 700)), 1)

    cat.write_cuckoo_local(0, None, cap)
    cat.write_cuckoo_local(1, 0, cap)
    local = {
        r.bucket: (bytes(r.table), list(r.stash), r.n_items)
        for r in spark.read.parquet(cat.delta_path("cuckoo", 1)).collect()
    }

    c0 = fold_sidecar(seen_df(0, 300), None, "cuckoo", cap)
    c1 = fold_sidecar(seen_df(300, 700), c0, "cuckoo", cap)
    dist = {
        r.bucket: (bytes(r.table), list(r.stash), r.n_items)
        for r in c1.collect()
    }
    assert set(local) == set(dist)
    for b in dist:
        assert local[b][0] == dist[b][0], f"table bytes differ for bucket {b}"
        assert local[b][1] == dist[b][1], f"stash differs for bucket {b}"
        assert local[b][2] == dist[b][2]


def test_stash_tiny_under_power_of_two_buckets():
    """Regression (round-3 advice): bucket = pmod(hash, n_buckets) with a
    power-of-two n_buckets fixes the hash's low bits within a bucket; a
    raw-low-bits row index then reaches only 1/n_buckets of the table's
    rows (measured 5.9% overflow at the designed 0.4 load vs 0.13%
    uncorrelated, ~44x).  With the mixed row index the per-bucket stash
    fraction must stay at the uncorrelated baseline."""
    rng = np.random.default_rng(17)
    n_buckets = 64  # power of two, as the crawl's default config uses
    pool = np.unique(
        rng.integers(-(2**63), 2**63 - 1, size=2_000_000, dtype=np.int64)
    )
    for bucket in (0, 17, 63):
        member = pool[pool % n_buckets == bucket][:25_000]
        assert len(member) == 25_000
        # size for ~0.4 load exactly as fold_bucket does
        table = np.zeros((_size_rows(len(member)), CUCKOO_SLOTS), dtype=np.uint16)
        overflow = _bulk_insert(table, np.sort(member))
        assert len(overflow) < len(member) * 0.005, (
            f"bucket {bucket}: stash fraction "
            f"{len(overflow) / len(member):.4f} — row index correlated "
            f"with bucket id"
        )


def test_false_positive_rate_bounded():
    rng = np.random.default_rng(13)
    member = np.unique(
        rng.integers(-(2**63), 2**63 - 1, size=50_000, dtype=np.int64)
    )
    table = np.zeros((_size_rows(len(member)), CUCKOO_SLOTS), dtype=np.uint16)
    stash = [int(member[i]) for i in _bulk_insert(table, member)]
    # stash stays a negligible overflow, not a linear scan in disguise
    assert len(stash) < len(member) * 0.005
    fresh = rng.integers(-(2**63), 2**63 - 1, size=200_000, dtype=np.int64)
    fresh = fresh[~np.isin(fresh, member)]
    fp = _probe_table(fresh, table, np.asarray(stash, np.int64)).mean()
    # 2 rows x 4 slots x 2^-16 ≈ 1.2e-4 expected
    assert fp < 1e-3
