"""J4 — the URL-seen operator: partitioned sidecar prune + exact anti-join.

Reference semantics: persistence keyed by ``get_article_id()`` makes a
re-crawl of a seen URL idempotent (/root/reference/news_crawler/core/
base.py:99-107).  The engine makes that an explicit, exact seen-set:

  candidates --sidecar probe (vectorized, per-bucket)--> {definitely-new,
  maybe-seen} ; maybe-seen --left_anti join url_seen--> confirmed-new

The bloom filter is *prune-only*: a false positive only sends a row to
the exact anti-join; a negative is definitive (no false negatives), so
the resulting seen-set is exactly reference-equal while the expensive
shuffle-against-10^10-rows only sees the maybe-seen minority.

Two sidecar kinds share every plan here — bloom (OR-mergeable bitsets,
below) and cuckoo (deletable fingerprint tables, ``cuckoo.py``).  Each
is one ``SEEN_KINDS`` entry: a schema, a per-bucket fold kernel
``(prior row or None, sorted hashes, size) -> row`` and a per-bucket
probe kernel ``(hashes, row) -> maybe-seen mask``.  The probe plan
(``filter_unseen``), the distributed fold (``fold_sidecar``) and the
driver-local fold (``Catalog._write_sidecar_local``) are written once,
over that table.  The crawl runs bloom; cuckoo serves the registry's
``seen_cuckoo`` query (deletes: un-see for a forced re-crawl).

Scale design:
  * url_seen is hash-partitioned by ``seen_key`` (``url_hash =
    xxhash64(canonical_url)``, ``bucket = pmod(url_hash, n_buckets)``),
    the one place the key is spelled; the bloom sidecar has one row
    (bucket, bitset) per bucket, folded with Arrow-vectorized numpy
    inside applyInPandas — never per-row Python;
  * the anti-join joins on (bucket, url_hash) so partition pruning +
    co-located shuffles apply;
  * at 10^10 URLs: n_buckets ~4k, bitset ~64-256 MB/bucket → the probe
    join is a co-partitioned join on bucket, not a broadcast.  In the
    sandbox the bloom table is a few MB and Spark broadcasts it (AQE).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schema import BLOOM, CUCKOO
from .cuckoo import fold_bucket as _cuckoo_fold
from .cuckoo import probe_bucket as _cuckoo_probe

BLOOM_K = 4  # hash functions per key


def _bit_positions(hashes: np.ndarray, m_bits: int) -> np.ndarray:
    """(n, BLOOM_K) bit indices via double hashing h1 + i*h2 (Kirsch-
    Mitzenmacher).  hashes are int64; arithmetic in uint64."""
    h = hashes.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)  # odd → full-period stride
    i = np.arange(BLOOM_K, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _bloom_fold(prior, hashes: np.ndarray, m_bits: int) -> dict:
    """OR ``hashes`` into the prior bitset, or into a zeroed ``m_bits``
    one for a bucket with no prior row."""
    if prior is None:
        bits, n_items = np.zeros(m_bits // 8, dtype=np.uint8), 0
    else:
        bits = np.frombuffer(prior["bitset"], dtype=np.uint8).copy()
        n_items = int(prior["n_items"])
    pos = _bit_positions(hashes, len(bits) * 8).ravel()
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return {"bitset": bits.tobytes(), "n_items": n_items + len(hashes)}


def _bloom_probe(hashes: np.ndarray, row) -> np.ndarray:
    # the filter size is the bitset's own length, so a probe can never
    # use a different m_bits from the fold that built the sidecar
    bits = np.frombuffer(row["bitset"], dtype=np.uint8)
    pos = _bit_positions(hashes, len(bits) * 8)
    hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=1)  # all k bits set → maybe seen


def seen_key(n_buckets: int) -> tuple[Column, Column]:
    """The seen-set key over ``canonical_url``: ``(url_hash, bucket)``,
    unaliased.  url_seen, both sidecars and every probe of them are laid
    out on this key, so every writer and reader takes it from here."""
    url_hash = F.xxhash64("canonical_url")
    return url_hash, F.pmod(url_hash, F.lit(n_buckets)).cast("int")


@dataclass(frozen=True)
class SeenKind:
    schema: StructType  # one sidecar row per bucket
    probe_cols: tuple[str, ...]  # the sidecar columns the probe reads
    fold: Callable[..., dict]  # (prior row | None, sorted hashes, size) -> row
    probe: Callable[..., np.ndarray]  # (hashes, row) -> maybe-seen mask


SEEN_KINDS = {
    "bloom": SeenKind(BLOOM, ("bitset",), _bloom_fold, _bloom_probe),
    "cuckoo": SeenKind(
        CUCKOO, ("table", "n_rows", "stash"), _cuckoo_fold, _cuckoo_probe
    ),
}


def fold_sidecar(
    new_seen: DataFrame, prior: DataFrame | None, kind: str, size: int
) -> DataFrame:
    """Fold (bucket, url_hash) rows into the ``prior`` sidecar of
    ``kind`` (None: build one) — the incremental URL-seen merge.  With a
    prior it is one co-partitioned cogroup: each bucket's sidecar row
    crosses the wire once, and a bucket present on only one side still
    gets its row.  ``size`` sizes buckets with no prior row (m_bits for
    bloom, slots for cuckoo)."""
    spec = SEEN_KINDS[kind]

    def fold(ndf: pd.DataFrame, pdf: pd.DataFrame | None) -> pd.DataFrame:
        # sorted: the row becomes a pure function of the hash SET, so
        # two cluster sizes and the driver-local fold write
        # byte-identical sidecars
        hashes = np.sort(ndf["url_hash"].to_numpy(dtype=np.int64))
        prior_row = pdf.iloc[0] if pdf is not None and len(pdf) else None
        bucket = (ndf if prior_row is None else pdf)["bucket"].iloc[0]
        row = spec.fold(prior_row, hashes, size)
        return pd.DataFrame([{"bucket": int(bucket), **row}])

    new = new_seen.select("bucket", "url_hash").groupBy("bucket")
    if prior is None:  # a build: no sidecar to cogroup with
        return new.applyInPandas(lambda ndf: fold(ndf, None), schema=spec.schema)
    return new.cogroup(prior.groupBy("bucket")).applyInPandas(
        fold, schema=spec.schema
    )


def filter_unseen(
    candidates: DataFrame,
    url_seen: DataFrame,
    sidecar: DataFrame | None,
    n_buckets: int,
    kind: str = "bloom",
) -> DataFrame:
    """Rows of ``candidates`` whose canonical_url is NOT in url_seen.

    candidates must carry (canonical_url); url_seen carries
    (url_hash, bucket).  The ``kind`` sidecar prunes, the exact
    anti-join confirms; with no sidecar the anti-join runs alone.
    """
    url_hash, bucket = seen_key(n_buckets)
    cand = candidates.withColumns({"url_hash": url_hash, "bucket": bucket})
    if sidecar is None:
        out = cand.join(
            url_seen.select("bucket", "url_hash"), ["bucket", "url_hash"], "left_anti"
        )
        return out.drop("url_hash", "bucket")

    # Per-bucket cogroup probe over a SLIM (bucket, url_hash) projection:
    # each bucket's sidecar row crosses the wire ONCE and the probe is
    # one vectorized numpy pass per bucket, with only 16 bytes/row
    # crossing the Arrow boundary — never the full-width candidate rows.
    # (The earlier full-width form round-tripped every frontier column
    # through Python AND, because its output fed a two-branch
    # filter-union, executed the probe and its upstream twice per
    # round.)  The probe emits only the maybe-seen subset; absence from
    # it IS the definitely-new verdict, so the plan is single-pass:
    #
    #   maybe (slim)  --left_semi url_seen-->  confirmed-seen (slim)
    #   cand (full)   --left_anti confirmed--> unseen
    #
    # The big-table join input is the slim maybe set (bounded by actual
    # seen matches + false positives), and the only full-width exchange
    # is the final JVM-side anti-join — which co-partitions with the
    # (bucket, url_hash) key the seen table is laid out on.
    spec = SEEN_KINDS[kind]

    def probe(cdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        if len(sdf) == 0:
            return cdf.iloc[0:0][["bucket", "url_hash"]]
        hit = spec.probe(cdf["url_hash"].to_numpy(), sdf.iloc[0])
        return cdf[["bucket", "url_hash"]][hit]

    slim = cand.select("bucket", "url_hash")
    maybe = (
        slim.groupBy("bucket")
        .cogroup(sidecar.select("bucket", *spec.probe_cols).groupBy("bucket"))
        .applyInPandas(probe, schema="bucket int, url_hash bigint")
    )
    confirmed_seen = maybe.join(
        url_seen.select("bucket", "url_hash"), ["bucket", "url_hash"], "left_semi"
    )
    return cand.join(
        confirmed_seen, ["bucket", "url_hash"], "left_anti"
    ).drop("url_hash", "bucket")
