"""J4 (variant) — partitioned cuckoo-filter URL-seen prune.

The north star names a "bloom/cuckoo URL-seen filter".  This module
holds the cuckoo kind's per-bucket kernels — ``fold_bucket`` and
``probe_bucket``, registered in ``seen.SEEN_KINDS`` — plus the
cuckoo-only ``delete_cuckoo``; the probe plan and the two folds that
run the kernels are shared with bloom (``seen.filter_unseen``,
``seen.fold_sidecar``, ``Catalog.write_cuckoo_local``).  The crawl
itself runs bloom; this kind serves the registry's ``seen_cuckoo``
query and un-see maintenance.  Same contract as bloom: the filter is
*prune-only* — a negative is definitive (no false negatives), a
positive goes to the exact anti-join — so it cannot change a probe's
result, only the pruned fraction.  What the cuckoo variant adds over
bloom:

  * **deletion** — a fingerprint can be removed, so "un-seeing" a URL
    (forced re-crawl of a quarantined/stale page, the reference's
    manual re-run of a failed article, server.py:130-182) is a filter
    update instead of a full rebuild from url_seen;
  * **bounded lookup cost** — a probe reads exactly 2 buckets (8
    fingerprint slots), independent of filter size, vs BLOOM_K
    scattered bit reads.

Layout (mirrors the bloom sidecar): one row per hash-partition bucket
``(bucket, table, n_rows, stash, n_items)`` where ``table`` is an
``n_rows x CUCKOO_SLOTS`` array of 16-bit fingerprints (0 = empty
slot) and ``stash`` is the exact overflow list.  Buckets partition by
``seen.seen_key`` — identical to url_seen's layout, so fold, probe
and delete are all co-partitioned cogroups.

Insertion is BULK-VECTORIZED (no per-row Python): each round bin-sorts
the pending fingerprints by target bucket-row, ranks them within equal
rows via one cumsum pass, and scatters ``rank < free_slots`` in a
single fancy-index store; unplaced items flip to their alternate row
(i XOR h(fp), the standard partial-key cuckoo step) and retry.  There
is NO eviction loop — the table is sized to ~40% load where two-choice
x 4-slot overflow is vanishingly rare, and the few overflows land in
the exact ``stash`` (probed by full 64-bit hash, so stash items can
never false-positive).  The trade: ~5 bytes/key vs bloom's ~1.2 at the
same FP rate, bought back by deletion + O(1) probes.

Resizing caveat (inherent to cuckoo filters): the table stores 16-bit
fingerprints, not keys, so it cannot re-hash itself larger.  Size
``capacity`` up-front from the expected seen count (the engine's
catalog tracks exact n_items per bucket); a saturated bucket is
rebuilt from url_seen — the same maintenance a saturated bloom needs.

Scale: at 10^10 URLs with n_buckets ~4k, each bucket holds ~2.4M keys
→ a ~12 MB fingerprint table per bucket, folded/probed by one
vectorized numpy pass inside a cogroup — the same
co-partitioned-sidecar shape as the bloom path, never a broadcast of
the whole filter.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..schema import CUCKOO

CUCKOO_SLOTS = 4           # fingerprint slots per table row
TARGET_LOAD = 0.4          # sizing: slots_total * load >= capacity
MAX_PLACE_ROUNDS = 8       # i1, i2, then re-tries; leftovers -> stash
_FP_SEED = np.uint64(0x9E3779B97F4A7C15)  # splitmix64 increment
_ALT_MULT = np.uint64(0x5BD1E995)         # MurmurHash2 multiplier


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprints from int64 url hashes (vectorized).

    Mixes the high half down so the fingerprint is independent of the
    row index bits (which come from the low half)."""
    h = hashes.astype(np.uint64)
    mixed = (h ^ (h >> np.uint64(33))) * _FP_SEED
    fp = ((mixed >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = np.uint16(0x9E37)  # 0 marks an empty slot
    return fp


def _row_index(hashes: np.ndarray, n_rows: int) -> np.ndarray:
    """Primary row from MIXED bits (16..), not the raw low bits.

    The bucket assignment is pmod(hash, n_buckets); with a power-of-two
    n_buckets that is exactly the raw low bits, so a raw-low-bits row
    index would be constant-per-bucket in those bits — only 1/n_buckets
    of each table's rows reachable as primary rows, ~44x the designed
    overflow at 0.4 load (measured).  Mixing first (same splitmix-style
    mix as _fingerprints; row takes bits 16.., fp takes bits 48..63 —
    disjoint) makes the row index independent of the bucket id."""
    h = hashes.astype(np.uint64)
    mixed = (h ^ (h >> np.uint64(33))) * _FP_SEED
    return ((mixed >> np.uint64(16)) & np.uint64(n_rows - 1)).astype(np.int64)


def _alt_row(rows: np.ndarray, fps: np.ndarray, n_rows: int) -> np.ndarray:
    """Partial-key alternate: i XOR hash(fp), mod n_rows (power of 2)."""
    fh = (fps.astype(np.uint64) * _ALT_MULT) & np.uint64(n_rows - 1)
    return (rows.astype(np.uint64) ^ fh).astype(np.int64)


def _size_rows(capacity: int) -> int:
    need = max(1, int(np.ceil(capacity / (CUCKOO_SLOTS * TARGET_LOAD))))
    return 1 << int(np.ceil(np.log2(need)))


def _bulk_insert(
    table: np.ndarray, hashes: np.ndarray
) -> list[int]:
    """Insert fingerprints of ``hashes`` into ``table`` (n_rows x SLOTS,
    uint16, mutated in place); returns indices into ``hashes`` that
    overflowed (caller stashes the full 64-bit hash).

    Each round is three vectorized passes (argsort, run-rank cumsum,
    fancy-index scatter) over the still-pending set — no per-item
    Python.  (idx_row, slot) scatter targets are unique by construction
    (rank is unique within a row), so the fancy-index store is safe."""
    n_rows = table.shape[0]
    fps = _fingerprints(hashes)
    rows = _row_index(hashes, n_rows)
    # invariant: occupied slots are left-compacted within each row
    # (maintained by _delete_from_table), so occ + rank is a free slot
    occ = (table != 0).sum(axis=1).astype(np.int64)
    pending = np.arange(len(hashes))
    for _ in range(MAX_PLACE_ROUNDS):
        if len(pending) == 0:
            break
        p_rows = rows[pending]
        order = np.argsort(p_rows, kind="stable")
        srows = p_rows[order]
        first = np.empty(len(srows), dtype=bool)
        first[0] = True
        first[1:] = srows[1:] != srows[:-1]
        run_start = np.flatnonzero(first)
        rank = np.arange(len(srows)) - np.repeat(
            run_start, np.diff(np.append(run_start, len(srows)))
        )
        free = CUCKOO_SLOTS - occ[srows]
        place = rank < free
        placed_rows = srows[place]
        placed_slot = occ[placed_rows] + rank[place]
        table[placed_rows, placed_slot] = fps[pending[order[place]]]
        placed_idx, counts = np.unique(placed_rows, return_counts=True)
        occ[placed_idx] += counts
        remaining = pending[order[~place]]
        if len(remaining) == 0:
            pending = remaining
            break
        # flip survivors to their other candidate row and retry
        # (alt is an involution, so odd rounds try i2, even retry i1)
        rows[remaining] = _alt_row(
            rows[remaining], fps[remaining], n_rows
        )
        pending = remaining
    return list(pending)


def _probe_table(
    hashes: np.ndarray, table: np.ndarray, stash: np.ndarray
) -> np.ndarray:
    """Vectorized membership: fp in either candidate row, or exact hash
    in the stash.  Returns a bool 'maybe seen' mask."""
    n_rows = table.shape[0]
    fps = _fingerprints(hashes)
    r1 = _row_index(hashes, n_rows)
    r2 = _alt_row(r1, fps, n_rows)
    hit = (table[r1] == fps[:, None]).any(axis=1) | (
        table[r2] == fps[:, None]
    ).any(axis=1)
    if len(stash):
        hit |= np.isin(hashes, stash)
    return hit


def _delete_from_table(
    table: np.ndarray, stash: list, hashes: np.ndarray
) -> int:
    """Remove one fingerprint occurrence per hash (stash first — exact —
    then either candidate row).  Standard cuckoo-filter discipline: only
    hashes actually inserted may be deleted (enforced by callers, which
    delete from url_seen in the same maintenance op).  Deletion is a
    KB-scale maintenance path (forced re-crawl lists), not the crawl
    hot path, so a per-item loop over the *delete list* is fine — each
    iteration is O(SLOTS) numpy ops.  Returns #removed."""
    n_rows = table.shape[0]
    fps = _fingerprints(hashes)
    r1 = _row_index(hashes, n_rows)
    r2 = _alt_row(r1, fps, n_rows)
    removed = 0
    for h, fp, a, b in zip(hashes.tolist(), fps, r1, r2):
        if h in stash:
            stash.remove(h)
            removed += 1
            continue
        for row in (a, b):
            slots = np.flatnonzero(table[row] == fp)
            if len(slots):
                table[row, slots[0]] = 0
                # re-compact the row: _bulk_insert's rank-scatter
                # assumes occupied slots sit left-contiguous
                vals = table[row]
                nz = vals[vals != 0]
                vals[:] = 0
                vals[: len(nz)] = nz
                removed += 1
                break
    return removed


def _load(row) -> tuple[np.ndarray, list]:
    table = (
        np.frombuffer(row["table"], dtype=np.uint16)
        .reshape(int(row["n_rows"]), CUCKOO_SLOTS)
        .copy()
    )
    stash = row["stash"]
    return table, [] if stash is None else [int(h) for h in stash]


def _payload(table: np.ndarray, stash: list, n_items: int) -> dict:
    return {
        "table": table.tobytes(),
        "n_rows": table.shape[0],
        "stash": stash,
        "n_items": n_items,
    }


def fold_bucket(prior, hashes: np.ndarray, capacity_per_bucket: int) -> dict:
    """One bucket's sidecar row after inserting ``hashes`` (sorted) into
    ``prior`` — or into a fresh table sized for the larger of the
    capacity and the batch when the bucket has no prior row."""
    if prior is None:
        rows = _size_rows(max(capacity_per_bucket, len(hashes)))
        table, stash = np.zeros((rows, CUCKOO_SLOTS), dtype=np.uint16), []
        n_items = 0
    else:
        table, stash = _load(prior)
        n_items = int(prior["n_items"])
    stash.extend(int(hashes[i]) for i in _bulk_insert(table, hashes))
    return _payload(table, stash, n_items + len(hashes))


def probe_bucket(hashes: np.ndarray, row) -> np.ndarray:
    table, stash = _load(row)
    return _probe_table(hashes, table, np.asarray(stash, dtype=np.int64))


def delete_cuckoo(cuckoo: DataFrame, removals: DataFrame) -> DataFrame:
    """Un-see URLs: remove their fingerprints so a forced re-crawl can
    re-schedule them.  ``removals`` carries (url_hash, bucket) of rows
    the caller is ALSO deleting from url_seen (cuckoo deletion is only
    sound for keys actually inserted).  Buckets with no removals pass
    through untouched."""

    def drop(rdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0:
            return pd.DataFrame({c: [] for c in CUCKOO.fieldNames()})
        row = cdf.iloc[0]
        table, stash = _load(row)
        removed = (
            _delete_from_table(table, stash, rdf["url_hash"].to_numpy())
            if len(rdf)
            else 0
        )
        payload = _payload(table, stash, int(row["n_items"]) - removed)
        return pd.DataFrame([{"bucket": int(row["bucket"]), **payload}])

    return (
        removals.select("bucket", "url_hash")
        .groupBy("bucket")
        .cogroup(cuckoo.groupBy("bucket"))
        .applyInPandas(drop, schema=CUCKOO)
    )
