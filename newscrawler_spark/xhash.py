"""Cross-engine deterministic hashing.

The engine needs hashes that are (a) computable JVM-side in Spark (no
Python in the hot path) and (b) reproducible in DuckDB for the driver's
oracle harness and in pure Python for the reference-semantics simulator.

Spark's ``xxhash64``/``hash`` (murmur3) have no DuckDB equivalent, so the
oracle-checked operators use an md5-prefix hash instead: take the first 15
hex chars of md5 (60 bits, always non-negative, fits int64):

  Spark : CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)
  DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT
  Python: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

Verified identical across all three (see tests/test_xhash.py).

Engine-internal hashes that never need the oracle (the seen-set key,
``operators.seen.seen_key``; bucket/salt assignment) use the native
``xxhash64``/``hash`` — faster, codegen'd.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

MD5_PREFIX_HEX_CHARS = 15  # 60 bits < 63 → always a valid positive BIGINT


def md5_64(col: Column | str) -> Column:
    """60-bit integer hash of a string column, DuckDB/Python-reproducible."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, MD5_PREFIX_HEX_CHARS), 16, 10).cast("bigint")


def md5_64_sql(expr: str) -> str:
    """DuckDB SQL for the same hash (expr is a SQL string expression)."""
    return f"(('0x' || substr(md5({expr}), 1, {MD5_PREFIX_HEX_CHARS}))::BIGINT)"


def md5_64_py(s: str) -> int:
    """Pure-Python same hash — used by the crawl-semantics simulator."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:MD5_PREFIX_HEX_CHARS], 16)


# --- permuted minhash --------------------------------------------------------
# One md5 per shingle + n Carter-Wegman permutations replaces n seeded
# md5s per shingle (the md5 was ~n x the signature stage's CPU).  The
# base hash is md5_64 truncated to 32 bits; each component hash is
# h_j = (a_j * x + b_j) mod P with P the smallest prime > 2^32 and
# a_j < 2^30, so a_j * x < 2^62 never overflows int64 in either engine.
MINHASH_P = 4294967311  # smallest prime > 2^32
MINHASH_MASK = 4294967295  # 2^32 - 1


def minhash_consts(n_hashes: int = 16) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) permutation constants, a in [1, 2^30),
    b in [0, 2^30) — derived from md5 of fixed labels so Spark, the
    DuckDB oracle builder, and the pure-Python twin regenerate the
    identical table with no shared state."""
    return [
        (
            md5_64_py(f"minhash-a-{j}") % ((1 << 30) - 1) + 1,
            md5_64_py(f"minhash-b-{j}") % (1 << 30),
        )
        for j in range(n_hashes)
    ]


def minhash_perm_py(x: int, a: int, b: int) -> int:
    """Pure-Python twin of the permutation applied to a 32-bit base."""
    return (a * (x & MINHASH_MASK) + b) % MINHASH_P
