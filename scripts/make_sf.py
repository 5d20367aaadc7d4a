"""Deterministic scale-factor upsampler for the driver's synthetic
tables (TESTDATA.md): builds an sfX directory that is an exact K-fold
replication of a source sf dir, with per-replica perturbations chosen
so that every query's OUTPUT scales linearly (each replica is a
self-contained shard that never matches another replica) — the shape a
real larger sf would have.  This lets a scale sweep (run
``tools/compare_oracle.py`` at both dirs: it reports each query's
seconds) distinguish "wall grows because input grew" from "wall grows
because output exploded", which pure row duplication cannot (10
identical copies of a doc turn every near-dup cluster of size c into 10c
and pair counts grow ~100x, a data artifact, not an engine property).

Per-table scheme (replica k = 0 keeps the source rows verbatim):
  documents   doc_id += k*N; every word gets suffix str(k) for k>0, so
              shingle/minhash/simhash/token spaces are disjoint across
              replicas while lengths, token counts, and within-replica
              duplicate structure are preserved.
  embeddings  vec_id += k*N; per-replica deterministic sign-flip of a
              subset of dimensions.  Sign flips preserve all inner
              products WITHIN a replica (s_i^2 = 1), so each replica
              reproduces the source's neighbor structure exactly, while
              cross-replica cosines collapse toward 0 (half the terms
              flip sign) and stay below the near-dup thresholds.
  events      event_id += k*N; user_id += k*U — tumbling windows see Kx
              rows per window, sessionize sees Kx users with identical
              per-user sessions.
Remaining tables are copied verbatim (no query reads them).

Usage: python scripts/make_sf.py SRC_DIR DST_DIR [K]
e.g.   python scripts/make_sf.py /root/testdata/sf0.1 /tmp/sfscale/sf1 10
"""

from __future__ import annotations

import os
import re
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COPY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
_WORD = re.compile(r"[A-Za-z0-9]+")


def _suffix_words(text: str, k: int) -> str:
    return _WORD.sub(lambda m: m.group(0) + str(k), text)


def upsample_documents(src: str, dst: str, k_factor: int) -> int:
    t = pq.read_table(src)
    n = t.num_rows
    doc_id = t.column("doc_id").to_numpy()
    texts = t.column("text").to_pylist()
    lang = t.column("lang")
    source = t.column("source")
    parts = []
    for k in range(k_factor):
        if k == 0:
            new_texts = texts
        else:
            new_texts = [_suffix_words(s, k) if s is not None else None for s in texts]
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array(doc_id + k * n, type=pa.int64()),
                    "text": pa.array(new_texts, type=pa.string()),
                    "lang": lang,
                    "source": source,
                    "n_chars": pa.array(
                        [len(s) if s is not None else None for s in new_texts],
                        type=pa.int64(),
                    ),
                }
            )
        )
    out = pa.concat_tables(parts)
    pq.write_table(out, dst)
    return out.num_rows


def upsample_embeddings(src: str, dst: str, k_factor: int) -> int:
    t = pq.read_table(src)
    n = t.num_rows
    vec_id = t.column("vec_id").to_numpy()
    emb = np.asarray(t.column("embedding").to_pylist(), dtype=np.float32)
    dim = emb.shape[1]
    label = t.column("label")
    parts = []
    dims = np.arange(dim)
    for k in range(k_factor):
        if k == 0:
            flipped = emb
        else:
            signs = np.where((k * 1_000_003 + dims * 7_919) % 2 == 0, 1.0, -1.0).astype(
                np.float32
            )
            flipped = emb * signs
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(vec_id + k * n, type=pa.int64()),
                    "embedding": pa.array(
                        list(flipped), type=pa.list_(pa.float32())
                    ),
                    "label": label,
                }
            )
        )
    out = pa.concat_tables(parts)
    pq.write_table(out, dst)
    return out.num_rows


def upsample_events(src: str, dst: str, k_factor: int) -> int:
    t = pq.read_table(src)
    n = t.num_rows
    event_id = t.column("event_id").to_numpy()
    user_id = t.column("user_id").to_numpy()
    n_users = int(user_id.max()) + 1
    parts = []
    for k in range(k_factor):
        parts.append(
            pa.table(
                {
                    "event_id": pa.array(event_id + k * n, type=pa.int64()),
                    "ts": t.column("ts"),
                    "user_id": pa.array(user_id + k * n_users, type=pa.int64()),
                    "event_type": t.column("event_type"),
                    "value": t.column("value"),
                    "props": t.column("props"),
                }
            )
        )
    out = pa.concat_tables(parts)
    pq.write_table(out, dst)
    return out.num_rows


def main() -> None:
    src_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfscale/sf1"
    k_factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst_dir, exist_ok=True)
    for name, fn in (
        ("documents", upsample_documents),
        ("embeddings", upsample_embeddings),
        ("events", upsample_events),
    ):
        rows = fn(
            os.path.join(src_dir, f"{name}.parquet"),
            os.path.join(dst_dir, f"{name}.parquet"),
            k_factor,
        )
        print(f"{name}: {rows} rows")
    for name in COPY_TABLES:
        src = os.path.join(src_dir, f"{name}.parquet")
        if os.path.exists(src):
            shutil.copyfile(src, os.path.join(dst_dir, f"{name}.parquet"))
    print(f"wrote {dst_dir} at {k_factor}x {src_dir}")


if __name__ == "__main__":
    main()
