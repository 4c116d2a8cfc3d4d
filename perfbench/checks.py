"""Order-sensitive doc checksum, shared by the answer builder (driver
side, over the raw corpus) and the train_read consumer (Python worker
side, over decoded docs).

checksum = sum over docs of (S(doc) + 1) * (2 * crc32(doc_id) + 1)
mod 2^64, where S(doc) = sum_i (t_i + 1) * (i + 1) mod 2^64. A swapped
chunk, a dropped or duplicated token, or a doc under the wrong id all
change it; decoded row order does not.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

MASK64 = (1 << 64) - 1


def flat_list(arr: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """list<int> column -> (flat int64 values, int64 row offsets);
    respects sliced arrays."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    values = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    lens = arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    offsets = np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))
    return values, offsets


def doc_checksum(doc_ids: list[str], values: np.ndarray, offsets: np.ndarray) -> int:
    """Checksum of one batch of docs (see module doc), as a Python int
    in [0, 2^64)."""
    lens = np.diff(offsets)
    pos = np.arange(len(values), dtype=np.int64) - np.repeat(offsets[:-1], lens)
    with np.errstate(over="ignore"):
        w = (values.astype(np.uint64) + np.uint64(1)) * (
            pos.astype(np.uint64) + np.uint64(1)
        )
        cs = np.concatenate(([np.uint64(0)], np.cumsum(w, dtype=np.uint64)))
        per_doc = cs[offsets[1:]] - cs[offsets[:-1]] + np.uint64(1)
        keys = np.array(
            [2 * zlib.crc32(d.encode()) + 1 for d in doc_ids], dtype=np.uint64
        )
        total = np.sum(per_doc * keys, dtype=np.uint64)
    return int(total)


def checksum_map(batches):
    """mapInArrow consumer over decode_docs output: one
    (n_docs, n_tokens, checksum) row per partition. The checksum is
    carried as the signed view of its 64 bits."""
    n_docs = n_tok = acc = 0
    for b in batches:
        values, offsets = flat_list(b.column("tokens"))
        ids = b.column("doc_id").to_pylist()
        n_docs += len(ids)
        n_tok += len(values)
        acc = (acc + doc_checksum(ids, values, offsets)) & MASK64
    signed = acc - (1 << 64) if acc >= 1 << 63 else acc
    yield pa.RecordBatch.from_pydict(
        {"n_docs": [n_docs], "n_tokens": [n_tok], "checksum": [signed]},
        schema=pa.schema(
            [("n_docs", pa.int64()), ("n_tokens", pa.int64()), ("checksum", pa.int64())]
        ),
    )


CHECKSUM_SCHEMA = "n_docs long, n_tokens long, checksum long"


def combine_checksums(rows) -> tuple[int, int, int]:
    """Fold the per-partition consumer rows into (docs, tokens, checksum)."""
    n_docs = sum(r["n_docs"] for r in rows)
    n_tok = sum(r["n_tokens"] for r in rows)
    acc = sum(r["checksum"] & MASK64 for r in rows) & MASK64
    return n_docs, n_tok, acc
