"""The benchmark corpus and the answers every op is checked against.

The corpus is the 8-regime + boundary-row corpus of ``tokseq.datagen``
(a 10^6-token giant doc included), written as parquet part files. It is
generated once per (seed, scale, hash of the code that makes it) into
``<work>/corpus/`` and reused by every later run with the same key, so
generation is never inside a timed or set-up region. The answers are
computed from that parquet with pyarrow and numpy only, never through
the engine.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from .checks import doc_checksum, flat_list

GIANT_DOC_TOKENS = 1_000_000
ROW_GROUP_SIZE = 2048
N_PROBES = 2000
PROBE_K = 32
RANGE_WIDTH = 40


# the code the corpus and its answers come from; a change to any of it
# makes a new cache key
CODE_FILES = ("tokseq/datagen.py", "perfbench/corpus.py", "perfbench/checks.py")


def _code_hash(root: str) -> str:
    h = hashlib.sha256()
    for rel in CODE_FILES:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_corpus(root: str, work: str, seed: int, scale: float) -> str:
    """Directory holding ``parquet/`` and ``answers.json`` for this key,
    built on first use (atomically: a half-built dir is never reused)."""
    key = f"s{scale:g}-seed{seed}-{_code_hash(root)}"
    final = os.path.join(work, "corpus", key)
    if os.path.exists(os.path.join(final, "answers.json")):
        return final
    from tokseq.datagen import write_corpus

    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    pq_dir = write_corpus(
        os.path.join(tmp, "parquet"), scale=scale, seed=seed,
        include_boundary=True, giant_doc_tokens=GIANT_DOC_TOKENS,
        row_group_size=ROW_GROUP_SIZE,
    )
    answers = compute_answers(pq_dir, seed)
    with open(os.path.join(tmp, "answers.json"), "w") as f:
        json.dump(answers, f)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _agg(v: np.ndarray) -> list:
    """(n_tokens, sum_tokens, min_token, max_token), SQL-style nulls."""
    if len(v) == 0:
        return [0, None, None, None]
    return [int(len(v)), int(v.sum()), int(v.min()), int(v.max())]


def compute_answers(pq_dir: str, seed: int) -> dict:
    """Every expected op output, plus the seeded query parameters."""
    tbl = pq.read_table(pq_dir, columns=["doc_id", "tokens", "source"])
    doc_ids = tbl.column("doc_id").to_pylist()
    sources = np.array(tbl.column("source").to_pylist())
    values, offsets = flat_list(tbl.column("tokens"))
    lens = np.diff(offsets)
    rng = np.random.default_rng([seed, 0x9E3779B9])

    src_of_tok = np.repeat(sources, lens)
    per_source = {s: _agg(values[src_of_tok == s]) for s in np.unique(sources)}

    # narrow agg range inside the narrowrange regime ([1e6, 1e6+500)),
    # so zone maps prune every other regime's chunks
    lo = 1_000_000 + int(rng.integers(0, 500 - RANGE_WIDTH))
    agg_range = [lo, lo + RANGE_WIDTH]
    in_agg = values[(values >= agg_range[0]) & (values <= agg_range[1])]
    # count range [0, hi]: whole small-alphabet regimes are zone-
    # contained, the wider ones are boundary chunks
    count_range = [0, int(rng.integers(256, 1024))]
    n_count = int(
        np.count_nonzero((values >= count_range[0]) & (values <= count_range[1]))
    )

    uniq, cnt = np.unique(values, return_counts=True)
    rare_pool = uniq[(cnt >= 2) & (cnt <= 20)]
    if len(rare_pool) == 0:
        rare_pool = uniq[cnt == cnt.min()]
    rare = int(rng.choice(rare_pool))
    doc_of_tok = np.repeat(np.arange(len(doc_ids)), lens)
    per_doc = np.bincount(doc_of_tok[values == rare], minlength=len(doc_ids))
    membership = {doc_ids[i]: int(per_doc[i]) for i in np.flatnonzero(per_doc)}

    nonempty = np.flatnonzero(lens > 0)
    pick = rng.choice(nonempty, N_PROBES)
    pos = (rng.random(N_PROBES) * lens[pick]).astype(np.int64)
    probes, slices = [], []
    for pid, (d, p) in enumerate(zip(pick.tolist(), pos.tolist())):
        probes.append([pid, doc_ids[d], p, PROBE_K])
        start = int(offsets[d]) + p
        end = min(start + PROBE_K, int(offsets[d + 1]))
        slices.append(values[start:end].tolist())

    return {
        "n_docs": len(doc_ids),
        "n_tokens": int(len(values)),
        "checksum": doc_checksum(doc_ids, values, offsets),
        "per_source": per_source,
        "agg_range": agg_range,
        "agg_range_result": _agg(in_agg),
        "count_range": count_range,
        "count_range_result": n_count,
        "rare_token": rare,
        "membership": membership,
        "probes": probes,
        "slices": slices,
    }
