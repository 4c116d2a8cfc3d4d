"""Kernel replay for the traced run: the harness's own mapInArrow over
the same parquet row groups the engine reads (splits from
``tokseq.engine.scan.list_parquet_splits``), timing each public kernel
call with ``perf_counter_ns``. Per-split timers are summed across
workers on the driver, so every ``*_s`` figure is core-seconds.
"""

from __future__ import annotations

from time import perf_counter_ns

import numpy as np
import pyarrow as pa

SOURCES = (
    "uniform2b", "uniform4b", "lowcard", "runs", "narrowrange", "textish",
    "phrases", "heavytail", "boundary",
)
CODECS = ("bitpack", "for", "rle", "dict", "pfor", "split", "pfor_ef", "split3", "fsst")

ENCODE_TIMERS = ("read", "flatten", "rechunk", "stats", "select", "kernel")
DECODE_TIMERS = ("read", "decode", "agg")


def _schema(names):
    return pa.schema([(n, pa.int64()) for n in names])


ENCODE_COLS = [f"{t}_ns" for t in ENCODE_TIMERS] + [
    f"{s}_{x}" for s in SOURCES for x in ("ns", "tok")
]
DECODE_COLS = [f"{t}_ns" for t in DECODE_TIMERS] + [
    f"{c}_{x}" for c in CODECS for x in ("ns", "tok")
]


def _runs(keys: np.ndarray):
    """[start, end) index runs of equal consecutive keys."""
    if len(keys) == 0:
        return
    cut = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    bounds = np.concatenate(([0], cut, [len(keys)]))
    for a, b in zip(bounds[:-1], bounds[1:]):
        yield int(a), int(b)


def encode_map(chunk_width: int):
    def _map(batches):
        import pyarrow.parquet as pq

        from tokseq.engine.encode import (
            encode_batch_kernel, list_column_to_numpy, rechunk_offsets,
        )
        from tokseq.selector import select
        from tokseq.stats import compute_chunk_stats

        for b in batches:
            for path, rg in zip(b.column("path").to_pylist(), b.column("row_group").to_pylist()):
                row = dict.fromkeys(ENCODE_COLS, 0)
                t = perf_counter_ns()
                tbl = pq.ParquetFile(path).read_row_group(rg, columns=["tokens", "source"])
                row["read_ns"] = perf_counter_ns() - t
                t = perf_counter_ns()
                values, row_offsets = list_column_to_numpy(tbl.column("tokens"))
                row["flatten_ns"] = perf_counter_ns() - t
                t = perf_counter_ns()
                offsets, row_of, _ = rechunk_offsets(
                    row_offsets, np.zeros(tbl.num_rows, np.int64), chunk_width
                )
                row["rechunk_ns"] = perf_counter_ns() - t
                t = perf_counter_ns()
                st = compute_chunk_stats(values, offsets, approx=True)
                row["stats_ns"] = perf_counter_ns() - t
                t = perf_counter_ns()
                select(st)
                row["select_ns"] = perf_counter_ns() - t
                # one kernel call per run of same-source chunks (the
                # corpus is written source by source)
                src = np.asarray(tbl.column("source").to_pylist())[row_of]
                for a, z in _runs(src):
                    sub_off = offsets[a : z + 1] - offsets[a]
                    sub = values[offsets[a] : offsets[z]]
                    t = perf_counter_ns()
                    encode_batch_kernel(sub, sub_off)
                    dt = perf_counter_ns() - t
                    row["kernel_ns"] += dt
                    row[f"{src[a]}_ns"] += dt
                    row[f"{src[a]}_tok"] += len(sub)
                yield pa.RecordBatch.from_pylist([row], schema=_schema(ENCODE_COLS))

    return _map


def decode_map(batches):
    import pyarrow.parquet as pq

    from tokseq.engine.agg import agg_batch_kernel
    from tokseq.engine.decode import decode_batch_kernel

    cols = ["payload", "codec", "bit_width", "min_val", "n_values"]
    for b in batches:
        for path, rg in zip(b.column("path").to_pylist(), b.column("row_group").to_pylist()):
            row = dict.fromkeys(DECODE_COLS, 0)
            t = perf_counter_ns()
            tbl = pq.ParquetFile(path).read_row_group(rg, columns=cols)
            payloads = tbl.column("payload").to_pylist()
            codecs = np.asarray(tbl.column("codec").to_pylist())
            widths = tbl.column("bit_width").to_numpy()
            mins = tbl.column("min_val").to_numpy()
            ns = tbl.column("n_values").to_numpy()
            row["read_ns"] = perf_counter_ns() - t
            t = perf_counter_ns()
            decode_batch_kernel(payloads, codecs.tolist(), widths, mins, ns)
            row["decode_ns"] = perf_counter_ns() - t
            t = perf_counter_ns()
            agg_batch_kernel(payloads, codecs.tolist(), widths, mins, ns)
            row["agg_ns"] = perf_counter_ns() - t
            for c in CODECS:
                idx = np.flatnonzero(codecs == c)
                if len(idx) == 0:
                    continue
                sub = [payloads[i] for i in idx]
                t = perf_counter_ns()
                decode_batch_kernel(sub, [c] * len(idx), widths[idx], mins[idx], ns[idx])
                row[f"{c}_ns"] += perf_counter_ns() - t
                row[f"{c}_tok"] += int(ns[idx].sum())
            yield pa.RecordBatch.from_pylist([row], schema=_schema(DECODE_COLS))


def _run(spark, path: str, fn, cols) -> dict[str, int]:
    from tokseq.engine.scan import list_parquet_splits

    pairs = [(p, g) for p, g, _ in list_parquet_splits(path)]
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(pairs, max(1, len(pairs))),
        "path string, row_group int",
    )
    rows = sdf.mapInArrow(fn, ", ".join(f"{c} long" for c in cols)).collect()
    return {c: sum(r[c] for r in rows) for c in cols}


def _mtok_per_s(tok: int, ns: int) -> float:
    return tok / ns * 1e3 if ns else 0.0


def replay(spark, corpus_path: str, encoded_path: str,
           chunk_width: int) -> dict[str, float]:
    """Per-layer kernel figures over the corpus (encode side) and the
    encoded store (decode and agg side)."""
    e = _run(spark, corpus_path, encode_map(chunk_width), ENCODE_COLS)
    d = _run(spark, encoded_path, decode_map, DECODE_COLS)
    m = {
        "scan.pyarrow_read_s": e["read_ns"] / 1e9,
        "encode.flatten_s": e["flatten_ns"] / 1e9,
        "encode.rechunk_s": e["rechunk_ns"] / 1e9,
        "stats.compute_s": e["stats_ns"] / 1e9,
        "selector.select_s": e["select_ns"] / 1e9,
        "encode.kernel_s": e["kernel_ns"] / 1e9,
        "codecs.pack_s": (e["kernel_ns"] - e["stats_ns"] - e["select_ns"]) / 1e9,
        "decode.kernel_s": d["decode_ns"] / 1e9,
        "agg.kernel_s": d["agg_ns"] / 1e9,
    }
    for s in SOURCES:
        m[f"encode.{s}.mtok_per_s_core"] = _mtok_per_s(e[f"{s}_tok"], e[f"{s}_ns"])
    for c in CODECS:
        m[f"codecs.{c}.decode_mtok_per_s_core"] = _mtok_per_s(d[f"{c}_tok"], d[f"{c}_ns"])
    return m
