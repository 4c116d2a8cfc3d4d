"""One benchmark run, in a fresh process and JVM.

    python3 -m perfbench.child <config.json>

A single driver thread issues one engine call at a time (closed loop,
one client) against ``get_spark(cores=4)`` with the engine's configs
untouched: set-up, one cold op, warm-up ops outside every metric, then
timed ops until the measuring window closes. Every op's output is
checked against answers precomputed from the corpus; an op that raises
or fails its check counts as failed and its time is dropped.

With ``trace`` set, ops alternate untraced / traced. A traced op runs
under its own Spark job group and is followed (untimed) by a read of
Spark's status API; after the window the harness replays the kernels
and, on ``ingest``, the resume path. Spans are kept in memory and
written out when the run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

CORES = 4
CHUNK_WIDTH = 4096
N_BUCKETS = 64
WARMUPS = 2

# harness span names; each is reported as "<name>_s", the median duration
SPANS = (
    "pipeline.run", "decode.docs", "agg.tokens", "agg.range", "agg.count_range",
    "lookup.membership", "lookup.gather", "resume.run", "resume.plan", "chunk.plan",
)


# ------------------------------------------------------------ helpers ---

def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _descendants(root_pid: int) -> list[int]:
    parent = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [root_pid]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        out += nxt
        frontier = nxt
    return out


def python_worker_hwm_mb() -> float:
    """Max VmHWM over this process's Python descendants (the Spark
    Python daemon and its forked workers)."""
    best = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024.0


def p75(samples: list[float]) -> float:
    """Upper quartile of a run's op walls (inclusive method, so it never
    leaves the range of the samples)."""
    if len(samples) == 1:
        return samples[0]
    return statistics.quantiles(samples, n=4, method="inclusive")[2]


class Tracer:
    """In-memory spans (op, name, start, end, parent); epoch seconds."""

    def __init__(self):
        self.spans: list[dict] = []

    @contextmanager
    def span(self, op: str, name: str, parent: str | None = None):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(
                {"op": op, "name": name, "start": t0, "end": time.time(), "parent": parent}
            )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


# ---------------------------------------------------------- workloads ---

class Workload:
    """set-up, one op, and its check. ``op(i, span)`` is the timed call;
    ``span(name)`` wraps each engine call (a no-op when untraced)."""

    def __init__(self, spark, cfg, answers):
        self.spark = spark
        self.cfg = cfg
        self.ans = answers
        self.corpus = os.path.join(cfg["corpus_dir"], "parquet")
        self.work = cfg["work_dir"]
        self.tokens = answers["n_tokens"]
        self.store = os.path.join(self.work, "store")
        self.store_result = None

    def job(self, out_dir):
        from tokseq.engine import EncodeJob

        return EncodeJob(self.spark, out_dir, chunk_width=CHUNK_WIDTH, n_buckets=N_BUCKETS)

    def build_store(self):
        shutil.rmtree(self.store, ignore_errors=True)
        self.store_result = self.job(self.store).run(corpus_path=self.corpus)
        self.enc = self.job(self.store).encoded()

    def setup(self):
        self.build_store()

    def after(self, i, r):
        pass

    def sizes(self) -> dict[str, float]:
        r = self.store_result
        return {
            "bytes_per_token": r.out_bytes / r.n_values,
            "vs_floor": r.out_bytes / r.floor_bytes,
            "store_bytes_per_token": tree_bytes(self.store) / r.n_values,
        }


class Ingest(Workload):
    """Write-once cost: EncodeJob.run(corpus_path=...) into a fresh dir.
    Flush policy: writes land in the page cache, no fsync."""

    NAME = "ingest"

    def setup(self):
        pass

    def _dir(self, i):
        return os.path.join(self.work, f"ingest-{i}")

    def op(self, i, span):
        with span("pipeline.run"):
            return self.job(self._dir(i)).run(corpus_path=self.corpus)

    def check(self, r) -> list[str]:
        errs = []
        if r.n_values != self.tokens:
            errs.append(f"n_values {r.n_values} != corpus tokens {self.tokens}")
        if r.out_bytes > r.floor_bytes:
            errs.append(f"out_bytes {r.out_bytes} > floor {r.floor_bytes}")
        return errs

    def after(self, i, r):
        # keep the latest store (size metrics, replay); drop the one before
        shutil.rmtree(self.store, ignore_errors=True)
        self.store, self.store_result = self._dir(i), r


class TrainRead(Workload):
    """The trainer's full-doc read: decode_docs consumed by a Python
    count + checksum aggregate. Not a timed workload: the traced query
    run issues it once on its store."""

    NAME = "train_read"

    def op(self, i, span):
        from tokseq.engine import decode_docs

        from .checks import CHECKSUM_SCHEMA, checksum_map, combine_checksums

        with span("decode.docs"):
            rows = decode_docs(self.enc).mapInArrow(checksum_map, CHECKSUM_SCHEMA).collect()
        return combine_checksums(rows)

    def check(self, r) -> list[str]:
        want = (self.ans["n_docs"], self.ans["n_tokens"], self.ans["checksum"])
        return [] if tuple(r) == want else [f"decode (docs, tokens, checksum) {r} != {want}"]


class Query(Workload):
    """A fixed round of compressed-domain analytics and random access."""

    NAME = "query"

    def setup(self):
        self.build_store()
        import pandas as pd

        probes = pd.DataFrame(self.ans["probes"], columns=["probe_id", "doc_id", "pos", "k"])
        self.probes = self.spark.createDataFrame(probes)

    def op(self, i, span):
        from tokseq.engine.agg import agg_tokens, count_tokens
        from tokseq.engine.lookup import gather_slices, token_membership

        a = self.ans
        with span("agg.tokens"):
            per_source = agg_tokens(self.enc, "source").collect()
        with span("agg.range"):
            ranged = agg_tokens(self.enc, token_range=tuple(a["agg_range"])).collect()
        with span("agg.count_range"):
            counted = count_tokens(self.enc, tuple(a["count_range"])).collect()
        with span("lookup.membership"):
            member = token_membership(self.enc, a["rare_token"]).collect()
        with span("lookup.gather"):
            sliced = gather_slices(self.enc, self.probes, CHUNK_WIDTH).collect()
        return per_source, ranged, counted, member, sliced

    def check(self, r) -> list[str]:
        per_source, ranged, counted, member, sliced = r
        a, errs = self.ans, []
        got = {
            row["source"]: [row["n_tokens"], row["sum_tokens"], row["min_token"], row["max_token"]]
            for row in per_source
        }
        if got != a["per_source"]:
            errs.append("agg_tokens(source) mismatch")
        row = ranged[0]
        if [row["n_tokens"], row["sum_tokens"], row["min_token"], row["max_token"]] \
                != a["agg_range_result"]:
            errs.append("agg_tokens(token_range) mismatch")
        if counted[0]["n_tokens"] != a["count_range_result"]:
            errs.append("count_tokens(token_range) mismatch")
        if {x["doc_id"]: x["n_occurrences"] for x in member} != a["membership"]:
            errs.append("token_membership mismatch")
        by_probe = {x["probe_id"]: list(x["tokens"]) for x in sliced}
        if [by_probe.get(i) for i in range(len(a["slices"]))] != a["slices"]:
            errs.append("gather_slices mismatch")
        return errs


class Resume(Workload):
    """EncodeJob.run(docs=corpus_df, resume=True) onto a copied-in
    template store that holds a seeded half of the buckets. Not a timed
    workload: the traced ingest run issues it once. Noop sinks of
    EncodeJob.plan(resume=True) and plan_chunks time the planners alone.
    ``full`` is the full encode's result: totals after resume must equal
    it. out_bytes is not compared, because FSST tables are learned per
    batch and a resumed batch may pick different symbols."""

    NAME = "resume"

    def __init__(self, spark, cfg, answers, full):
        super().__init__(spark, cfg, answers)
        self.full = full

    def setup(self):
        import numpy as np
        from pyspark.sql import functions as F

        from tokseq.engine.resume import with_bucket

        self.docs = self.spark.read.parquet(self.corpus)
        rng = np.random.default_rng([self.cfg["seed"], 7])
        half = rng.choice(N_BUCKETS, N_BUCKETS // 2, replace=False).tolist()
        part = with_bucket(self.docs, N_BUCKETS).filter(F.col("bucket").isin(half))
        template = os.path.join(self.work, "resume-template")
        self.job(template).run(docs=part.drop("bucket"))
        self.store = os.path.join(self.work, "resume-run")
        shutil.copytree(template, self.store)

    def op(self, i, span):
        from tokseq.engine.chunk import plan_chunks

        with span("resume.plan"):
            self.job(self.store).plan(self.docs, resume=True) \
                .write.format("noop").mode("overwrite").save()
        with span("chunk.plan"):
            plan_chunks(self.docs, CHUNK_WIDTH).write.format("noop").mode("overwrite").save()
        with span("resume.run"):
            return self.job(self.store).run(docs=self.docs, resume=True)

    def check(self, r) -> list[str]:
        return [
            f"resume {k} {getattr(r, k)} != full encode {getattr(self.full, k)}"
            for k in ("n_chunks", "n_values", "in_bytes", "floor_bytes")
            if getattr(r, k) != getattr(self.full, k)
        ]


WORKLOADS = {w.NAME: w for w in (Ingest, Query)}


# ------------------------------------------------------------- runner ---

class Runner:
    """Issues ops one at a time, times them, checks them, and counts
    attempts and failures. In a traced run every op gets its own Spark
    job group; a traced op also records harness spans and, after its
    timer stops, its Spark layer metrics."""

    def __init__(self, sc, cfg, tracer: Tracer, rest):
        self.sc = sc
        self.trace = bool(cfg["trace"])
        self.tracer = tracer
        self.rest = rest
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.rss = 0.0
        self.op_stats: list[dict] = []

    def run(self, wl: Workload, op_id: str, i: int, traced: bool = False):
        """Wall seconds of a passing op, else None."""
        self.attempted += 1
        if self.trace:
            self.sc.setJobGroup(op_id, wl.cfg["workload"])
        name = wl.NAME
        span = (lambda n: self.tracer.span(op_id, n, name)) if traced \
            else (lambda n: nullcontext())
        t0, t_epoch = time.perf_counter(), time.time()
        try:
            r = wl.op(i, span)
        except Exception as e:  # an op that raises counts as failed
            self.failed += 1
            self.errors.append(f"{op_id}: {type(e).__name__}: {e}"[:500])
            return None
        wall = time.perf_counter() - t0
        if traced:
            self.tracer.spans.append(
                {"op": op_id, "name": name, "start": t_epoch,
                 "end": t_epoch + wall, "parent": None}
            )
        errs = wl.check(r)
        wl.after(i, r)
        self.rss = max(self.rss, python_worker_hwm_mb())
        if errs:
            self.failed += 1
            self.errors.extend(f"{op_id}: {e}" for e in errs)
            return None
        if traced:
            self.op_stats.append(self.rest.op_metrics(op_id, wall))
        return wall


# ------------------------------------------------------------- traced ---

def codec_mix(store: str) -> dict[str, float]:
    import pyarrow.parquet as pq

    from .replay import CODECS

    m = pq.read_table(
        os.path.join(store, "manifest", "chunks"), columns=["codec", "out_bytes"]
    ).to_pydict()
    n, total = len(m["codec"]), sum(m["out_bytes"])
    out = {}
    for c in CODECS:
        sel = [b for k, b in zip(m["codec"], m["out_bytes"]) if k == c]
        out[f"selector.{c}.chunk_share"] = len(sel) / n if n else 0.0
        out[f"selector.{c}.byte_share"] = sum(sel) / total if total else 0.0
    return out


def zone_counts(enc, lo: int, hi: int) -> dict[str, float]:
    from tokseq.engine.lookup import zone_contained_filter, zone_range_filter

    total = enc.count()
    cand = enc.filter(zone_range_filter(lo, hi)).count()
    contained = enc.filter(zone_range_filter(lo, hi) & zone_contained_filter(lo, hi)).count()
    return {
        "agg.pruned_chunks": total - cand,
        "agg.contained_chunks": contained,
        "agg.boundary_chunks": cand - contained,
    }


def _median_stats(stats: list[dict]) -> dict[str, float]:
    return {k: statistics.median(s[k] for s in stats) for k in stats[0]} if stats else {}


def traced_layers(wl: Workload, run: Runner, setup_stats: dict, untraced: list,
                  traced: list) -> dict[str, float]:
    """Per-layer figures of a traced run, after its timed window."""
    from .replay import replay

    run.sc.setJobGroup("replay", "replay")
    m = _median_stats(run.op_stats)
    m["session.py_worker_start_s"] = setup_stats.get("arrow.py_start_s", 0.0)
    m.update(replay(wl.spark, wl.corpus, os.path.join(wl.store, "encoded"), CHUNK_WIDTH))
    m.update(codec_mix(wl.store))
    m.update(zone_counts(wl.job(wl.store).encoded(), *wl.ans["agg_range"]))
    m["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(untraced) - 1
        if traced and untraced else 0.0
    )
    m["trace.explained_frac"] = (
        m["trace.named_s"] / m["sched.task_run_s"] if m.get("sched.task_run_s") else 0.0
    )
    # layers the timed workload bypasses, exercised once here
    if isinstance(wl, Ingest):
        extra = Resume(wl.spark, wl.cfg, wl.ans, wl.store_result)
        extra.setup()
    else:
        extra = TrainRead(wl.spark, wl.cfg, wl.ans)
        extra.store, extra.enc, extra.store_result = wl.store, wl.enc, wl.store_result
    n = len(run.op_stats)
    run.run(extra, extra.NAME, 0, traced=True)
    decode_stats = run.op_stats[n:] if isinstance(extra, TrainRead) else []
    m["decode.stitch_s"] = (
        statistics.median(s["arrow.top_py_run_s"] for s in decode_stats) - m["decode.kernel_s"]
        if decode_stats else 0.0
    )
    for name in SPANS:
        d = run.tracer.durations(name)
        m[f"{name}_s"] = statistics.median(d) if d else 0.0
    return m


# --------------------------------------------------------------- main ---

def main(cfg: dict) -> dict:
    from tokseq.engine import get_spark

    with open(os.path.join(cfg["corpus_dir"], "answers.json")) as f:
        answers = json.load(f)
    trace = bool(cfg["trace"])
    spark = get_spark(cores=CORES, app_name=f"perfbench-{cfg['workload']}")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    rest = None
    if trace:
        from .sparkstats import SparkRest

        rest = SparkRest(sc, CORES)
        sc.setJobGroup("setup", "setup")
    wl = WORKLOADS[cfg["workload"]](spark, cfg, answers)
    wl.setup()
    run = Runner(sc, cfg, Tracer(), rest)

    # the cold op stays in the set-up job group
    if run.run(wl, "setup", 0) is None:
        raise SystemExit(f"cold op failed: {run.errors}")
    setup_s = time.monotonic() - cfg["t_spawn"]
    setup_stats = rest.op_metrics("setup", setup_s) if trace else {}
    for i in range(1, 1 + WARMUPS):
        run.run(wl, f"op{i}", i)

    # timed window; a traced run alternates untraced / traced ops
    samples: list[float] = []
    traced_walls: list[float] = []
    max_ops = cfg.get("max_ops")
    t_begin = time.monotonic()
    i = 1 + WARMUPS
    while time.monotonic() - t_begin < cfg["seconds"] and (
        max_ops is None or len(samples) < max_ops
    ):
        w = run.run(wl, f"op{i}", i)
        if w is not None:
            samples.append(w)
        i += 1
        if trace:
            w = run.run(wl, f"op{i}", i, traced=True)
            if w is not None:
                traced_walls.append(w)
            i += 1
    window_s = time.monotonic() - t_begin

    out = {"window_s": window_s, "samples": samples}
    if samples:
        p50 = statistics.median(samples)
        out["end_to_end"] = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "op_p75_s": p75(samples),
            "tok_per_s": wl.tokens / p50,
            "worker_peak_rss_mb": run.rss,
            **wl.sizes(),
        }
    if trace:
        out["per_layer"] = traced_layers(wl, run, setup_stats, samples, traced_walls)
        with open(cfg["spans_path"], "w") as f:
            json.dump(run.tracer.spans, f)
        out["spans_path"] = cfg["spans_path"]
    out.update(attempted=run.attempted, failed=run.failed, errors=run.errors[:20])
    spark.stop()
    return out


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        config = json.load(f)
    result = main(config)
    with open(config["result_path"], "w") as f:
        json.dump(result, f)
