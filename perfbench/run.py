#!/usr/bin/env python3
"""tokseq engine benchmark: one workload run, in a fresh child process.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The corpus for (seed, scale) is built
and cached under ``.perfbench/`` first, outside all timing; then a child
process (its own JVM, ``get_spark(cores=4)``) sets up, runs one cold op
and two warm-up ops, and times ops for ``--seconds``. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end with ``--trace 0``, per-layer with
``--trace 1``). The line before it carries host-noise context (CPU
steal, loadavg, an engine-free numpy timing) and the fail fraction.
``--workload all`` runs every workload in turn.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SCALE = 6.0
CHILD_TIMEOUT_S = 160


def load_spec() -> dict:
    """BENCHMARK.json: the workload names and every metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def numpy_control_s() -> float:
    """Engine-free CPU control: median of 5 sorts of 10^6 doubles."""
    import numpy as np

    a = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(5):
        t = time.perf_counter()
        np.sort(a)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _kill_group(pgid: int) -> None:
    """SIGKILL whatever is left of the child's session and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = False
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    if os.getpgid(int(p)) == pgid:
                        alive = True
                        break
                except ProcessLookupError:
                    continue
        if not alive:
            return
        time.sleep(0.1)


def run_one(spec: dict, workload: str, seed: int, seconds: float, trace: int,
            scale: float, max_ops: int | None) -> tuple[dict, dict]:
    from perfbench.corpus import ensure_corpus

    work = os.path.join(ROOT, ".perfbench")
    corpus_dir = ensure_corpus(ROOT, work, seed, scale)
    run_dir = os.path.join(work, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    cfg = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "max_ops": max_ops, "corpus_dir": corpus_dir, "work_dir": run_dir,
        "result_path": os.path.join(run_dir, "result.json"),
        "spans_path": os.path.join(work, "traces", f"spans-{workload}-seed{seed}.json"),
    }
    tmp = os.path.join(run_dir, "tmp")
    # keep every temp file of the child, its JVM and its workers inside
    # the checkout (JVM options, not Spark configs)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        JAVA_TOOL_OPTIONS=f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {jvm_opts}".strip(),
        TMPDIR=tmp,
    )
    log_path = os.path.join(work, f"child-{workload}.log")
    control_before = numpy_control_s()
    cpu0 = _cpu_times()
    cfg["t_spawn"] = time.monotonic()
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            [sys.executable, "-m", "perfbench.child", cfg_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(child.pid)
            child.wait()
    cpu1 = _cpu_times()
    if code != 0 or not os.path.exists(cfg["result_path"]):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        raise SystemExit(f"{workload}: child exited with {code}")
    with open(cfg["result_path"]) as f:
        res = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    delta = [b - a for a, b in zip(cpu0, cpu1)]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    context = {
        "workload": workload, "seed": seed, "trace": trace,
        "fail_frac": res["failed"] / res["attempted"],
        "errors": res["errors"],
        "samples": res["samples"],
        "window_s": res["window_s"],
        "steal_frac": delta[7] / sum(delta) if sum(delta) else 0.0,
        "loadavg": load,
        "numpy_control_before_s": control_before,
        "numpy_control_after_s": numpy_control_s(),
        "spans_path": res.get("spans_path"),
    }
    values = res["per_layer"] if trace else res.get("end_to_end", {})
    names = spec["per_layer"] if trace else spec["end_to_end"]
    # a metric the child did not produce is a benchmark fault, not a 0
    context["missing"] = [m["name"] for m in names if m["name"] not in values]
    result = {
        "correct": res["failed"] == 0 and not context["missing"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        },
    }
    return result, context


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    spec = load_spec()
    workloads = tuple(w["name"] for w in spec["workloads"])
    ap.add_argument("--workload", required=True, choices=workloads + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="corpus scale (datagen units; 6 = ~12M tokens)")
    ap.add_argument("--max-ops", type=int, default=None,
                    help="cap on timed ops (pairs when tracing)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "tokseq")):
        print(f"no tokseq package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    names = workloads if args.workload == "all" else (args.workload,)
    results = {}
    for w in names:
        result, context = run_one(
            spec, w, args.seed, args.seconds, args.trace, args.scale, args.max_ops
        )
        results[w] = result
        print(json.dumps({"context": context}))
        if args.workload == "all":
            print(json.dumps({"workload": w, **result}))
    if args.workload == "all":
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {
                f"{w}/{n}": v for w, r in results.items() for n, v in r["metrics"].items()
            },
        }
    else:
        final = results[args.workload]
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
