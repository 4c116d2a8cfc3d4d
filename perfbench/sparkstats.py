"""Per-op Spark layer metrics, read from the driver's own status REST API
(``<uiWebUrl>/api/v1``) and attributed to one harness call through its
job group (``SparkContext.setJobGroup``).

Stage metrics come as raw numbers; SQL plan-node metrics come as
Spark's formatted strings ("9.4 s", "5.0 MiB", "3,711") and are parsed
back, so they carry Spark's display precision.
"""

from __future__ import annotations

import json
import time
import urllib.request
from datetime import datetime, timezone

_UNIT = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}

_DONE_JOB = {"SUCCEEDED", "FAILED"}
_DONE_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


def parse_metric(text: str) -> float | None:
    """Spark SQL metric display string -> number (seconds / bytes /
    count), or None for a shape this harness does not read (per-task
    averages print without a total). Aggregated metrics read
    "total (min, med, max ...)\\n<total> (...)"."""
    head = text.split("\n")[-1].split(" (")[0].split()
    try:
        num = float(head[0].replace(",", ""))
        return num * _UNIT[head[1]] if len(head) > 1 else num
    except (IndexError, KeyError, ValueError):
        return None


def _epoch(ts: str) -> float:
    return (
        datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SparkRest:
    def __init__(self, sc, cores: int):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.cores = cores

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def _settled(self, group: str, timeout: float = 30.0):
        """(jobs, stages, sql executions) of ``group`` once the listener
        bus has recorded all of them as finished."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") == group]
            job_ids = {j["jobId"] for j in jobs}
            stage_ids = {s for j in jobs for s in j["stageIds"]}
            stages = [s for s in self._get("stages") if s["stageId"] in stage_ids]
            execs = [
                e for e in self._get(
                    "sql?details=true&planDescription=true&offset=0&length=1000000"
                )
                if job_ids & set(
                    e.get("successJobIds", []) + e.get("failedJobIds", [])
                    + e.get("runningJobIds", [])
                )
            ]
            done = (
                all(j["status"] in _DONE_JOB for j in jobs)
                and all(s["status"] in _DONE_STAGE for s in stages)
                and all(e["status"] != "RUNNING" for e in execs)
            )
            if done or time.monotonic() > deadline:
                return jobs, stages, execs
            time.sleep(0.05)

    def op_metrics(self, group: str, wall: float) -> dict[str, float]:
        jobs, stages, execs = self._settled(group)
        stages = [s for s in stages if s["status"] == "COMPLETE"]
        m: dict[str, float] = {
            "sched.jobs": len(jobs),
            "sched.stages": len(stages),
            "sched.tasks": sum(s["numCompleteTasks"] for s in stages),
            "sched.task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "sched.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "sched.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "exchange.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "exchange.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "exchange.shuffle_write_s": sum(s["shuffleWriteTime"] for s in stages) / 1e9,
            "exchange.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
            "exchange.spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
        }
        m["sched.busy_frac"] = m["sched.task_run_s"] / (self.cores * wall) if wall else 0.0
        spans = [
            (_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
            for j in jobs if j.get("submissionTime") and j.get("completionTime")
        ]
        m["driver.gap_s"] = wall - _union_len(spans)

        node = {
            "scan.files_read": 0.0, "scan.bytes_read": 0.0, "scan.rows_read": 0.0,
            "scan.time_s": 0.0, "arrow.bytes_to_py": 0.0, "arrow.bytes_from_py": 0.0,
            "arrow.py_run_s": 0.0, "arrow.py_start_s": 0.0, "exchange.sort_s": 0.0,
            "pipeline.files_written": 0.0, "pipeline.write_s": 0.0,
            "manifest.write_s": 0.0,
        }
        filter_rows = filter_scan_rows = 0.0
        # run time of the Python node returning the most bytes (on
        # train_read: decode's stitch map, not the checksum consumer)
        top_py = 0.0
        job_stages = {j["jobId"]: set(j["stageIds"]) for j in jobs}
        stage_run = {s["stageId"]: s for s in stages}
        for e in execs:
            vals = {}
            for n in e["nodes"]:
                mv = {x["name"]: parse_metric(x["value"]) for x in n["metrics"]}
                mv = {k: v for k, v in mv.items() if v is not None}
                vals.setdefault(n["nodeName"], []).append(mv)
            scans = [v for k, lst in vals.items() if k.startswith("Scan parquet") for v in lst]
            scan_rows = sum(v.get("number of output rows", 0) for v in scans)
            node["scan.files_read"] += sum(v.get("number of files read", 0) for v in scans)
            node["scan.bytes_read"] += sum(v.get("size of files read", 0) for v in scans)
            node["scan.rows_read"] += scan_rows
            node["scan.time_s"] += sum(v.get("scan time", 0) for v in scans)
            if "Filter" in vals:
                filter_rows += sum(v.get("number of output rows", 0) for v in vals["Filter"])
                filter_scan_rows += scan_rows
            py = [v for k, lst in vals.items() if "Arrow" in k or "Python" in k for v in lst]
            for v in py:
                node["arrow.bytes_to_py"] += v.get("data sent to Python workers", 0)
                node["arrow.bytes_from_py"] += v.get("data returned from Python workers", 0)
                node["arrow.py_start_s"] += v.get("time to start Python workers", 0)
            if py:
                # Python nodes of one plan stream into each other and run
                # concurrently: count the longest, not the sum
                node["arrow.py_run_s"] += max(v.get("time to run Python workers", 0) for v in py)
                heaviest = max(py, key=lambda v: v.get("data returned from Python workers", 0))
                top_py = max(top_py, heaviest.get("time to run Python workers", 0))
            for v in vals.get("Sort", []):
                node["exchange.sort_s"] += v.get("sort time", 0)
            writes = vals.get("Execute InsertIntoHadoopFsRelationCommand", [])
            if writes:
                node["pipeline.files_written"] += sum(
                    v.get("number of written files", 0) for v in writes
                )
                ids = set()
                for j in e.get("successJobIds", []) + e.get("failedJobIds", []):
                    ids |= job_stages.get(j, set())
                write_stage_s = sum(
                    stage_run[s]["executorRunTime"] / 1e3
                    for s in ids if s in stage_run and stage_run[s]["outputBytes"] > 0
                )
                # the write node's details ("Arguments: <path>, ...") come
                # after the plan tree, at the last mention of the node
                plan = e.get("planDescription", "")
                details = plan[plan.rfind("InsertIntoHadoopFsRelationCommand"):]
                target = details.split("Arguments: ", 1)[-1].split(",", 1)[0]
                key = "manifest.write_s" if "/manifest/" in target else "pipeline.write_s"
                node[key] += write_stage_s
        m.update(node)
        m["arrow.top_py_run_s"] = top_py
        m["lookup.zone_rows_kept_frac"] = (
            filter_rows / filter_scan_rows if filter_scan_rows else 1.0
        )
        # write stages also hold their own sort, which is counted twice
        named = (
            m["arrow.py_run_s"] + m["scan.time_s"] + m["exchange.sort_s"]
            + m["exchange.shuffle_write_s"] + m["exchange.fetch_wait_s"] + m["sched.gc_s"]
            + m["pipeline.write_s"] + m["manifest.write_s"]
        )
        m["boundary.other_s"] = m["sched.task_run_s"] - named
        m["trace.named_s"] = named
        return m
