"""The traced run's layer split.

``RestCollector`` runs inside the benchmark process: after each query's
timer stops it reads the driver's monitoring REST API (jobs, stages,
per-stage task quantiles, SQL executions with their node metrics) and
keeps every finished item.  Reading per query keeps each read under the
UI retention caps in ``session.DEFAULT_CONF`` (100 jobs, 100 stages, 16
SQL executions).  Job and execution ids are sequential and every job
reports its completed-stage count, so anything the caps dropped is
counted in ``lost``.

``layers()`` runs in the parent: it attributes each job, stage, SQL
execution and streaming micro-batch to the query whose timed span holds
its submission time (job groups are thread-local, so streaming and side
threads escape them; time does not), sums per pass, and reports each
metric's median over the timed passes.
"""

from __future__ import annotations

import bisect
import json
import statistics
import urllib.request
from datetime import datetime, timezone

#: Task quantiles read per finished stage: 5% resolution for the share of
#: tasks that read nothing, and the median and max reduce-task read.
QUANTILES = [i / 20 for i in range(21)]

MB = 2**20
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}

_STAGE_FIELDS = (
    "stageId", "attemptId", "status", "numTasks", "executorRunTime",
    "executorCpuTime", "jvmGcTime", "inputBytes", "inputRecords",
    "shuffleReadBytes", "shuffleReadRecords", "shuffleWriteBytes",
    "shuffleWriteRecords", "shuffleFetchWaitTime", "diskBytesSpilled",
    "submissionTime",
)

#: SQL node metrics kept, by metric name.
_SQL_METRICS = {
    "scan time": "scan_s",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "data sent to Python workers": "py_in_b",
    "data returned from Python workers": "py_out_b",
}


def _epoch(stamp: str) -> float:
    """REST (``...T09:07:09.014GMT``) or streaming (``...Z``) time."""
    stamp = stamp.replace("GMT", "").replace("Z", "")
    return datetime.fromisoformat(stamp).replace(tzinfo=timezone.utc).timestamp()


def _sql_value(text: str) -> float:
    """A SQL metric's display value in base units (seconds or bytes).
    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    total = text.split("\n")[-1].split("(")[0].split() or ["0"]
    unit = _UNITS.get(total[1], 1.0) if len(total) > 1 else 1.0
    return float(total[0].replace(",", "")) * unit


class RestCollector:
    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple, dict] = {}
        self.sql: dict[int, dict] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def poll(self) -> None:
        for job in self._get("/jobs"):
            if job["status"] != "RUNNING" and "completionTime" in job:
                self.jobs[job["jobId"]] = {
                    "t0": _epoch(job["submissionTime"]),
                    "t1": _epoch(job["completionTime"]),
                    "stages": job["numCompletedStages"],
                    "tasks": job["numCompletedTasks"],
                }
        for st in self._get("/stages"):
            key = (st["stageId"], st["attemptId"])
            if st["status"] != "COMPLETE" or key in self.stages:
                continue
            rec = {k: st.get(k) for k in _STAGE_FIELDS}
            rec["t0"] = _epoch(st["submissionTime"])
            q = ",".join(str(x) for x in QUANTILES)
            summ = self._get(f"/stages/{key[0]}/{key[1]}/taskSummary?quantiles={q}")
            rec["read_q"] = summ["shuffleReadMetrics"]["readBytes"]
            rec["records_q"] = [
                a + b
                for a, b in zip(
                    summ["inputMetrics"]["recordsRead"],
                    summ["shuffleReadMetrics"]["readRecords"],
                )
            ]
            self.stages[key] = rec
        for ex in self._get("/sql?details=true&planDescription=false&length=1000"):
            if ex["status"] == "RUNNING" or ex["id"] in self.sql:
                continue
            sums = dict.fromkeys(_SQL_METRICS.values(), 0.0)
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] in _SQL_METRICS:
                        sums[_SQL_METRICS[m["name"]]] += _sql_value(m["value"])
            sums["t0"] = _epoch(ex["submissionTime"])
            self.sql[ex["id"]] = sums

    def close(self) -> dict:
        self.poll()
        # jobs and SQL executions: a gap in the sequential ids; finished
        # stages: each job reports how many it completed
        lost = {k: max(ids) + 1 - len(ids) for k, ids in (("jobs", self.jobs), ("sql", self.sql)) if ids}
        lost["stages"] = sum(j["stages"] for j in self.jobs.values()) - len(self.stages)
        return {
            "jobs": list(self.jobs.values()),
            "stages": list(self.stages.values()),
            "sql": list(self.sql.values()),
            "lost": lost,
        }


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _empty_share(q: list[float], n_tasks: int) -> float:
    if n_tasks == 1:
        return float(q[-1] == 0)
    return sum(1 for v in q if v == 0) / len(q)


def _pass_metrics(p: dict, items: dict[str, list], streams: dict) -> dict[str, float]:
    """One pass's layer sums from the items attributed to its queries;
    ``streams`` holds the ``ProgressCollector`` counters by query id."""
    qs = [q for q in p["queries"].values() if "wall" in q]
    jobs, stages, sql, batches = items["jobs"], items["stages"], items["sql"], items["streaming"]
    ids = {b["id"] for b in batches}
    run_ms = sum(s["executorRunTime"] for s in stages)
    cpu_ns = sum(s["executorCpuTime"] for s in stages)
    n_tasks = sum(s["numTasks"] for s in stages)
    skews = [
        s["read_q"][-1] / s["read_q"][10]
        for s in stages
        if s["numTasks"] >= 2 and s["read_q"][10] > 0
    ]
    scans = [s for s in stages if s["inputRecords"]]
    pass_s = sum(q["call_s"] + q["force_s"] for q in qs)
    ms = [b["ms"] for b in batches]
    return {
        "sources.scan_s": sum(e["scan_s"] for e in sql),
        "sources.scan_tasks": sum(s["numTasks"] for s in scans),
        "sources.input_rows": sum(s["inputRecords"] for s in stages),
        "sources.input_mb": sum(s["inputBytes"] for s in stages) / MB,
        "operators.call_s": sum(q["call_s"] for q in qs),
        "operators.force_s": sum(q["force_s"] for q in qs),
        "driver.jobs": len(jobs),
        "driver.stages": len(stages),
        "driver.tasks": n_tasks,
        "driver.empty_task_frac": (
            sum(_empty_share(s["records_q"], s["numTasks"]) * s["numTasks"] for s in stages)
            / n_tasks if n_tasks else 0.0
        ),
        "driver.gap_s": max(0.0, pass_s - _union_s([(j["t0"], j["t1"]) for j in jobs])),
        "executor.run_s": run_ms / 1e3,
        "executor.cpu_s": cpu_ns / 1e9,
        "executor.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "executor.cpu_frac": (cpu_ns / 1e6) / run_ms if run_ms else 0.0,
        "shuffle.write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "shuffle.read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "shuffle.write_records": sum(s["shuffleWriteRecords"] for s in stages),
        "shuffle.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "shuffle.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
        "shuffle.skew": max(skews, default=0.0),
        "python.run_s": sum(e["py_run_s"] for e in sql),
        "python.start_s": sum(e["py_start_s"] for e in sql),
        "python.arrow_in_mb": sum(e["py_in_b"] for e in sql) / MB,
        "python.arrow_out_mb": sum(e["py_out_b"] for e in sql) / MB,
        "cache.peak_mb": max((q.get("cache_mb", 0.0) for q in qs), default=0.0),
        "cache.persists": sum(q.get("persists", 0) for q in qs),
        "streaming.batches": sum(streams["batches"][i] for i in ids),
        "streaming.empty_batch_frac": (
            sum(1 for b in batches if b["empty"]) / len(batches) if batches else 0.0
        ),
        "streaming.input_rows": sum(streams["input_rows"][i] for i in ids),
        "streaming.peak_state_rows": max((streams["peak_state_rows"][i] for i in ids), default=0),
        "streaming.add_batch_s": sum(m.get("addBatch", 0) for m in ms) / 1e3,
        "streaming.planning_s": sum(m.get("queryPlanning", 0) for m in ms) / 1e3,
        "streaming.wal_commit_s": sum(m.get("walCommit", 0) for m in ms) / 1e3,
        "host.steal_frac": p["host"]["steal_frac"],
        "host.busy_frac": p["host"]["busy_frac"],
        "host.driver_cpu_s": sum(q["cpu"]["driver"] for q in qs),
        "host.jvm_cpu_s": sum(q["cpu"]["jvm"] for q in qs),
        "host.pyworker_cpu_s": sum(q["cpu"]["pyworker"] for q in qs),
        "trace.pass_s": pass_s,
    }


def attribute(rec: dict) -> tuple[list[dict], int]:
    """Items of each pass, by submission time within its queries' timed
    spans; also the count of items after the first span that fell
    outside every span."""
    spans = sorted(
        (q["wall"][0], q["wall"][1], i)
        for i, p in enumerate(rec["passes"])
        for q in p["queries"].values()
        if "wall" in q
    )
    starts = [s[0] for s in spans]
    per_pass = [{k: [] for k in ("jobs", "stages", "sql", "streaming")} for _ in rec["passes"]]
    outside = 0
    trace = rec["trace"]
    for b in trace["batches"]:
        b["t0"] = _epoch(b["ts"])
    kinds = [(k, trace[k]) for k in ("jobs", "stages", "sql")]
    for kind, items in (*kinds, ("streaming", trace["batches"])):
        for item in items:
            k = bisect.bisect_right(starts, item["t0"]) - 1
            if k < 0:
                continue  # the set-up's first trivial job
            if item["t0"] <= spans[k][1]:
                per_pass[spans[k][2]][kind].append(item)
            else:
                outside += 1
    return per_pass, outside


def layers(rec: dict, all_queries: list[str], timed: range) -> tuple[dict, int]:
    """Median over the timed passes of every per-layer metric, by name,
    with 0 for the operator metrics of queries outside this workload;
    also the count of unattributed items."""
    per_pass, outside = attribute(rec)
    streams = rec["trace"]["streams"]
    rows = [_pass_metrics(rec["passes"][i], per_pass[i], streams) for i in timed]
    for q in all_queries:
        for part in ("call_s", "force_s"):
            for i, row in zip(timed, rows):
                row[f"{q}.{part}"] = rec["passes"][i]["queries"].get(q, {}).get(part, 0.0)
    out = {name: statistics.median(r[name] for r in rows) for name in rows[0]}
    out.update({"entry.import_s": rec["import_s"], "session.boot_s": rec["boot_s"]})
    return out, outside
