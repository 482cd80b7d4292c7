"""Per-layer metrics from a traced run.

The harness's tracer records Spark's SQL-execution, job, stage and task
events. Each job is joined to the SQL execution it ran under (through
``spark.sql.execution.id``; AQE sub-executions through their root), and
each execution to the program function that issued it: Spark stores the
first program frame as the execution's description, for example
``collect at KMeansFit.scala:90``, and the enclosing ``def`` of that
line in the checkout's sources names the function.
"""

import bisect
import glob
import json
import os
import re
import statistics

DEF = re.compile(r"^\s*(?:(?:private|protected|override|final)(?:\[\w+\])?\s+)*def\s+(\w+)")
CALLSITE = re.compile(r"\bat (\w+)\.scala:(\d+)")
SCAN_BYTES_PER_ROW = 4096


class Sources:
    """Maps ``File.scala:line`` to ``(File, enclosing def)``."""

    def __init__(self, roots):
        self.files = {os.path.basename(p)[:-6]: p for root in roots for p in
                      glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)}
        self.defs = {}

    def function(self, description):
        m = CALLSITE.search(description or "")
        if not m:
            return ("?", "?")
        stem, line = m.group(1), int(m.group(2))
        if stem not in self.defs:
            starts = []
            if stem in self.files:
                with open(self.files[stem]) as f:
                    for i, text in enumerate(f, 1):
                        d = DEF.match(text)
                        if d:
                            starts.append((i, d.group(1)))
            self.defs[stem] = starts
        starts = self.defs[stem]
        i = bisect.bisect_right([s for s, _ in starts], line) - 1
        return (stem, starts[i][1] if i >= 0 else "?")


def load(trace_path):
    with open(trace_path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_s(spans):
    """Total length in seconds of the union of (start_ms, end_ms) spans."""
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e3


def jobs_view(events, sources):
    """Jobs with their stages, tasks, and the program function they serve."""
    sql = {e["id"]: e for e in events if e["ev"] == "sql_start"}
    sql_end = {e["id"]: e["t"] for e in events if e["ev"] == "sql_end"}
    ends = {e["job"]: e for e in events if e["ev"] == "job_end"}
    stages = {}
    for e in events:
        if e["ev"] == "stage":
            stages.setdefault(e["stage"], []).append(e)
    tasks = {}
    for e in events:
        if e["ev"] == "task":
            tasks.setdefault(e["stage"], []).append(e)
    plan_ms = [(e["t"], e["plan_ms"]) for e in events if e["ev"] == "qe"]
    jobs = []
    claimed = set()  # a stage reused by a later job ran in the first one
    for e in events:
        if e["ev"] != "job_start":
            continue
        own = [sid for sid in e["stages"] if sid not in claimed]
        claimed.update(own)
        exec_id = int(e["exec"]) if e["exec"] else None
        root = int(e["root"]) if e["root"] else (
            sql[exec_id]["root"] if exec_id in sql else exec_id)
        desc = sql[root]["desc"] if root in sql else e["callsite"]
        jobs.append({
            "job": e["job"], "start": e["t"],
            "end": ends[e["job"]]["t"] if e["job"] in ends else e["t"],
            "ok": ends.get(e["job"], {}).get("ok", False),
            "root": root, "fn": sources.function(desc), "desc": desc,
            "stages": [s for sid in own for s in stages.get(sid, [])],
            "tasks": [t for sid in own for t in tasks.get(sid, [])],
        })
    return jobs, sql, sql_end, plan_ms


def execution_spans(jobs, sql, sql_end):
    """Root executions in start order: (function, start_ms, end_ms, jobs)."""
    by_root = {}
    for j in jobs:
        by_root.setdefault(j["root"], []).append(j)
    out = []
    for root, js in by_root.items():
        start = sql[root]["t"] if root in sql else min(j["start"] for j in js)
        end = sql_end.get(root, max(j["end"] for j in js))
        out.append((js[0]["fn"], start, end, js))
    return sorted(out, key=lambda x: x[1])


def call_metrics(events, call, sources, n, alive, slots=4):
    """Per-layer metrics of one timed ``KMeansMain.run`` call."""
    jobs, sql, sql_end, plan_ms = jobs_view(events, sources)
    jobs = [j for j in jobs if call["start"] <= j["start"] <= call["end"]]
    stages = [s for j in jobs for s in j["stages"]]
    tasks = [t for j in jobs for t in j["tasks"]]
    execs = execution_spans(jobs, sql, sql_end)
    span_u = union_s([(j["start"], j["end"]) for j in jobs])
    cpu = sum(t["cpu_ns"] for t in tasks) / 1e9
    run = sum(t["run_ms"] for t in tasks) / 1e3

    def spans(fn):
        return [(e - s) / 1e3 for f, s, e, _ in execs if f == fn]

    steps = spans(("KMeansFit", "step"))
    step_tasks = [t for f, _, _, js in execs if f == ("KMeansFit", "step")
                  for j in js for t in j["tasks"]]
    sinks = [(sum(t["out_recs"] for j in js for t in j["tasks"]), (e - s) / 1e3)
             for f, s, e, js in execs if f == ("Tables", "writeCsvSingle")]
    # CSV scans: tasks whose input counts rows. A read of the cached
    # points also counts as input, but one record per cached batch of
    # 10 000 rows, so it never comes near one record per CSV line.
    scan = [t for t in tasks
            if t["in_recs"] and t["in_bytes"] / t["in_recs"] < SCAN_BYTES_PER_ROW]
    pairs = n * sum(alive)
    return {
        "catalyst.planning_ms": float(sum(
            ms for t, ms in plan_ms if call["start"] <= t <= call["end"])),
        "codegen.compile_ms": call["codegen_ns"] / 1e6,
        "codegen.classes": call["codegen_classes"],
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": len(tasks),
        "sched.stage_width_mean": len(tasks) / max(1, len(stages)),
        "sched.slot_util": sum(t["finish"] - t["launch"] for t in tasks)
                           / 1e3 / (slots * span_u) if span_u else 0.0,
        "exec.cpu_s": cpu,
        "exec.run_s": run,
        "exec.offcpu_ratio": 1.0 - cpu / run if run else 0.0,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle.write_bytes": sum(t["sw_bytes"] for t in tasks),
        "shuffle.read_bytes": sum(t["sr_bytes"] for t in tasks),
        "spill.bytes": sum(t["spill"] for t in tasks),
        "driver.gap_s": call["run_s"] - span_u,
        "cache.rdds_left": call["rdds_left"],
        "tasks.failed": sum(1 for t in tasks if not t["ok"]),
        "Tables.csv_scan.task_s": sum(t["run_ms"] for t in scan) / 1e3,
        "Tables.csv_scan.rows": sum(t["in_recs"] for t in scan),
        "Tables.csv_scan.bytes": sum(t["in_bytes"] for t in scan),
        "Tables.sink.s": sum(s for _, s in sinks),
        "Tables.sink_points.s": max(sinks)[1] if sinks else 0.0,
        "KMeansFit.supersteps": len(steps),
        "KMeansFit.step1.s": steps[0] if steps else 0.0,
        "KMeansFit.step.s": statistics.median(steps[1:]) if len(steps) > 1 else 0.0,
        "KMeansFit.sse.s": sum(spans(("KMeansFit", "sse"))),
        "KMeansOps.argmin.pairs": pairs,
        "KMeansOps.step.cpu_ns_per_pair":
            sum(t["cpu_ns"] for t in step_tasks) / pairs if pairs else 0.0,
        "KMeansOps.scan.bytes_computed": n * 16 * len(alive),
        "traced.run_s": call["run_s"],
    }


def functions(events, sources):
    """Seconds of execution span per program function, for the report."""
    jobs, sql, sql_end, _ = jobs_view(events, sources)
    out = {}
    for (stem, fn), s, e, _ in execution_spans(jobs, sql, sql_end):
        key = "%s.%s" % (stem, fn)
        out[key] = out.get(key, 0.0) + (e - s) / 1e3
    return out
