"""Per-layer numbers from a Spark event log plus the benchmark's spans.

Jobs are attributed to layers by their ``spark.jobGroup.id`` (set by the
tracer's wrappers) and, for jobs Spark submits from its own threads
(broadcasts, subqueries), by the span open when they were submitted.
Stages follow their job and tasks their stage.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from layers import LAYERS

# Per-layer metric -> unit, in the order the table prints them.
LAYER_METRICS = {
    "wall_s": "s",
    "exec_run_s": "s",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "jobs": "count",
    "records_in": "count",
    "records_out": "count",
    "python_rows": "count",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "fetch_wait_s": "s",
    "spill_bytes": "bytes",
    "slot_util": "ratio",
    "task_skew": "ratio",
    "failed_tasks": "count",
}
# Printed in the table but left out of the result line: in local mode
# every shuffle block is local, so no fetch waits, and a failed task fails
# its job, which fails the run. Both read 0 in every valid run.
TABLE_ONLY = ("fetch_wait_s", "failed_tasks")
# Plan nodes that run Python; their "number of output rows" is the count
# of rows that crossed into Python and back.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "AggregateInPandas",
    "WindowInPandas",
)


def _python_accumulators(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName", "").startswith(PYTHON_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def read_events(path: str) -> dict:
    """The parts of an uncompressed event log the layer table needs."""
    jobs, stage_job, tasks, py_acc = {}, {}, [], set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                info = ev["Task Info"]
                py = sum(
                    int(a.get("Update") or 0)
                    for a in info.get("Accumulables", [])
                    if a.get("ID") in py_acc
                )
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "ok": ev["Task End Reason"]["Reason"] == "Success",
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "records_in": (m.get("Input Metrics") or {}).get("Records Read", 0)
                        + sr.get("Total Records Read", 0),
                        "records_out": (m.get("Output Metrics") or {}).get("Records Written", 0)
                        + sw.get("Shuffle Records Written", 0),
                        "python_rows": py,
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    }
                )
            elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}


def _layer_of(job: dict, spans: list[dict]) -> tuple[str, str] | None:
    group = job["group"] or ""
    run, _, layer = group.partition(":")
    if layer in LAYERS:
        return run, layer
    for s in spans:
        if s["start"] <= job["start"] < (s["end"] or float("inf")):
            return s["run"], s["layer"]
    return None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_execution(events: dict, spans: list[dict], executions: list[dict], cores: int) -> dict:
    """{run: {"layer.metric": value, "driver.self_s": value}} for each
    traced execution."""
    job_key = {jid: _layer_of(j, spans) for jid, j in events["jobs"].items()}
    out: dict[str, dict] = {}
    for ex in executions:
        run = ex["run"]
        row = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in LAYER_METRICS}
        for s in spans:
            if s["run"] == run:
                row[f"{s['layer']}.wall_s"] += s["end"] - s["start"]
        job_spans = []
        for jid, key in job_key.items():
            if key and key[0] == run:
                row[f"{key[1]}.jobs"] += 1
                j = events["jobs"][jid]
                job_spans.append(
                    (max(j["start"], ex["start"]), min(j["end"] or ex["end"], ex["end"]))
                )
        row["driver.self_s"] = (ex["end"] - ex["start"]) - _union_s(
            [(s, e) for s, e in job_spans if e > s]
        )
        per_stage: dict[tuple[str, int], list[float]] = defaultdict(list)
        for t in events["tasks"]:
            key = job_key.get(events["stage_job"].get(t["stage"]))
            if not key or key[0] != run:
                continue
            layer = key[1]
            for m in ("records_in", "records_out", "python_rows", "shuffle_write_bytes",
                      "shuffle_read_bytes", "fetch_wait_s", "spill_bytes", "gc_s"):
                row[f"{layer}.{m}"] += t[m]
            row[f"{layer}.exec_run_s"] += t["run_s"]
            row[f"{layer}.exec_cpu_s"] += t["cpu_s"]
            row[f"{layer}.failed_tasks"] += 0 if t["ok"] else 1
            if t["ok"]:
                per_stage[(layer, t["stage"])].append(t["run_s"])
        for layer in LAYERS:
            stages = [v for (lay, _), v in per_stage.items() if lay == layer]
            if stages:
                widest = max(stages, key=lambda v: (len(v), sum(v)))
                row[f"{layer}.task_skew"] = max(widest) / max(statistics.median(widest), 1e-3)
            wall = row[f"{layer}.wall_s"]
            if wall > 0:
                row[f"{layer}.slot_util"] = row[f"{layer}.exec_run_s"] / (wall * cores)
        out[run] = row
    return out


def medians(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


def unit_of(name: str) -> str:
    if name == "driver.self_s":
        return "s"
    if name == "tracing.overhead":
        return "ratio"
    return LAYER_METRICS[name.split(".", 1)[1]]


def format_table(values: dict, n: int, overhead: float | None = None) -> str:
    """The per-layer table: one row per metric, one column per layer,
    medians over ``n`` traced executions."""
    lines = [
        f"per-layer medians over n={n} traced executions",
        f"{'metric':<28}" + "".join(f"{layer:>12}" for layer in LAYERS),
    ]
    for m, unit in LAYER_METRICS.items():
        cells = "".join(f"{values.get(f'{layer}.{m}', 0.0):>12.4g}" for layer in LAYERS)
        lines.append(f"{m + ' (' + unit + ')':<28}{cells}")
    lines.append(f"driver.self_s {values.get('driver.self_s', 0.0):.4f} s")
    if overhead is not None:
        lines.append(f"tracing.overhead {overhead:.4f} (traced job_s / untraced job_s)")
    return "\n".join(lines)
