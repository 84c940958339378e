"""Self-test of the benchmark's own parts, without Spark:

    python3 perfbench/selftest.py

- every workload's generator is deterministic per seed, and a new seed
  changes the rows but not the amount of work;
- the DuckDB oracle agrees with a plain-Python recomputation on tiny
  inputs;
- at full size each workload has the property it was chosen for;
- the event-log reader attributes jobs, tasks and Python rows to layers.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import eventlog  # noqa: E402
import workloads as W  # noqa: E402


def _rows(tdir: str) -> list[dict]:
    return pq.read_table(tdir).to_pylist()


def _digest(tdir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(tdir)):
        h.update(name.encode())
        h.update(json.dumps(pq.read_table(os.path.join(tdir, name)).to_pylist(), default=str).encode())
    return h.hexdigest()


def python_oracle(rows: list[dict]) -> dict:
    nr, rep, tmo, kill = (re.compile(p) for p in (W.P_NR, W.P_REPORT, W.P_TIMEOUT, W.P_KILL))
    convs: dict[str, list[dict]] = {}
    for r in rows:
        convs.setdefault(r["conv_id"], []).append(r)
    counts = {"infra_lambda_rows": 0, "infra_vpc_rows": 0, "infra_other_rows": 0, "logging_rows": 0}
    chunks: dict = {}
    for conv in convs.values():
        tool = conv[0]["tool"]
        lmsg = [bool(nr.match(r["text"]) or tmo.match(r["text"]) or kill.match(r["text"])) for r in conv]
        sink = "vpc" if tool == "vpc" else "lambda" if tool == "lambda" and any(lmsg) else "other"
        kept = [
            r for r, m in zip(conv, lmsg) if sink != "lambda" or m or rep.match(r["text"])
        ]
        counts[f"infra_{sink}_rows"] += len(kept)
        counts["logging_rows"] += len(conv)
        for path, n in (("logging", len(conv)), ("infra", len(kept))):
            if n:
                c, e = chunks.get((sink, path), (0, 0))
                chunks[(sink, path)] = (c + 1, e + n)
    return {"counts": counts, "chunks": chunks}


def check_generators(tmp: str) -> None:
    base = os.path.join(tmp, "base")
    W.write_incremental_base(base, scale=0.02)
    for name in W.WORKLOADS:
        a = W.generate(name, 3, os.path.join(tmp, f"{name}-a"), scale=0.02, base_dir=base)
        b = W.generate(name, 3, os.path.join(tmp, f"{name}-b"), scale=0.02, base_dir=base)
        c = W.generate(name, 4, os.path.join(tmp, f"{name}-c"), scale=0.02, base_dir=base)
        assert _digest(a.transcripts) == _digest(b.transcripts), f"{name}: same seed, other rows"
        assert _digest(a.transcripts) != _digest(c.transcripts), f"{name}: seed changes nothing"
        assert a.turns == c.turns, f"{name}: the seed changed the turn count"
        assert a.expected == b.expected
        want = python_oracle(_rows(a.transcripts))
        assert a.expected == want, f"{name}: oracle {a.expected} != python {want}"
        print(f"ok  {name}: deterministic, oracle agrees ({a.turns} turns)")


def check_properties(tmp: str) -> None:
    base = os.path.join(tmp, "full-base")
    W.write_incremental_base(base)
    for name in W.WORKLOADS:
        got = W.generate(name, 5, os.path.join(tmp, f"full-{name}"), base_dir=base)
        if name == "skewed":
            assert got.max_conv_rows > W.SKEW_THRESHOLD, got.max_conv_rows
        else:
            assert got.max_conv_rows <= W.SKEW_THRESHOLD, got.max_conv_rows
        if name == "incremental":
            con = duckdb.connect()
            base_convs = {r[0] for r in con.execute(f"SELECT DISTINCT conv_id FROM read_parquet('{base}/*.parquet')").fetchall()}
            batch_convs = {r[0] for r in con.execute(
                f"SELECT DISTINCT conv_id FROM read_parquet('{got.transcripts}/part-zzz-batch.parquet')").fetchall()}
            assert len(base_convs & batch_convs) == got.superseded_convs > 0
            # late turns continue their conversation: turn_idx 0..n-1, once each
            gaps = con.execute(
                f"SELECT COUNT(*) FROM (SELECT conv_id FROM read_parquet('{got.transcripts}/*.parquet') "
                "GROUP BY conv_id HAVING COUNT(DISTINCT turn_idx) <> COUNT(*) "
                "OR MAX(turn_idx) + 1 <> COUNT(*))"
            ).fetchone()[0]
            assert gaps == 0, f"{gaps} conversations with repeated or missing turns"
            base_turns = got.expected["counts"]["logging_rows"] - got.turns
            assert 0.005 < got.turns / base_turns < 0.02, (got.turns, base_turns)
        print(f"ok  {name}: {got.turns} turns, max conversation {got.max_conv_rows} rows")


def check_eventlog(tmp: str) -> None:
    def task(stage, run_ms, ok=True, acc=()):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Info": {"Accumulables": [{"ID": i, "Update": u} for i, u in acc]},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 10**6,
                "JVM GC Time": 1,
                "Input Metrics": {"Records Read": 10},
                "Output Metrics": {"Records Written": 5},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7,
                                         "Fetch Wait Time": 2, "Total Records Read": 3},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 11, "Shuffle Records Written": 4},
                "Disk Bytes Spilled": 0,
            },
        }

    plan = {"nodeName": "Project", "children": [
        {"nodeName": "ArrowEvalPython", "metrics": [{"name": "number of output rows", "accumulatorId": 99}],
         "children": []}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100_000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "r1:hub"}},
        task(0, 400), task(0, 100), task(0, 100, acc=[(99, 6)]), task(0, 50, ok=False),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 101_000},
        # a job Spark submits from its own thread: no group, placed by time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 102_500, "Stage IDs": [1],
         "Properties": {}},
        task(1, 300),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 103_000},
    ]
    path = os.path.join(tmp, "events.json")
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(e) for e in events))
    spans = [{"run": "r1", "layer": "hub", "start": 99.5, "end": 102.0},
             {"run": "r1", "layer": "chunks", "start": 102.0, "end": 104.0}]
    executions = [{"run": "r1", "start": 99.5, "end": 104.0}]
    row = eventlog.per_execution(eventlog.read_events(path), spans, executions, cores=2)["r1"]
    assert row["hub.jobs"] == 1 and row["chunks.jobs"] == 1
    assert abs(row["hub.wall_s"] - 2.5) < 1e-9
    assert abs(row["hub.exec_run_s"] - 0.65) < 1e-9
    assert row["hub.failed_tasks"] == 1 and row["hub.python_rows"] == 6
    assert abs(row["hub.task_skew"] - 4.0) < 1e-9  # 400 / median(400, 100, 100)
    assert abs(row["hub.slot_util"] - 0.65 / 5.0) < 1e-9
    assert row["hub.shuffle_read_bytes"] == 28 and row["chunks.records_in"] == 13
    assert abs(row["driver.self_s"] - 3.0) < 1e-9  # 4.5 s minus 1.5 s of jobs
    print("ok  event log: jobs, tasks and Python rows land in their layers")


def main() -> int:
    work_root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work_root) as tmp:
        check_generators(tmp)
        check_properties(tmp)
        check_eventlog(tmp)
    return 0


if __name__ == "__main__":
    sys.exit(main())
