"""Benchmark of the shipped batch jobs: ``plans.job.run_pipeline`` and
``plans.incremental.run_incremental``, called unmodified.

    python3 perfbench/run.py --workload random --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed, starts Spark through ``session.get_spark`` on ``local[<cores>]``
(default: every CPU this process may use), runs the job in a closed loop,
one execution at a time, checks every execution's outputs against a
DuckDB oracle and prints the metrics. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (median of
SETUPS session starts, each in a fresh JVM), ``cold_job_s`` (the first
execution in a fresh session), and over the warm executions that follow
WARMUP untimed ones and end within ``--seconds`` of the cold one (at
least MIN_WARM): ``job_s``, ``turns_per_s`` and ``cpu_s`` (CPU of this
process tree per execution). It also prints
``peak_rss_mb``, which is not a result metric: it swings by a third
between runs with when the JVM grows its heap.

``--trace 1`` runs one session with Spark's event log on and alternates
traced executions (layer spans, job groups, event log attached) with
untraced ones, then reports the per-layer metrics of the traced
executions (see layers.py, eventlog.py) and ``tracing.overhead``, the
ratio of their median times. ``--save DIR`` keeps the event log and the
spans; ``python3 perfbench/report.py DIR`` reprints the table from them.

All files go under ``.perfbench_work/`` in the checkout and are removed
at exit, except the incremental bootstrap state, which is cached there
(see ``incremental_cache``).
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import proctree  # noqa: E402
import workloads  # noqa: E402
from layers import EventLogSwitch, Tracer  # noqa: E402

PACKAGE = "aws_log_ingestion_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUPS = 2
# Warm executions after the cold one that are checked but not timed. The
# first warm execution still runs alongside the JIT compiling what the
# cold one made hot: its JIT threads took 2-19 CPU-s of its ~32 across
# runs, and its CPU time spread ~10% across seeds against ~3% for the
# execution after it.
WARMUP = 1
# Timed warm executions a run makes at least, however short --seconds is.
MIN_WARM = 1
BUCKETED_TABLE = "perfbench_input"
E2E_UNITS = {
    "job_s": "s",
    "turns_per_s": "turns/s",
    "cpu_s": "CPU-s",
    "cold_job_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- session
# the program's tuning environment: the benchmark measures its defaults
PROGRAM_KNOBS = (
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_EXTRA_CONF",
    "SPARK_GRAFT_PARQUET_CODEC",
    "SPARK_DRIVER_MEMORY",
    "SPARK_DRIVER_JAVA_OPTIONS",
    "SPARK_UI",
    "DEBUG_LOGGING_ENABLED",
)


def configure_process(work: str) -> list[str]:
    """Point this process, the JVM and the Python workers at the checkout,
    keep every scratch file inside ``work`` and unset the program's tuning
    knobs. Returns the knobs that were set."""
    dropped = [k for k in PROGRAM_KNOBS if os.environ.pop(k, None) is not None]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_SKEW_THRESHOLD"] = str(workloads.SKEW_THRESHOLD)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path.insert(0, ROOT)
    return dropped


def start_session(work: str, cores: int, eventlog_dir: str | None = None):
    """A fresh session from ``session.get_spark``; returns it with the
    seconds get_spark took."""
    from aws_log_ingestion_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and its JVM, so the next start is a fresh one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def check_package_origin(spark) -> dict:
    """The driver and a Python worker must both import the package from
    this checkout, not from a zip or another copy."""
    import aws_log_ingestion_spark

    driver = os.path.abspath(aws_log_ingestion_spark.__file__)
    worker = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__(PACKAGE).__file__)
        .collect()[0]
    )
    want = os.path.join(ROOT, PACKAGE) + os.sep
    for side, path in (("driver", driver), ("worker", os.path.abspath(worker))):
        if not path.startswith(want) or ".zip" in path:
            raise RuntimeError(f"{side} imports {PACKAGE} from {path}, not from {want}")
    return {"driver": driver, "worker": worker}


# ---------------------------------------------------------------- the job
def job_config():
    """The configuration the spark-submit entry points run with."""
    from aws_log_ingestion_spark.config import PipelineConfig

    return PipelineConfig(logging_enabled=True)


def incremental_cache(cores: int) -> str:
    """The incremental workload's base corpus and the state its bootstrap
    left, built once per program version and core count in a separate
    process and reused by later runs in this checkout. The bootstrap is
    untimed set-up; building it in its own process keeps every run's
    session cold. The key covers the core count, the Spark version, this
    file, the generators and the package; building a new state removes
    the states of other keys."""
    import pyspark

    digest = hashlib.sha256(f"{cores} {pyspark.__version__}".encode())
    sources = [os.path.abspath(__file__), os.path.join(HERE, "workloads.py")]
    for dirpath, dirs, names in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs.sort()
        sources += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py")]
    for path in sources:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    cache_root = os.path.join(WORK_ROOT, "cache")
    cache = os.path.join(cache_root, f"incremental-{digest.hexdigest()[:16]}")
    if not os.path.isdir(cache):
        tmp = f"{cache}.tmp{os.getpid()}"
        for stale in os.listdir(cache_root) if os.path.isdir(cache_root) else ():
            shutil.rmtree(os.path.join(cache_root, stale), ignore_errors=True)
        log(f"building the incremental bootstrap state in {cache}")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--bootstrap-into", tmp, "--cores", str(cores)],
            check=True,
            timeout=600,
            stdout=sys.stderr,
        )
        os.rename(tmp, cache)
    return cache


def bootstrap_into(target: str, cores: int) -> None:
    """Child process of ``incremental_cache``: write the base corpus and
    ingest it as the first batch."""
    work = os.path.join(target, "work")
    configure_process(work)
    workloads.write_incremental_base(os.path.join(target, "base"))
    spark, _ = start_session(work, cores)
    try:
        from aws_log_ingestion_spark.plans.incremental import run_incremental

        run_incremental(spark, os.path.join(target, "base"), os.path.join(target, "state"), job_config())
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


class Job:
    """One workload's inputs, state and entry-point call."""

    def __init__(self, inputs: workloads.Inputs, work: str, state: str | None = None):
        self.inputs = inputs
        self.work = work
        self.cfg = job_config()
        self.state = state  # incremental: the bootstrap's output directory
        self.bucketed_dir = os.path.join(work, "bucketed")
        self._n = 0

    @property
    def incremental(self) -> bool:
        return self.inputs.name == "incremental"

    def prepare_files(self, spark) -> None:
        """Write the bucketed table's files. Uses Spark only, no program
        code, so it can run in a throwaway session."""
        from pyspark.sql import functions as F

        if self.inputs.name == "bucketed":
            t = spark.read.parquet(self.inputs.transcripts)
            (
                t.repartition(workloads.BUCKETS, F.col("conv_id"))
                .write.mode("overwrite")
                .option("path", self.bucketed_dir)
                .bucketBy(workloads.BUCKETS, "conv_id")
                .sortBy("conv_id", "turn_idx")
                .saveAsTable(BUCKETED_TABLE)
            )

    def attach(self, spark) -> None:
        """Register the bucketed table in a new session's catalog."""
        if self.inputs.name == "bucketed":
            spark.sql(f"DROP TABLE IF EXISTS {BUCKETED_TABLE}")
            spark.sql(
                f"CREATE TABLE {BUCKETED_TABLE} "
                "(conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP) "
                "USING parquet "
                f"CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx) "
                f"INTO {workloads.BUCKETS} BUCKETS LOCATION '{self.bucketed_dir}'"
            )

    def bucketed_scan(self, spark) -> bool:
        """Whether the input scan carries the conv_id bucketing (checked on
        a conv_id aggregate, which the planner keeps bucketing for)."""
        if self.inputs.name != "bucketed":
            return False
        df = spark.table(BUCKETED_TABLE).groupBy("conv_id").count()
        return "Bucketed: true" in df._jdf.queryExecution().executedPlan().toString()

    def fresh_out(self) -> str:
        self._n += 1
        out = os.path.join(self.work, f"out{self._n}")
        shutil.rmtree(out, ignore_errors=True)
        if self.incremental:
            shutil.copytree(self.state, out)
        return out

    def execute(self, spark, out: str) -> dict:
        """The timed call: input to committed outputs and manifest."""
        if self.incremental:
            from aws_log_ingestion_spark.plans.incremental import run_incremental

            return run_incremental(spark, self.inputs.transcripts, out, self.cfg)
        from aws_log_ingestion_spark.plans.job import run_pipeline

        if self.inputs.name == "bucketed":
            transcripts = spark.table(BUCKETED_TABLE)
        else:
            transcripts = spark.read.parquet(self.inputs.transcripts)
        conv_meta = spark.read.parquet(self.inputs.conv_meta)
        return run_pipeline(spark, transcripts, conv_meta, out, self.cfg)

    # ---- output check ------------------------------------------------
    def check(self, out: str, result: dict) -> list[str]:
        exp = self.inputs.expected
        problems = []
        if result["counts"] != exp["counts"]:
            problems.append(f"returned counts {result['counts']} != oracle {exp['counts']}")
        files = footer_counts(out)
        if files != exp["counts"]:
            problems.append(f"committed files hold {files} != oracle {exp['counts']}")
        if self.incremental:
            rec = _read_json(os.path.join(out, "_checkpoints", f"ingest.b{result['batch_id']}.json"))
            totals = rec["chunk_totals"]
            if result["superseded_convs"] != self.inputs.superseded_convs:
                problems.append(
                    f"superseded_convs {result['superseded_convs']} != "
                    f"generated {self.inputs.superseded_convs}"
                )
        else:
            totals = result["manifest"]["chunks"]["totals"]
        chunks = {(t["sink"], t["path"]): (t["n_convs"], t["n_events"]) for t in totals}
        if chunks != exp["chunks"]:
            problems.append(f"chunk n_convs/n_events {chunks} != oracle {exp['chunks']}")
        return problems

    def convs_over_cap(self, out: str) -> int:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(out, "chunk_stats"), columns=["conv_id", "raw_bytes"])
        big = {c for c, b in zip(t["conv_id"].to_pylist(), t["raw_bytes"].to_pylist())
               if b > self.cfg.max_payload_size}
        return len(big)


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def footer_counts(out: str) -> dict:
    """Rows in the committed sink files, from parquet footers."""
    import pyarrow.parquet as pq

    counts = {"infra_lambda_rows": 0, "infra_vpc_rows": 0, "infra_other_rows": 0, "logging_rows": 0}
    for sink_root, key_of in (
        ("infra", lambda parts: next((f"infra_{p[5:]}_rows" for p in parts if p.startswith("sink=")), None)),
        ("logging", lambda parts: "logging_rows"),
    ):
        for dirpath, _dirs, names in os.walk(os.path.join(out, sink_root)):
            key = key_of(os.path.relpath(dirpath, out).split(os.sep))
            for name in names:
                if name.endswith(".parquet") and key in counts:
                    counts[key] += pq.ParquetFile(os.path.join(dirpath, name)).metadata.num_rows
    return counts


# ---------------------------------------------------------------- runs
class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, job: Job, spark, on_ok=None, span=None) -> tuple[float, float, dict | None]:
        """One execution: (wall s, tree CPU s, result or None on failure).
        ``span`` is a context manager held around the entry-point call
        only, not around the benchmark's own work before and after it."""
        self.attempted += 1
        out = job.fresh_out()
        # start every execution with no dirty pages left to write back
        # (the state copy, the last output's removal) and from a collected
        # heap, so when the kernel's writeback or the JVM's collector
        # happens to run does not move the timings
        os.sync()
        spark.sparkContext._jvm.System.gc()
        cpu0 = proctree.cpu_seconds()
        t0 = time.perf_counter()
        try:
            with span if span is not None else contextlib.nullcontext():
                result = job.execute(spark, out)
        except Exception:  # counted, reported, and the loop goes on
            elapsed = time.perf_counter() - t0
            self.failed += 1
            log(traceback.format_exc())
            shutil.rmtree(out, ignore_errors=True)
            return elapsed, proctree.cpu_seconds() - cpu0, None
        elapsed = time.perf_counter() - t0
        cpu = proctree.cpu_seconds() - cpu0
        log(f"execution {self.attempted}: {elapsed:.3f} s, {cpu:.2f} CPU-s")
        try:
            problems = job.check(out, result)
        except Exception:  # an unreadable output is a failed check
            problems = [traceback.format_exc()]
        if problems:
            self.failed += 1
            log("output check failed: " + "; ".join(problems))
            result = None
        elif on_ok is not None:
            on_ok(out, result)
        shutil.rmtree(out, ignore_errors=True)
        return elapsed, cpu, result


def guard_properties(job: Job, spark, props: dict) -> None:
    """Fail loudly when a workload lost the property it was chosen for."""
    from aws_log_ingestion_spark.plans import job as job_mod

    name = job.inputs.name
    if job_mod.SKEW_THRESHOLD != workloads.SKEW_THRESHOLD:
        raise RuntimeError(
            f"the job runs with SKEW_THRESHOLD={job_mod.SKEW_THRESHOLD}, "
            f"not the benchmark's {workloads.SKEW_THRESHOLD}"
        )
    props["skew_threshold"] = job_mod.SKEW_THRESHOLD
    props["max_conv_rows"] = job.inputs.max_conv_rows
    props["salted_route"] = job.inputs.max_conv_rows > job_mod.SKEW_THRESHOLD
    props["bucketed_scan"] = job.bucketed_scan(spark)
    want = {
        "salted_route": name == "skewed",
        "bucketed_scan": name == "bucketed",
    }
    if name != "incremental":
        want["convs_over_cap"] = name == "skewed"
    else:
        want["superseded_convs"] = True
    for key, expected in want.items():
        if key in props and bool(props[key]) != expected:
            raise RuntimeError(
                f"workload {name} lost its property: {key}={props[key]} (want {'>0' if expected else 'none'})"
            )


def guard_output(job: Job, spark, props: dict, out: str, result: dict) -> None:
    """``on_ok`` hook for a cold execution: record the properties that
    only the output shows, then guard them."""
    if job.incremental:
        props["superseded_convs"] = result["superseded_convs"]
    else:
        props["convs_over_cap"] = job.convs_over_cap(out)
    guard_properties(job, spark, props)


def _stats(values: list[float]) -> dict:
    v = sorted(values)
    if len(v) >= 2:
        q1, med, q3 = statistics.quantiles(v, n=4, method="inclusive")
    else:
        q1 = med = q3 = v[0]
    return {"median": med, "q1": q1, "q3": q3, "n": len(v)}


def timed_run(job: Job, work: str, cores: int, seconds: float) -> tuple[dict, Tally, dict]:
    """SETUPS fresh sessions; the last one runs the cold execution, WARMUP
    untimed warm ones and then timed ones, starting another only while it
    should end within ``seconds`` of the cold one (the last one took as
    long). No program code runs before the last session: the program
    caches Python UDF handles bound to the JVM they were first used in."""
    tally = Tally()
    props: dict = {}
    setups = []
    spark = None
    try:
        for i in range(SETUPS):
            if spark is not None:
                stop_session(spark)
            spark, dt = start_session(work, cores)
            setups.append(dt)
            if i == 0:
                job.prepare_files(spark)
        job.attach(spark)
        guard_properties(job, spark, props)
        cold, _, _ = tally.run(job, spark, on_ok=functools.partial(guard_output, job, spark, props))
        deadline = time.perf_counter() + seconds
        for _ in range(WARMUP):
            tally.run(job, spark)
        warm, cpus = [], []
        cycle = 0.0  # wall time of the last timed execution with its check
        while len(warm) < MIN_WARM or time.perf_counter() + cycle <= deadline:
            t0 = time.perf_counter()
            elapsed, cpu, _ = tally.run(job, spark)
            cycle = time.perf_counter() - t0
            warm.append(elapsed)
            cpus.append(cpu)
        peak_mb = proctree.peak_rss_mb()
        props["package"] = check_package_origin(spark)
    finally:
        if spark is not None:
            stop_session(spark)
    turns = job.inputs.turns
    stats = {
        "job_s": _stats(warm),
        "turns_per_s": _stats([turns / t for t in warm]),
        "cpu_s": _stats(cpus),
        "cold_job_s": _stats([cold]),
        "setup_s": _stats(setups),
        "peak_rss_mb": _stats([peak_mb]),
    }
    return stats, tally, props


def traced_run(job: Job, work: str, cores: int, seconds: float, save: str | None):
    tally = Tally()
    props: dict = {}
    log_dir = os.path.join(work, "eventlog")
    spark, _ = start_session(work, cores, eventlog_dir=log_dir)
    tracer = Tracer(spark)
    try:
        switch = EventLogSwitch(spark)
        switch.detach()
        job.prepare_files(spark)
        job.attach(spark)
        guard_properties(job, spark, props)
        # the cold execution and WARMUP untraced ones warm the session
        tally.run(job, spark, on_ok=functools.partial(guard_output, job, spark, props))
        deadline = time.perf_counter() + seconds
        for _ in range(WARMUP):
            tally.run(job, spark)
        tracer.install()
        times = {True: [], False: []}
        k = 0
        # whole pairs, at least two: (traced, untraced), (untraced, traced),
        # ... Warm executions still get faster, so a single pair would
        # charge that to whichever side went first.
        while k % 2 or k < 4 or time.perf_counter() < deadline:
            traced = (k % 2 == 0) == ((k // 2) % 2 == 0)
            k += 1
            span = tracer.execution(f"r{k}", "overlap" if job.incremental else None) if traced else None
            if traced:
                switch.attach()
            try:
                elapsed, _, _ = tally.run(job, spark, span=span)
            finally:
                if traced:
                    switch.detach()
            times[traced].append(elapsed)
        switch.attach()
        props["package"] = check_package_origin(spark)
    finally:
        tracer.uninstall()
        stop_session(spark)
    (log_file,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    rows = eventlog.per_execution(
        eventlog.read_events(log_file), tracer.spans, tracer.executions, cores
    )
    values = eventlog.medians(list(rows.values()))
    values["tracing.overhead"] = statistics.median(times[True]) / statistics.median(times[False])
    if save:
        os.makedirs(save, exist_ok=True)
        shutil.copy(log_file, os.path.join(save, "eventlog.json"))
        with open(os.path.join(save, "spans.json"), "w") as f:
            json.dump(
                {
                    "spans": tracer.spans,
                    "executions": tracer.executions,
                    "cores": cores,
                    "overhead": values["tracing.overhead"],
                },
                f,
            )
    return values, len(rows), tally, props


# ---------------------------------------------------------------- main
def main(argv: list[str] | None = None) -> int:
    at_signal: set[int] = set()

    def terminate(signum, frame):
        # run the finally blocks: stop the JVM and remove the scratch
        # files. Note the processes running now: unwinding can orphan one
        # (the bootstrap child's JVM) before the last finally stops them.
        at_signal.update(proctree.descendants())
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--save", help="with --trace 1: keep the event log and spans here")
    ap.add_argument("--bootstrap-into", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.bootstrap_into:
        bootstrap_into(args.bootstrap_into, args.cores)
        return 0
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "plans", "job.py")):
        log(f"no {PACKAGE} package under {ROOT}: run from the root of a checkout")
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    dropped = configure_process(work)
    try:
        start = proctree.conditions()
        start["unset_env"] = dropped
        cache = incremental_cache(args.cores) if args.workload == "incremental" else None
        inputs = workloads.generate(
            args.workload,
            args.seed,
            os.path.join(work, "input"),
            base_dir=cache and os.path.join(cache, "base"),
        )
        job = Job(inputs, work, state=cache and os.path.join(cache, "state"))
        if args.trace:
            values, n, tally, props = traced_run(job, work, args.cores, args.seconds, args.save)
            print(eventlog.format_table(values, n, values["tracing.overhead"]))
            metrics = {
                k: {"value": v, "unit": eventlog.unit_of(k)}
                for k, v in values.items()
                if k.split(".", 1)[-1] not in eventlog.TABLE_ONLY
            }
        else:
            stats, tally, props = timed_run(job, work, args.cores, args.seconds)
            for name, s in stats.items():
                print(
                    f"{name:<12} {s['median']:.4f} {E2E_UNITS[name]}  "
                    f"(median of n={s['n']}; q1 {s['q1']:.4f}, q3 {s['q3']:.4f})"
                )
            metrics = {
                k: {"value": s["median"], "unit": E2E_UNITS[k]}
                for k, s in stats.items()
                if k != "peak_rss_mb"
            }
        end = proctree.conditions()
        print(
            json.dumps(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "cores": args.cores,
                    "turns": inputs.turns,
                    "conditions": {
                        "start": start,
                        "end": end,
                        "steal_share": proctree.steal_share(start, end),
                    },
                    "properties": props,
                }
            )
        )
        print(
            json.dumps(
                {
                    "correct": tally.failed == 0,
                    "attempted": tally.attempted,
                    "failed": tally.failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        proctree.stop_all(proctree.descendants() | at_signal)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
