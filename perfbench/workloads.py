"""Seeded inputs for the four benchmark workloads and their DuckDB oracle.

Every generator writes transcript parquet files with the job's input
schema ``(conv_id, turn_idx, role, text, tool, ts)`` plus the matching
``conv_meta`` lookup, from DuckDB, before any Spark session exists. The
rows come from the program's own derivation,
``sources.derive.derive_sql('duckdb')`` and ``conv_meta_sql``, run over an
``events(user_id, event_id, ts)`` table made here: one user per
conversation, ``user_id % 8`` picking its template as it does for the
``events`` table the derivation was written for. The benchmark reads
only its own checkout, which holds no events table, so the events are
synthetic; their conversation lengths follow ``SF01_LENGTHS``, the
per-user event counts of the sf0.1 test-data ``events`` table.

The seed changes the conv_ids (through the user ids), which conversation
gets which length, the row order across files, the hot conversation's
template and which conversations get late turns. It never changes how
many turns or conversations there are, so every seed does the same
amount of work. The incremental workload's base corpus is the same for
every seed (its bootstrap state is built once and reused); the seed
picks the batch.

The oracle recomputes the per-sink row counts and the chunk stage's
per-sink ``n_convs``/``n_events`` from the generated files alone. Its
regexes are the reference's five patterns, copied here rather than
imported, so a change to the program's patterns cannot also change the
answer it is checked against.
"""

from __future__ import annotations

import os
import random
import sys
from dataclasses import dataclass, field

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE_TS_MS = 1548935491174
N_FILES = 8
# Events per user in the sf0.1 test-data events table (1,500 users,
# 100,000 events), as {length: users}, from
#   SELECT n, COUNT(*) FROM (SELECT user_id, COUNT(*) AS n
#     FROM 'sf0.1/events.parquet' GROUP BY 1) GROUP BY 1
SF01_LENGTHS = {
    45: 1, 47: 5, 48: 6, 49: 3, 50: 7, 51: 19, 52: 17, 53: 21, 54: 18,
    55: 30, 56: 28, 57: 40, 58: 54, 59: 29, 60: 61, 61: 64, 62: 71,
    63: 68, 64: 82, 65: 78, 66: 68, 67: 70, 68: 59, 69: 75, 70: 64,
    71: 62, 72: 39, 73: 60, 74: 43, 75: 37, 76: 32, 77: 28, 78: 25,
    79: 32, 80: 21, 81: 20, 82: 20, 83: 11, 84: 9, 85: 7, 86: 2, 87: 6,
    88: 1, 89: 1, 90: 2, 91: 1, 92: 1, 93: 1, 99: 1,
}
# Sizes. 300 conversations of sf0.1 lengths hold ~20k turns. The job's
# fixed per-run cost dominates at these sizes: 20k turns take about as
# long as 80k.
RANDOM_CONVS = 300
SKEW_CONVS = 300
HOT_TURNS = 24_000
# The job's SPARK_GRAFT_SKEW_THRESHOLD deployment setting, the same on
# every workload: only the skewed workload's hot conversation is above it.
SKEW_THRESHOLD = 10_000
INC_BASE_SEED = 0
INC_BASE_CONVS = 300
INC_NEW_CONVS = 2
INC_LATE_CONVS = 2
INC_LATE_TURNS = 50
BUCKETS = 64
# user ids of one seed's conversations start at USER_SPAN * (1 + seed);
# a multiple of 8, so conversation k always has template k % 8
USER_SPAN = 1_000_000

# Reference patterns (match semantics are ^-anchored; RE2 and Java agree).
P_NR = r'^.*"NR_LAMBDA_MONITORING'
P_REPORT = r"^REPORT RequestId:"
P_TIMEOUT = (
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}.\d+Z\s[\d\w-]+"
    r"\sTask timed out after [\d.]+ seconds"
)
P_KILL = r"(?s)^RequestId:\s[-a-zA-Z0-9]{36}\s"


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


@dataclass
class Inputs:
    """What one workload hands the job, and what the oracle expects back."""

    name: str
    seed: int
    transcripts: str  # parquet directory the timed executions read
    conv_meta: str | None  # run_pipeline's lookup (run_incremental derives its own)
    turns: int  # turns one timed execution ingests
    max_conv_rows: int = 0
    expected: dict = field(default_factory=dict)
    superseded_convs: int = 0


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _derivation():
    """The program's ``sources.derive`` module, from this checkout."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from aws_log_ingestion_spark.sources import derive

    return derive


def _lengths(n: int) -> list[int]:
    """``n`` conversation lengths spread evenly over the sf0.1 ones."""
    pool = sorted(length for length, users in SF01_LENGTHS.items() for _ in range(users))
    return [pool[int((i + 0.5) * len(pool) / n)] for i in range(n)]


def _user_id(seed: int, k: int) -> int:
    return USER_SPAN * (1 + seed % USER_SPAN) + k


def _convs(seed: int, n: int) -> list[tuple]:
    """``n`` conversations as (user_id, k, first turn, turns, in batch):
    the seed sets the user ids and which conversation gets which length."""
    lengths = _lengths(n)
    random.Random(seed).shuffle(lengths)
    return [(_user_id(seed, k), k, 0, length, False) for k, length in enumerate(lengths)]


def _make_events(con, convs: list[tuple]) -> None:
    """The ``_events`` table the derivation reads: one event per turn,
    time-ordered within each user."""
    con.execute(
        "CREATE OR REPLACE TEMP TABLE _convs "
        "(user_id BIGINT, k BIGINT, t0 INTEGER, n INTEGER, batch BOOLEAN)"
    )
    con.executemany("INSERT INTO _convs VALUES (?, ?, ?, ?, ?)", convs)
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE _events AS
SELECT user_id, t AS event_id, batch,
  CAST(epoch_ms(CAST({BASE_TS_MS} + k * 1000 + t * 10 AS BIGINT)) AS TIMESTAMPTZ) AS ts
FROM (SELECT user_id, k, batch, unnest(range(t0, t0 + n)) AS t FROM _convs)"""
    )


def _derive(con, name: str) -> None:
    """Materialise the program's transcript derivation over ``_events``."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {_derivation().derive_sql('duckdb', '_events')}")


def _write_files(con, rows_sql: str, out_dir: str, seed: int, n_files: int) -> None:
    """Random file layout: rows shuffled by a seeded hash, dealt into
    ``n_files`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE _out AS SELECT *, "
        f"row_number() OVER (ORDER BY hash(conv_id, turn_idx, {seed})) AS _rn FROM ({rows_sql})"
    )
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        con.execute(
            f"COPY (SELECT * EXCLUDE (_rn) FROM _out WHERE _rn % {n_files} = {i} ORDER BY _rn) "
            f"TO '{path}' (FORMAT PARQUET)"
        )


def oracle(con, parquet_glob: str) -> dict:
    """Per-sink counts over the transcript files: the infra row counts
    (lambda rows only when REPORT or a lambda message), logging rows, and
    the chunk stage's n_convs/n_events per (sink, path)."""
    lmsg = (
        f"(regexp_matches(text, {_q(P_NR)}) OR regexp_matches(text, {_q(P_TIMEOUT)}) "
        f"OR regexp_matches(text, {_q(P_KILL)}))"
    )
    rows = con.execute(
        f"""WITH f AS (
  SELECT conv_id, tool, regexp_matches(text, {_q(P_REPORT)}) AS is_report, {lmsg} AS is_lmsg
  FROM read_parquet('{parquet_glob}')),
s AS (
  SELECT *, CASE WHEN tool = 'vpc' THEN 'vpc'
                 WHEN tool = 'lambda' AND bool_or(is_lmsg) OVER (PARTITION BY conv_id) THEN 'lambda'
                 ELSE 'other' END AS sink,
         (tool <> 'lambda' OR NOT bool_or(is_lmsg) OVER (PARTITION BY conv_id)
          OR is_report OR is_lmsg) AS infra_kept
  FROM f)
SELECT sink, COUNT(*), COUNT(DISTINCT conv_id),
       SUM(CAST(infra_kept AS BIGINT)), COUNT(DISTINCT CASE WHEN infra_kept THEN conv_id END)
FROM s GROUP BY sink"""
    ).fetchall()
    counts = {"infra_lambda_rows": 0, "infra_vpc_rows": 0, "infra_other_rows": 0, "logging_rows": 0}
    chunks = {}
    for sink, n_rows, n_convs, n_infra, n_infra_convs in rows:
        counts[f"infra_{sink}_rows"] = int(n_infra)
        counts["logging_rows"] += int(n_rows)
        chunks[(sink, "logging")] = (int(n_convs), int(n_rows))
        if n_infra:
            chunks[(sink, "infra")] = (int(n_infra_convs), int(n_infra))
    return {"counts": counts, "chunks": chunks}


def _max_conv_rows(con, parquet_glob: str) -> int:
    return int(
        con.execute(
            f"SELECT MAX(n) FROM (SELECT COUNT(*) AS n FROM read_parquet('{parquet_glob}') GROUP BY conv_id)"
        ).fetchone()[0]
    )


def _count(con, parquet_glob: str) -> int:
    return int(con.execute(f"SELECT COUNT(*) FROM read_parquet('{parquet_glob}')").fetchone()[0])


def _write_meta(con, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    meta = _derivation().conv_meta_sql("duckdb", "_events")
    con.execute(f"COPY ({meta}) TO '{out_dir}/part-000.parquet' (FORMAT PARQUET)")


def generate(
    name: str, seed: int, work: str, scale: float = 1.0, base_dir: str | None = None
) -> Inputs:
    """Write ``name``'s inputs under ``work`` and compute its oracle.
    ``scale`` shrinks the corpus for the self-test; ``base_dir`` is the
    incremental workload's base corpus (``write_incremental_base``)."""
    con = _connect()
    try:
        if name == "incremental":
            return _gen_incremental(con, seed, work, scale, base_dir)
        return _GENERATORS[name](con, seed, work, scale)
    finally:
        con.close()


def _write_corpus(con, name: str, seed: int, work: str, convs: list[tuple]) -> Inputs:
    """Derive ``convs``' transcripts, write them in a random layout with
    their conv_meta and compute the oracle."""
    _make_events(con, convs)
    _derive(con, "_t")
    tdir = os.path.join(work, "transcripts")
    _write_files(con, "SELECT * FROM _t", tdir, seed, N_FILES)
    _write_meta(con, os.path.join(work, "conv_meta"))
    glob = f"{tdir}/*.parquet"
    return Inputs(
        name=name,
        seed=seed,
        transcripts=tdir,
        conv_meta=os.path.join(work, "conv_meta"),
        turns=_count(con, glob),
        max_conv_rows=_max_conv_rows(con, glob),
        expected=oracle(con, glob),
    )


def _gen_random(con, seed, work, scale) -> Inputs:
    return _write_corpus(con, "random", seed, work, _convs(seed, max(16, int(RANDOM_CONVS * scale))))


def _gen_bucketed(con, seed, work, scale) -> Inputs:
    # the same rows as random; the bench writes them as a bucketed table
    # (run.py) because only Spark can write its bucket layout
    convs = _convs(seed, max(16, int(RANDOM_CONVS * scale)))
    return _write_corpus(con, "bucketed", seed, work, convs)


def _gen_skewed(con, seed, work, scale) -> Inputs:
    n = max(16, int(SKEW_CONVS * scale))
    hot = max(200, int(HOT_TURNS * scale))
    # the hot conversation: one lambda conversation (template 0-2, picked
    # by the seed) of ``hot`` turns
    hot_k = -(-n // 8) * 8 + seed % 3
    convs = _convs(seed, n) + [(_user_id(seed, hot_k), hot_k, 0, hot, False)]
    return _write_corpus(con, "skewed", seed, work, convs)


def write_incremental_base(out_dir: str, scale: float = 1.0) -> None:
    """The incremental workload's base corpus. It does not depend on the
    seed, so the bootstrap state built from it can be reused by every run
    of the same program (run.py caches it)."""
    con = _connect()
    try:
        _make_events(con, _convs(INC_BASE_SEED, max(16, int(INC_BASE_CONVS * scale))))
        _derive(con, "_base")
        _write_files(con, "SELECT * FROM _base", out_dir, INC_BASE_SEED, N_FILES)
    finally:
        con.close()


def _gen_incremental(con, seed, work, scale, base_dir) -> Inputs:
    base = _convs(INC_BASE_SEED, max(16, int(INC_BASE_CONVS * scale)))
    n = len(base)
    tdir = os.path.join(work, "transcripts")
    os.makedirs(tdir, exist_ok=True)
    # the base files as the bootstrap recorded them, plus one batch file
    # (input files are append-only)
    for f in sorted(os.listdir(base_dir)):
        os.link(os.path.join(base_dir, f), os.path.join(tdir, f))
    # the +1% batch: whole new conversations plus late turns appended to a
    # seed-chosen set of existing lambda, vpc and rds ones, continuing
    # their turn_idx
    new = [
        (_user_id(seed, n + j), n + j, 0, length, True)
        for j, length in enumerate(_lengths(INC_NEW_CONVS))
    ]
    eligible = [c for c in base if c[1] % 8 in (0, 1, 2, 4, 6)]
    late = [
        (user_id, k, length, INC_LATE_TURNS, True)
        for user_id, k, _, length, _ in random.Random(seed).sample(eligible, INC_LATE_CONVS)
    ]
    _make_events(con, base + new + late)
    _derive(con, "_all")
    batch = os.path.join(tdir, "part-zzz-batch.parquet")
    con.execute(
        f"""COPY (SELECT a.* FROM _all a SEMI JOIN (
    SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id, event_id FROM _events WHERE batch) b
  ON a.conv_id = b.conv_id AND a.turn_idx = b.event_id
  ORDER BY hash(a.conv_id, a.turn_idx, {seed})) TO '{batch}' (FORMAT PARQUET)"""
    )
    glob = f"{tdir}/*.parquet"
    return Inputs(
        name="incremental",
        seed=seed,
        transcripts=tdir,
        conv_meta=None,
        turns=_count(con, batch),
        max_conv_rows=_max_conv_rows(con, glob),
        expected=oracle(con, glob),
        superseded_convs=len(late),
    )


_GENERATORS = {"random": _gen_random, "bucketed": _gen_bucketed, "skewed": _gen_skewed}
WORKLOADS = (*_GENERATORS, "incremental")
