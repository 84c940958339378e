"""Reprint the per-layer table of a saved traced run, without re-running:

    python3 perfbench/run.py --workload random --seed 1 --seconds 20 --trace 1 --save DIR
    python3 perfbench/report.py DIR

DIR holds ``eventlog.json`` (Spark's uncompressed event log) and
``spans.json`` (the benchmark's layer spans and executions).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(argv[1], "spans.json")) as f:
        saved = json.load(f)
    rows = eventlog.per_execution(
        eventlog.read_events(os.path.join(argv[1], "eventlog.json")),
        saved["spans"],
        saved["executions"],
        saved["cores"],
    )
    values = eventlog.medians(list(rows.values()))
    print(eventlog.format_table(values, len(rows), saved.get("overhead")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
