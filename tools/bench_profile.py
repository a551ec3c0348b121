"""Per-layer profile of every bench.py row, read from bench's own run.

Runs ``bench.py`` as it is, in a child process with Spark's event log
switched on through ``PYSPARK_SUBMIT_ARGS`` (as perfbench's traced
runs do), and bills every Spark job to the bench row named by its
``spark.jobGroup.id`` — the job group bench already sets per timed
row.  Jobs outside the timed rows (the warm-up pass, the ``setup``
schema touch) belong to no row.  Task metrics are summed with
perfbench's own event-log aggregation.

Writes ``BENCH_PROFILE.json`` next to ``BENCH_DETAIL.json``.  Per row:

- ``wall_s``: the row's timed wall from this run's detail;
- ``jobs`` / ``stages`` / ``tasks``;
- ``job_span_s``: the union of the row's job submit-to-complete spans;
- ``driver_s = wall_s - job_span_s``: time with none of the row's jobs
  running (planning, DataFrame definition, py4j);
- executor-side sums: ``sched_delay_s``, ``run_s``, ``cpu_s``,
  ``gc_s``, shuffle read/write and spill MB, and the Python-worker
  ``py_run_s`` / ``py_boot_s`` / ``py_data_mb``;
- ``final_plan``: ``plans/profile/<row>.txt``, the last physical plan
  (final AQE plan) of each SQL execution the row's jobs ran.

The run is a traced draw: event logging adds wall time, so its numbers
never replace the untraced ``BENCH_DETAIL.json``, which is restored
byte for byte after the run.

Usage: python tools/bench_profile.py
(reads bench's own environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.common import RunDir, op_metrics, read_event_log, submit_args  # noqa: E402

DETAIL = ROOT / "BENCH_DETAIL.json"
PROFILE = ROOT / "BENCH_PROFILE.json"
PLAN_DIR = ROOT / "plans" / "profile"

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_COUNTS = ("jobs", "stages", "tasks")


def union_s(spans: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of millisecond intervals."""
    total = 0
    end = None
    for lo, hi in sorted(spans):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total / 1e3


def profile(events: list[dict], walls: dict[str, float], plan_dir: Path) -> dict[str, dict]:
    """One profile entry per bench row of ``walls`` (row -> timed wall
    seconds).  Writes each row's final plans to ``plan_dir``."""

    def row_of(props: dict) -> str | None:
        group = props.get("spark.jobGroup.id")
        return group if group in walls else None

    ops = op_metrics(events, row_of)
    started: dict[int, tuple[str, int]] = {}
    spans: dict[str, list[tuple[int, int]]] = {}
    executions: dict[str, list[str]] = {}
    plan_of: dict[str, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            row = row_of(props)
            if row is None:
                continue
            started[ev["Job ID"]] = (row, ev["Submission Time"])
            ex = props.get("spark.sql.execution.id")
            if ex is not None and ex not in executions.setdefault(row, []):
                executions[row].append(ex)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in started:
            row, t0 = started.pop(ev["Job ID"])
            spans.setdefault(row, []).append((t0, ev["Completion Time"]))
        elif kind in (_SQL_START, _SQL_ADAPTIVE):
            # each adaptive update re-plans the whole execution; the last
            # one seen is its final plan
            plan_of[str(ev["executionId"])] = ev["physicalPlanDescription"]

    zero = dict.fromkeys(next(iter(ops.values()), {}), 0.0)
    rows = {}
    for row, wall in walls.items():
        m = ops.get(row, zero)
        span = union_s(spans.get(row, []))
        entry = {"wall_s": wall}
        entry.update({k: int(m[k]) for k in _COUNTS})
        entry["job_span_s"] = round(span, 3)
        entry["driver_s"] = round(wall - span, 3)
        entry.update({k: round(v, 3) for k, v in m.items() if k not in _COUNTS})
        plans = [
            f"== execution {ex} ==\n{plan_of[ex]}\n"
            for ex in executions.get(row, [])
            if ex in plan_of
        ]
        entry["final_plan"] = None
        if plans:
            path = plan_dir / f"{row.replace(':', '_')}.txt"
            path.write_text("\n".join(plans))
            entry["final_plan"] = os.path.relpath(path, ROOT)
        rows[row] = entry
    return rows


def main() -> None:
    saved = DETAIL.read_bytes()
    run = RunDir("profile", 0)
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=submit_args(run, event_log=True))
    try:
        subprocess.run([sys.executable, str(ROOT / "bench.py")], env=env, check=True)
        detail = json.loads(DETAIL.read_text())
        events = read_event_log(run / "eventlog")
    finally:
        DETAIL.write_bytes(saved)
        run.remove()
    if not events:
        raise SystemExit("profile: bench.py wrote no Spark event log")

    shutil.rmtree(PLAN_DIR, ignore_errors=True)
    PLAN_DIR.mkdir(parents=True)
    rows = profile(events, detail["spark"], PLAN_DIR)
    for row, entry in rows.items():
        if entry["jobs"] != detail["spark_jobs"][row]:
            print(
                f"profile: {row} billed {entry['jobs']} jobs, bench counted "
                f"{detail['spark_jobs'][row]}",
                file=sys.stderr,
            )
    fields = [k for k in next(iter(rows.values())) if k != "final_plan"]
    PROFILE.write_text(
        json.dumps(
            {
                "draw": "traced: bench.py with Spark's event log on; "
                "wall times include the logging cost, BENCH_DETAIL.json "
                "holds the untraced draw",
                "sf_dir": detail["sf_dir"],
                # session.py's default; importing it would load pyspark,
                # whose cProfile import resolves to this file when it
                # runs as a script
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
                "spark_total_sec": detail["spark_total_sec"],
                "totals": {
                    k: round(sum(e[k] for e in rows.values()), 3) for k in fields
                },
                "rows": rows,
            },
            indent=1,
            sort_keys=True,
        )
        + "\n"
    )


if __name__ == "__main__":
    main()
