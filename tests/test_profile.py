"""tools/bench_profile.py's attribution of a Spark event log to bench rows,
on a hand-built log (no Spark): jobs, stages and tasks land on the row
named by the job group, jobs outside the timed rows land nowhere, the
job span is an interval union, and the plan kept is the last one."""

from __future__ import annotations

import sys
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_ROOT))

from tools.bench_profile import ROOT, profile, union_s  # noqa: E402

_SQL = "org.apache.spark.sql.execution.ui."


def _job(jid, group, stages, t0, execution=None):
    props = {"spark.jobGroup.id": group} if group else {}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": t0,
        "Stage IDs": stages,
        "Properties": props,
    }


def _job_end(jid, t1):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1}


def _stage_done(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}


def _task(sid, run_ms):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Info": {"Launch Time": 0, "Finish Time": run_ms + 5, "Accumulables": []},
        "Task Metrics": {"Executor Run Time": run_ms},
    }


def _plan(kind, execution, text):
    return {"Event": _SQL + kind, "executionId": execution, "physicalPlanDescription": text}


def test_union_is_not_sum():
    assert union_s([(0, 10), (5, 20), (30, 40)]) == 0.03
    assert union_s([(0, 100), (10, 20)]) == 0.1
    assert union_s([]) == 0.0


def test_profile_bills_rows_by_job_group(tmp_path):
    walls = {"artifact:tok": 2.0, "q_b": 1.5, "q_idle": 0.2}
    events = [
        # warm-up pass: no job group
        _job(0, None, [0], 0),
        _stage_done(0),
        _task(0, 50),
        _job_end(0, 100),
        _plan("SparkListenerSQLExecutionStart", 5, "ArtifactPlan"),
        _job(1, "artifact:tok", [1], 1000, execution=5),
        _stage_done(1),
        _task(1, 300),
        _task(1, 200),
        _job_end(1, 1800),
        # schema touch between the artifact and query loops
        _job(2, "setup", [2], 2000),
        _stage_done(2),
        _task(2, 40),
        _job_end(2, 2100),
        # two overlapping jobs of one row, one SQL execution re-planned twice
        _plan("SparkListenerSQLExecutionStart", 7, "InitialPlan"),
        _job(3, "q_b", [3], 3000, execution=7),
        _job(4, "q_b", [4, 5], 3200, execution=7),
        _plan("SparkListenerSQLAdaptiveExecutionUpdate", 7, "MidPlan"),
        _stage_done(3),
        _task(3, 100),
        _stage_done(4),
        _task(4, 100),
        _task(4, 100),
        _job_end(4, 3500),
        _job_end(3, 3600),
        _plan("SparkListenerSQLAdaptiveExecutionUpdate", 7, "FinalPlan"),
    ]
    rows = profile(events, walls, tmp_path)

    assert set(rows) == set(walls)
    tok, qb = rows["artifact:tok"], rows["q_b"]
    assert (tok["jobs"], tok["stages"], tok["tasks"]) == (1, 1, 2)
    # stage 5 never ran (skipped), so it is not counted
    assert (qb["jobs"], qb["stages"], qb["tasks"]) == (2, 2, 3)
    # the setup and warm-up jobs are billed to no row
    assert sum(r["tasks"] for r in rows.values()) == 5
    assert tok["run_s"] == 0.5 and qb["run_s"] == 0.3

    assert tok["job_span_s"] == 0.8
    assert qb["job_span_s"] == 0.6  # union of 3000-3600 and 3200-3500, not 0.9
    for entry in rows.values():
        assert entry["driver_s"] >= 0
        assert entry["driver_s"] == round(entry["wall_s"] - entry["job_span_s"], 3)

    # a row that launched no job still has its entry
    idle = rows["q_idle"]
    assert (idle["jobs"], idle["run_s"], idle["job_span_s"]) == (0, 0.0, 0.0)
    assert idle["driver_s"] == 0.2 and idle["final_plan"] is None
    assert set(idle) == set(qb)

    assert tok["final_plan"] is not None
    assert "ArtifactPlan" in (ROOT / tok["final_plan"]).read_text()
    assert (ROOT / tok["final_plan"]).resolve() == (tmp_path / "artifact_tok.txt").resolve()
    plan = (ROOT / qb["final_plan"]).read_text()
    assert "FinalPlan" in plan
    assert "MidPlan" not in plan and "InitialPlan" not in plan
