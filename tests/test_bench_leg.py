"""The bench leg: its event-log attribution and one real leg end to end.

Every ``bench.py`` throughput number is one leg: a fresh process that
warms the job, takes the host probes and times one ``job_pass`` with the
Spark event log on. Its record carries the wall, the probes and the
attribution that ``bench.event_log_attribution`` reads from the log.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import bench

ROOT = Path(__file__).resolve().parent.parent


def _task_end(stage: int, finish_ms: int, run_ms: int, cpu_ms: int,
              gc_ms: int) -> str:
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": finish_ms - run_ms, "Finish Time": finish_ms},
        "Task Metrics": {"Executor Run Time": run_ms,
                         "Executor CPU Time": cpu_ms * 1_000_000,
                         "JVM GC Time": gc_ms}})


def test_event_log_attribution_on_synthetic_logs(tmp_path):
    # a single-file log: two tasks of stage 1 inside the window [10 s, 12 s],
    # one task finishing after it, a job event and a torn line
    (tmp_path / "app-1").write_text("\n".join([
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0}),
        _task_end(1, 10_500, 100, 50, 10),
        _task_end(1, 11_000, 300, 150, 20),
        _task_end(1, 13_000, 5_000, 5_000, 500),
        '{"Event": "SparkListenerTaskEnd", "Stage',
    ]) + "\n")
    # a rolling (v2 directory) log: only its events_* parts are read
    rolling = tmp_path / "eventlog_v2_app-2"
    rolling.mkdir()
    (rolling / "events_1_app-2").write_text(_task_end(2, 11_500, 200, 100, 30) + "\n")
    (rolling / "appstatus_app-2").write_text("not an event log\n")

    got = bench.event_log_attribution(str(tmp_path), 10.0, 12.0, cpus=2)

    assert got["tasks"] == 3
    assert got["task_run_sec"] == 0.6
    assert got["occupancy"] == 0.15            # 600 ms / (2 s x 2 lanes)
    assert got["cpu_share_of_run"] == 0.5      # 300 / 600 ms
    assert got["gc_share_of_run"] == 0.1       # 60 / 600 ms
    assert got["out_of_task_sec"] == 1.7       # 2 s - 0.6 s / 2
    assert got["stages"] == {
        "1": {"tasks": 2, "median_ms": 200, "max_ms": 300, "skew": 1.5},
        "2": {"tasks": 1, "median_ms": 200, "max_ms": 200, "skew": 1.0},
    }


def test_one_leg_runs_in_its_own_process_with_attribution():
    """``bench.py --pipeline-only`` is one leg; it stops its own session, so
    it runs in a subprocess here too."""
    out = subprocess.run(
        [sys.executable, str(ROOT / "bench.py"), "--pipeline-only",
         "--cpus", "1", "--ndocs", "60"],
        capture_output=True, text=True, cwd=ROOT, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    leg = json.loads(out.stdout.strip().splitlines()[-1])
    assert (leg["job"], leg["cpus"], leg["n_docs"]) == ("redaction", 1, 60)
    assert leg["pid"] != os.getpid()
    assert leg["wall_sec"] > 0
    assert set(leg["probes"]) == {"alu", "stream", "regex"}
    assert all(v > 0 for v in leg["probes"].values())
    attrib = leg["attribution"]
    assert {"tasks", "occupancy", "cpu_share_of_run", "gc_share_of_run",
            "out_of_task_sec", "host_cpu_sec", "effective_cores",
            "stages"} <= set(attrib)
    assert attrib["tasks"] > 0 and attrib["stages"]
    assert 0 < attrib["occupancy"] <= 1
