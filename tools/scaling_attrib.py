"""Per-component attribution of an N→4N-lane scaling step (VERDICT r4 #1).

For each batch job (redaction ``run_job`` / extraction
``run_extraction_job``) at each parallelism level, run one warmed, timed
``bench.job_pass`` with the Spark event log enabled and decompose the
wall-clock into:

  * task-busy time (sum of executor run time across tasks) → the share of
    ``wall × cores`` the engine actually used (occupancy);
  * in-task components: executor CPU, JVM GC, shuffle read/write wait,
    (de)serialization, scheduler delay (launch − deserialize − run);
  * out-of-task time: wall − (task time / cores) — driver planning, stage
    scheduling gaps, commit coordination;
  * straggler shape per stage: max vs median task duration.

Alongside, measure what the HOST offers at each level with three
Spark-free probes (one process per lane):
  * ``alu``    — ``bench.parallel_host_probe``'s tight loop, Miters/s;
  * ``stream`` — ``bench.parallel_stream_probe``'s numpy copy+sum over
                 64 MB per worker (memory-bandwidth-bound, like parquet
                 decode + scans), GB/s;
  * ``regex``  — Python ``re`` over generated strings (branchy
                 string-scan, the closest analog of the narrow pass),
                 matches/s.

The point: the ALU probe is the ceiling for compute; the stream/regex
probes are the ceiling for what the pipelines actually do. Engine
efficiency ÷ matching-probe efficiency isolates Spark's own contribution
from the box running out of memory bandwidth at the wider level.

Usage: python tools/scaling_attrib.py [--cpus N/4 N] [--ndocs 360000]
(default levels from the host's cores, as bench.py). Writes
SCALING_ATTRIB.json at the repo root (or ``--out``) and prints a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (repo-root bench.py)
from ocr_redaction_engine_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------------
# host probes (run in subprocesses so the JVM never shares the window)
# ---------------------------------------------------------------------------

_REGEX_SRC = r"""
import json, re, sys, time

seconds = float(sys.argv[1])
pat = re.compile(r"[A-Z]{5}[0-9]{4}[A-Z]|\d{4}\s\d{4}\s\d{4}")
rows = [f"line {i} PQRST{i%10000:04d}Z tail 1234 5678 9012 x" * 3
        for i in range(2000)]
t0 = time.perf_counter(); n = 0
while time.perf_counter() - t0 < seconds:
    for r in rows:
        if pat.search(r):
            n += 1
print(json.dumps({"count": n}))
"""


def regex_probe(procs: int, seconds: float = 2.0) -> float:
    """Aggregate regex matches/s across ``procs`` fresh python processes."""
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(_REGEX_SRC)
        path = f.name
    try:
        ps = [subprocess.Popen([sys.executable, path, str(seconds)],
                               stdout=subprocess.PIPE, text=True)
              for _ in range(procs)]
        total = 0
        for p in ps:
            out, _ = p.communicate(timeout=seconds * 20 + 60)
            total += json.loads(out)["count"]
        return total / seconds
    finally:
        os.unlink(path)


PROBES = {"alu": bench.parallel_host_probe,
          "stream": bench.parallel_stream_probe,
          "regex": regex_probe}


# ---------------------------------------------------------------------------
# event-log decomposition
# ---------------------------------------------------------------------------

def _event_lines(path: str):
    """Yield event-log lines from a single-file or rolling (v2 directory)
    Spark event log."""
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.startswith("events_"):
                yield from open(os.path.join(path, name))
    else:
        yield from open(path)


def parse_eventlog(path: str, t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Aggregate task metrics for tasks finishing inside [t0_ms, t1_ms]."""
    per_stage: dict = {}
    agg = {"tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
           "deser_ms": 0.0, "ser_ms": 0.0, "sched_delay_ms": 0.0,
           "shuffle_fetch_wait_ms": 0.0, "shuffle_write_ms": 0.0}
    for line in _event_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        info = ev.get("Task Info") or {}
        if not (t0_ms <= info.get("Finish Time", 0) <= t1_ms):
            continue
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        run = m.get("Executor Run Time", 0)
        deser = m.get("Executor Deserialize Time", 0)
        launched = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        agg["tasks"] += 1
        agg["run_ms"] += run
        agg["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        agg["gc_ms"] += m.get("JVM GC Time", 0)
        agg["deser_ms"] += deser
        agg["ser_ms"] += m.get("Result Serialization Time", 0)
        agg["sched_delay_ms"] += max(0, launched - run - deser
                                     - m.get("Result Serialization Time", 0))
        agg["shuffle_fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        agg["shuffle_write_ms"] += sw.get("Shuffle Write Time", 0) / 1e6
        sid = ev.get("Stage ID")
        per_stage.setdefault(sid, []).append(run)
    stages = {}
    for sid, runs in sorted(per_stage.items()):
        med = statistics.median(runs)
        stages[str(sid)] = {
            "tasks": len(runs), "sum_ms": round(sum(runs), 1),
            "median_ms": round(med, 1), "max_ms": round(max(runs), 1),
            "skew": round(max(runs) / med, 2) if med > 0 else None,
        }
    return {"agg": {k: round(v, 1) for k, v in agg.items()},
            "stages": stages}


def run_leg(which: str, cpus: int, n_docs: int) -> dict:
    """One warmed+timed ``bench.job_pass`` with event logging, decomposed."""
    elog = tempfile.mkdtemp(prefix=f"elog_{which}_{cpus}_")
    spark = get_spark(f"attrib-{which}-{cpus}", cpus, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": f"file://{elog}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    ensure, job = ((bench.ensure_web_corpus, bench.run_extraction_job)
                   if which == "extraction" else
                   (bench.ensure_corpus, bench.run_job))
    one_pass = bench.job_pass(spark, job, *ensure(spark, n_docs))

    def _host_busy_sec():
        # whole-VM busy CPU (user+nice+sys+irq+softirq) from /proc/stat —
        # counts the JVM AND its Python workers (which the event log's
        # executor metrics cannot see). local[8] + an Arrow stage uses up
        # to 16 host cores; this exposes that hidden parallelism.
        with open("/proc/stat") as f:
            p = f.readline().split()
        hz = os.sysconf("SC_CLK_TCK")
        return (int(p[1]) + int(p[2]) + int(p[3])
                + int(p[6]) + int(p[7])) / hz

    one_pass()                                   # warm (untimed)
    busy0 = _host_busy_sec()
    t0_ms = time.time() * 1000
    wall, _ = one_pass()
    t1_ms = time.time() * 1000
    host_cpu_sec = _host_busy_sec() - busy0
    # flush the event log
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10000)
    spark.stop()
    logs = [os.path.join(elog, f) for f in os.listdir(elog)
            if not f.startswith(".")]
    decomp = parse_eventlog(logs[0], t0_ms, t1_ms, cpus) if logs else {}
    a = decomp.get("agg", {})
    wall_cores_ms = wall * 1000 * cpus
    return {
        "cpus": cpus, "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1),
        # host cores actually busy during the pass (JVM + Python workers
        # + driver); for local[8] pipeline runs this exceeds 8 — the
        # "N-lane" baseline borrows idle host cores for its Python side
        "host_cpu_sec": round(host_cpu_sec, 1),
        "effective_cores": round(host_cpu_sec / wall, 1),
        "occupancy": round(a.get("run_ms", 0) / wall_cores_ms, 3),
        "gc_share_of_run": round(a.get("gc_ms", 0)
                                 / max(a.get("run_ms", 1), 1), 3),
        "cpu_share_of_run": round(a.get("cpu_ms", 0)
                                  / max(a.get("run_ms", 1), 1), 3),
        "out_of_task_sec": round(wall - a.get("run_ms", 0)
                                 / 1000 / cpus, 3),
        "decomp": decomp,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, nargs="+",
                    default=[max(bench.CPUS // 4, 1), bench.CPUS])
    ap.add_argument("--ndocs", type=int, default=360_000)
    ap.add_argument("--probe-seconds", type=float, default=2.0)
    ap.add_argument("--skip-probes", action="store_true")
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING_ATTRIB.json"))
    args = ap.parse_args()

    result: dict = {"ndocs": args.ndocs, "legs": {}, "probes": {}}
    for which in ("extraction", "pipeline"):
        for c in args.cpus:
            print(f"== {which} @ local[{c}] ==", flush=True)
            leg = run_leg(which, c, args.ndocs)
            result["legs"][f"{which}_{c}"] = leg
            print(json.dumps({k: v for k, v in leg.items() if k != "decomp"},
                             indent=None), flush=True)
    if not args.skip_probes:
        for kind in ("alu", "stream", "regex"):
            rates = {str(c): PROBES[kind](c, args.probe_seconds)
                     for c in args.cpus}
            result["probes"][kind] = rates
            cs = args.cpus
            if len(cs) >= 2:
                eff = (rates[str(cs[-1])] / rates[str(cs[0])]) / (cs[-1] / cs[0])
                result["probes"][f"{kind}_step_eff"] = round(eff, 3)
            print(f"probe {kind}: {rates} step_eff="
                  f"{result['probes'].get(f'{kind}_step_eff')}", flush=True)

    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
