"""Benchmark of the two production batch jobs.

    python3 perfbench/run.py --workload redact_bulk --seed 42 --seconds 10 --trace 0

Run from the repository root. One invocation generates the workload's corpus
from ``--seed`` (the rows ``corpus.write_corpus`` / ``write_web_corpus``
would write, built in the driver and written with pyarrow), runs the
production entry point (``pipeline.run_job`` or
``extraction_pipeline.run_extraction_job``) on it again and again with fresh
output and checkpoint directories, checks every run's outputs, and prints as
its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
``attempted``/``failed`` count job runs; a run fails if it raises or its
outputs fail the check, so ``failed / attempted`` is the fail ratio.

Load model: a closed loop with one client. One driver process runs
``local[nproc]``; each job run starts after the previous one returned.

``--trace 0`` (end-to-end metrics):
  docs_per_s   corpus docs / median wall of the warm runs
  setup_s      median over 2 session starts of: SparkSession start through
               the end of the first job run on it, corpus generation
               excluded (the first start launches the JVM; the second stops
               the session and starts a new one in the same JVM)
  peak_rss_mb  peak summed RSS of the JVM and its Python workers, sampled
               from /proc every 0.2 s during the warm runs
The walls behind docs_per_s and setup_s leave out the share of CPU time the
hypervisor gave to other guests meanwhile (steal in /proc/stat); the record
keeps the raw walls too.

``--trace 1`` (per-layer metrics): a separate traced run; see layers.py.
The first job run is compared row for row with ``oracle``; later runs must
match its row counts and content digests (checks.py).

Everything the benchmark writes goes under ``.perfbench_run/`` in the
repository root; the run record (host, versions, seed, per-run walls) is
also kept there as ``results/<workload>-<seed>-<trace>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ocr_redaction_engine_spark"
# Session starts per run; setup_s is their median. Two, not more: a third
# would add 12-16 s to a run of 45-60 s on 4 vCPUs.
SETUPS = 2


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _driver_memory_mb(mem_total: int) -> int:
    """An eighth of the host's memory, rounded, between 1 and 8 GiB."""
    return 1024 * max(1, min(8, round(mem_total / 8 / 2**30)))


# ---------------------------------------------------------------------------
# memory sampling
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def _descendants(pid: int) -> list[int]:
    children, out = _children(), []
    stack = list(children.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def _tree_rss(pid: int) -> int:
    """Summed RSS of ``pid``'s children (the JVM) and of the Python
    processes below them (the worker daemons and their workers). Other
    descendants are short-lived commands the JVM spawns; between fork and
    exec they report the JVM's whole RSS, so counting them would add a
    phantom copy of the JVM."""
    children, total = _children(), 0
    stack = [(p, True) for p in children.get(pid, [])]
    while stack:
        p, direct = stack.pop()
        stack.extend((c, False) for c in children.get(p, []))
        try:
            if not direct:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    argv0 = f.read().split(b"\0", 1)[0]
                if b"python" not in os.path.basename(argv0):
                    continue
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and the
    Python workers it forks), sampled inside the ``with`` block."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, _tree_rss(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# session and host record
# ---------------------------------------------------------------------------

class Engine:
    """Starts and stops the SparkSession the way jobs and tests build it
    (``session.get_spark``), with only the extras listed in ``extras``."""

    def __init__(self, work: Path, cores: int, mem_total: int, event_log: bool):
        self.cores = cores
        heap_mb = _driver_memory_mb(mem_total)
        # The whole heap committed and touched at JVM start: as G1 grew the
        # heap on demand, the JVM's peak RSS varied by up to a third between
        # runs of the same workload. Peak RSS then moves with what lives
        # outside the heap (Arrow buffers, metaspace, Python workers).
        self.extras = {
            "spark.driver.memory": f"{heap_mb}m",
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -Xms{heap_mb}m -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_log_dir = str(work / "eventlog")
        if event_log:
            self.extras.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_log_dir}",
                "spark.eventLog.compress": "false",
            })
        self.spark = None

    def start(self, cores: int | None = None):
        from ocr_redaction_engine_spark.session import get_spark
        self.spark = get_spark("perfbench", cores=cores or self.cores,
                               extra=self.extras)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self):
        """Stop the session, end the JVM and wait for every process this
        benchmark started to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()       # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while _descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for p in _descendants(os.getpid()):
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _stolen_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time wanted in between (busy + stolen) that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]      # user nice system irq softirq
    return d[7] / max(1, busy + d[7])


def _unstolen(wall: float, stolen: float) -> float:
    """The part of ``wall`` the hypervisor did not give to other guests.
    On a shared 4-vCPU host the stolen share swung widely between runs
    minutes apart; taking it out cut the spread (quartile distance over
    median) of docs_per_s over six extract_web seeds from 0.46 to 0.18."""
    return wall * (1 - stolen)


def _source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted(PACKAGE.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def host_record(args, cores: int, mem_total: int, engine: Engine) -> dict:
    import pyarrow
    import pyspark
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "mem_total_bytes": mem_total,
        "python": sys.version.split()[0], "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "git_commit": _git_commit(),
        "source_sha256": _source_digest(), "spark_extras": engine.extras,
    }


# ---------------------------------------------------------------------------
# job runs and their checks
# ---------------------------------------------------------------------------

class Runs:
    """Fresh output/checkpoint directories per job run, the run's wall
    time, and the outcome of its output check."""

    def __init__(self, work: Path, wl, docs_path: str, pages_path: str):
        self.work, self.wl = work, wl
        self.paths = (docs_path, pages_path)
        self.done: list[dict] = []

    def fresh_dirs(self) -> tuple[str, str]:
        i = len(self.done)
        out, ck = self.work / f"run{i:03d}" / "out", self.work / f"run{i:03d}" / "ckpt"
        if out.exists() or ck.exists():
            raise RuntimeError(f"run directory {out.parent} is not fresh")
        return str(out), str(ck)

    def run(self, spark, kind: str, job=None) -> dict:
        """One timed job run; ``job`` replaces the production entry point
        (the traced replay)."""
        out, ck = self.fresh_dirs()
        rec = {"kind": kind, "out": out, "ckpt": ck, "error": None, "stats": None}
        self.done.append(rec)
        cpu0 = _cpu_times()
        rec["t0"], t0 = time.time(), time.perf_counter()
        try:
            rec["stats"] = (job or self.wl.run)(spark, *self.paths, out, ck)
        except Exception as e:           # a failed run is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        rec["wall"], rec["t1"] = time.perf_counter() - t0, time.time()
        rec["stolen"] = _stolen_share(cpu0, _cpu_times())
        return rec

    def check(self, expected: dict) -> bool:
        """Sets ``ok``/``why`` on every run; returns whether the negative
        control (a perturbed output) was caught."""
        from checks import (digest, lineage_mismatches, oracle_mismatches,
                            perturbed_output_detected, read_table)
        tables = self.wl.tables
        first, ref, ref_frames = self.done[0], None, None
        for rec in self.done:
            if rec["error"] is not None:
                rec["ok"], rec["why"] = False, [rec["error"]]
                continue
            frames = {t: read_table(f"{rec['out']}/{t}") for t in tables}
            digests = {t: digest(f) for t, f in frames.items()}
            if rec is first:
                why = oracle_mismatches(frames, expected, tables)
                if not why:
                    ref, ref_frames = digests, frames
            elif ref is None:
                why = ["first run failed its oracle check"]
            else:
                why = [f"{t}: digest {digests[t]} vs {ref[t]}" for t in tables
                       if digests[t] != ref[t]]
            why += lineage_mismatches(read_table(rec["ckpt"]), rec["stats"],
                                      self.wl, expected)
            rec["ok"], rec["why"] = not why, why
        return ref is not None and perturbed_output_detected(
            ref_frames, expected, tables, ref)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_untraced(args, wl, engine: Engine, runs: Runs, docs, pages,
                 record: dict) -> dict:
    """Every session's first job run is a set-up sample; the warm runs (at
    least two, until ``--seconds`` of them) follow the last one, when the
    JVM has run the job twice."""
    setups, warm = [], []
    for k in range(SETUPS):
        if k:
            engine.spark.stop()
        cpu0, t0 = _cpu_times(), time.perf_counter()
        spark = engine.start()
        runs.run(spark, "setup")
        setups.append((time.perf_counter() - t0, _stolen_share(cpu0, _cpu_times())))
    with RssSampler() as rss:
        while len(warm) < 2 or sum(w for w, _ in warm) < args.seconds:
            r = runs.run(spark, "warm")
            warm.append((r["wall"], r["stolen"]))
    t_check = time.perf_counter()
    caught = runs.check(wl.expected(docs, pages))
    # with a handful of warm runs the median is the highest percentile
    # that has samples on both sides
    record.update(check_s=time.perf_counter() - t_check,
                  setup_walls_stolen=setups, warm_walls_stolen=warm,
                  warm_runs=len(warm), docs_per_s_percentile=50,
                  docs_per_s_wall=wl.n_docs / _median([w for w, _ in warm]),
                  setup_s_wall=_median([w for w, _ in setups]))
    metrics = {
        "docs_per_s": (wl.n_docs / _median([_unstolen(*r) for r in warm]), "docs/s"),
        "setup_s": (_median([_unstolen(*r) for r in setups]), "s"),
        "peak_rss_mb": (rss.peak / 1e6, "MB"),
    }
    return _result(runs, caught, metrics)


def run_traced(args, wl, engine: Engine, runs: Runs, docs, pages,
               record: dict) -> dict:
    import layers as tr_mod
    from checks import read_table

    spark = engine.start()
    runs.run(spark, "warmup")
    walls = []
    while not walls or sum(walls) < args.seconds:
        last = runs.run(spark, "warm")
        walls.append(last["wall"])
    prod_waves = (last["stats"] or {}).get("waves") or wl.waves
    wave_wall = float(read_table(last["ckpt"])["wall_sec"].sum())

    tracer = tr_mod.Tracer()
    replay = tr_mod.replay_extract if wl.job == "extract" else tr_mod.replay_redact
    counts: dict = {}

    def traced_job(spark, d, p, out, ck):
        stats, c = replay(spark, tracer, d, p, out, ck, wl.config)
        counts.update(c)
        return stats

    traced = runs.run(spark, "traced", traced_job)

    kps = tr_mod.kernel_pages_per_s(pages)

    spark.stop()                     # flushes the event log
    log = tr_mod.read_event_log(engine.event_log_dir)
    # same workload at local[1]: one run to start its workers, one timed
    spark = engine.start(cores=1)
    runs.run(spark, "one_core_warmup")
    one_core = runs.run(spark, "one_core")["wall"]

    caught = runs.check(wl.expected(docs, pages))
    w = tr_mod.window_metrics(log, last["t0"], last["t1"], engine.cores)
    self_s = tracer.self_times()
    metrics = {tr_mod.self_time_metric(k): (v, "s") for k, v in self_s.items()}
    extract_s = self_s["extract"]
    pages_in = counts.get("extract.pages_in", 0)
    metrics.update({
        "pipeline.waves": (prod_waves, "count"),
        "pipeline.jobs_per_wave": (w["jobs"] / prod_waves, "count"),
        "pipeline.wave_s": (wave_wall / prod_waves, "s"),
        "pipeline.scan_bytes_per_wave": (w["input_bytes"] / prod_waves, "bytes"),
        "pipeline.driver_gap_s": (w["driver_gap_s"], "s"),
        "checkpoint.buckets_won": (counts.get("checkpoint.buckets_won", 0), "count"),
        "checkpoint.buckets_lost": (counts.get("checkpoint.buckets_lost", 0), "count"),
        "validate.invalid_docs": (counts.get("validate.invalid_docs", 0), "count"),
        "explode.text_spans": (counts.get("explode.text_spans", 0), "count"),
        "explode.media_spans": (counts.get("explode.media_spans", 0), "count"),
        "reassemble.spans_out": (counts.get("reassemble.spans_out", 0), "count"),
        "tokenize.pages_out": (counts.get("tokenize.pages_out", 0), "count"),
        "tokenize.shuffle_bytes": (tr_mod.span_shuffle_bytes(
            log, tracer.windows("tokenize.join")), "bytes"),
        "extract.pages_in": (pages_in, "count"),
        "extract.rows_out": (counts.get("extract.rows_out", 0), "count"),
        "extract.rejected_pages": (counts.get("extract.rejected_pages", 0), "count"),
        "extract.python_bytes_sent": (w["py_sent"], "bytes"),
        "extract.python_bytes_received": (w["py_recv"], "bytes"),
        "extract.kernel_share": (pages_in / (kps * engine.cores) / extract_s
                                 if extract_s > 0 else 0.0, "ratio"),
        "kernel.pages_per_s": (kps, "pages/s"),
        "redactions.box_rows": (counts.get("redactions.box_rows", 0), "count"),
        "redactions.value_rows": (counts.get("redactions.value_rows", 0), "count"),
        "extraction_pipeline.rows_out": (counts.get("extraction_pipeline.rows_out", 0),
                                         "count"),
        "spark.task_busy_share": (w["task_busy_share"], "ratio"),
        "spark.gc_s": (w["gc_s"], "s"),
        "spark.shuffle_bytes": (w["shuffle_bytes"], "bytes"),
        "spark.task_skew_max": (w["task_skew_max"], "ratio"),
        "spark.scaling_eff_1to4": (one_core / (engine.cores * _median(walls)), "ratio"),
        "trace.wall_s": (traced["wall"], "s"),
        "trace.overhead_s": (traced["wall"] - _median(walls), "s"),
        "trace.unattributed_s": (traced["wall"] - sum(self_s.values()), "s"),
    })
    record.update(warm_walls=walls, one_core_wall=one_core, spans=tracer.spans)
    return _result(runs, caught, metrics)


def _result(runs: Runs, caught: bool, metrics: dict) -> dict:
    failed = sum(not r["ok"] for r in runs.done)
    return {"correct": failed == 0 and caught,
            "attempted": len(runs.done), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no ocr_redaction_engine_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS, write_inputs
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench_run"
    work = base / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    for d in ("local", "tmp", "eventlog", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # Python workers import the package from the repository root whatever
    # the working directory; temp files stay inside the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")

    cores = len(os.sched_getaffinity(0))
    mem_total = _mem_total_bytes()
    engine = Engine(work, cores, mem_total, event_log=bool(args.trace))
    record = host_record(args, cores, mem_total, engine)
    cpu0 = _cpu_times()
    try:
        t0 = time.perf_counter()
        docs, pages = wl.local_corpus(args.seed)
        runs = Runs(work, wl, *write_inputs(docs, pages, str(work / "corpus"),
                                            2 * cores))
        record["corpus_s"] = time.perf_counter() - t0
        result = (run_traced if args.trace else run_untraced)(
            args, wl, engine, runs, docs, pages, record)
        record["runs"] = [{k: r[k] for k in ("kind", "wall", "stolen", "ok", "why")}
                          for r in runs.done]
    finally:
        t_stop = time.perf_counter()
        engine.shutdown()
        record["shutdown_s"] = time.perf_counter() - t_stop
        record["cpu_stolen_share"] = _stolen_share(cpu0, _cpu_times())
        shutil.rmtree(work, ignore_errors=True)

    record["result"] = result
    (base / "results").mkdir(parents=True, exist_ok=True)
    (base / "results" / f"{args.workload}-{args.seed}-{args.trace}.json") \
        .write_text(json.dumps(record, indent=1, default=str))
    print("perfbench record: " + json.dumps(
        {k: v for k, v in record.items() if k not in ("spans", "result")},
        default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
