"""Benchmark driver (driver contract + north_rule scaling evidence).

Default run:
  1. times the headline ``queries()`` entries at ``$SPARK_GRAFT_SF_DIR``
     (default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``;
  2. measures end-to-end docs/sec of the production batch jobs,
     ``pipeline.run_job`` (redaction) and
     ``extraction_pipeline.run_extraction_job`` (main-content extraction),
     each with its default config, on a deterministic synthetic corpus
     (seed 42) at THREE parallelism levels — N/16, N/4 and N cores (the
     distinct ones) — and reports the step scaling efficiency
     (docs_s_b / docs_s_a) / (b / a) between adjacent levels
     (BASELINE.json north_rule; sandbox stand-in for N vs 4N executors).

Every throughput number comes from one kind of leg (:func:`run_leg`): a
fresh ``python bench.py --pipeline-only|--extraction-only --cpus K
--ndocs N`` process that warms the job once, takes the three host probes
(:func:`host_probes`) and times one :func:`job_pass` with the Spark event
log on; its record carries the wall, the probes and the event-log
attribution of that pass (:func:`event_log_attribution`). The default run
and ``--data-scaling`` interleave such legs over their (cores, docs)
pairs (:func:`interleave`); min-of-rounds is each pair's wall.

Every session, query and leg alike, is ``session.get_spark(name, cpus)``:
the conf the jobs and perfbench run under.

Prints ONE JSON line:
  {"metric": "end_to_end_redaction_wall_sec", "value": wall_sec_at_N,
   "unit": "sec", "docs_per_sec": docs_per_sec_at_N, ...,
   "queries": {name: sec}, "sf": 0.1, "scaling_efficiency": {...}}
and writes the full payload (every leg record) to BENCH_full.json.
"""
from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocr_redaction_engine_spark.corpus import write_corpus, write_web_corpus  # noqa: E402
from ocr_redaction_engine_spark.extraction_pipeline import run_extraction_job  # noqa: E402
from ocr_redaction_engine_spark.pipeline import run_job  # noqa: E402
from ocr_redaction_engine_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
BENCH_DOCS = 360_000              # default --ndocs
CORPUS_DIR = "/tmp/orx_bench_corpus"
#: Interleaved rounds per (cores, docs) pair, core and data scaling alike
#: (the extraction job is cheaper and steadier).
ROUNDS = {"redaction": 4, "extraction": 2}
#: job -> (corpus writer, production job, leg flag)
JOBS = {
    "redaction": (write_corpus, run_job, "--pipeline-only"),
    "extraction": (write_web_corpus, run_extraction_job, "--extraction-only"),
}

# headline subset: one per operator family (full set is exercised by the
# driver's correctness gate; bench keeps wall-clock bounded)
HEADLINE = [
    "q01_filter_pushdown_sum", "q03_token_explode_agg", "q05_pii_redact",
    "q06_token_filter", "q07_window_seqnum", "q11_dict_broadcast_join",
    "q13_groupagg_q1", "q14_join_broadcast_revenue", "q17_hourly_rollup",
    "dedup_exact", "dedup_minhash_bands", "ann_cosine_topk",
    "text_quality", "text_vocab",
    # round-2 scale paths: bucketed near-dup (no cross join), vectorized
    # SimHash band candidates, integer-exact LSH ANN
    "dedup_embedding_cosine", "dedup_simhash_cands", "ann_lsh_topk",
    # round-2 additions: temporal joins, repetition/contamination text ops,
    # KMV sketch
    "q32_asof_join", "q33_range_join", "text_repetition",
    "text_contamination", "sketch_kmv_distinct",
    # round-2b: inverted-index near-dup, budgeted mixing
    "dedup_sparse_cosine", "mix_char_budget",
    # round-2c: Bloom probe dedup, prefix-sum packing, PII density, int8
    # quantization
    "dedup_bloom_probe", "pack_sequences", "text_pii_density", "embed_quantize",
    "sample_temperature", "text_repeated_spans", "sketch_cm_heavy_hitters",
    # round-2e: retrieval, PQ compression ANN, semantic dedup, domain
    # selection, RAG chunking (BPE train is excluded: 20 sequential merge
    # jobs would dominate bench wall-clock without exercising a new shape)
    "search_bm25", "ann_pq_adc", "dedup_semantic", "sample_dsir",
    "text_chunks",
    # round-2g: fuzzy dictionary match (FastSS variant join), HLL sketch,
    # weighted sampling, PMI collocations, skew-safe domain cap, normalized
    # dedup, KL drift monitor
    "search_fuzzy", "sketch_hll_distinct", "sample_weighted",
    "text_pmi_collocations", "web_domain_cap", "dedup_normalized",
    "text_source_kl",
    # round-2h: event analytics (funnel / retention / spike detector),
    # histogram quantile sketch, politeness frontier, privacy layer
    "events_funnel", "events_retention", "events_hourly_anomaly",
    "sketch_hist_quantiles", "web_frontier", "privacy_k_anonymity",
    "privacy_pseudonymize",
    # round-2h tail: exact prefix-filter similarity join, recall harness,
    # quarantine routing, governance, BFS depth, curriculum bucketing,
    # JSON key profiling
    "dedup_prefix_jaccard", "ann_recall_eval", "events_quarantine",
    "audit_referential", "orders_scd_intervals", "web_bfs_depth",
    "sample_quantile_buckets", "events_json_keys",
    # round-2i: OLS trend, interval join (stream-stream twin), snowflake
    # rollup, MERGE upsert
    "events_value_trend", "events_interval_pairs", "q35_snowflake_rollup",
    "storage_merge_upsert", "events_type_correlation", "text_langid_eval",
    "events_pivot_matrix", "sketch_hll_error", "events_top_paths",
    "sample_negative_pairs", "sketch_kmv_setops", "events_sax_symbols", "events_active_users", "orders_rfm", "basket_part_lift", "web_random_walks", "sketch_kmv_containment", "web_domain_gini",
    # round-3: ExactSubstr span clipping (clean-text output of the span
    # finder)
    "dedup_substring_clip",
    # round-3 tail: hybrid retrieval (more-like-this + RRF fusion), LPA
    # communities / k-core / reciprocal-link spam signals, extraction
    # quality eval
    "search_mlt", "search_hybrid_rrf", "web_communities", "web_kcore",
    "web_reciprocal", "extract_eval",
    # round-3b: broadcast Aho-Corasick dictionary matching (north_star's
    # named dictionary-matching scale path — zero-shuffle Arrow map stage)
    "pii_dict_match",
    # round-3c: CCNet perplexity terciles (LM filter -> sketch banding),
    # cross-snapshot incremental dedup (delta vs corpus, old side never
    # self-joins)
    "text_ccnet_buckets", "dedup_incremental",
    # text_tokenizer_fertility excluded like bpe_encode_pieces: it embeds
    # the 20-sequential-merge BPE train (measured 8.5 s, all trainer — the
    # audit itself is two vocab-sized aggs)
    # round-3d: CDC chunk dedup, blocked ER, cross-source containment,
    # banding/Bloom calibration grids, law fits, drift monitor, TrustRank,
    # embedding audits, layout advisor, table recovery, LTV, Q8 share
    "dedup_cdc_chunks", "er_blocked_match", "text_source_overlap",
    "dedup_banding_eval", "sketch_bloom_fpr", "text_zipf_fit",
    "text_heaps_fit", "events_schema_drift", "web_trustrank",
    "ann_centroid_outliers", "embed_dim_stats", "orders_cohort_ltv",
    "privacy_t_closeness", "privacy_noisy_counts", "text_code_detection",
    "text_readability", "storage_partition_skew", "q36_market_share",
    "extract_table_structure", "pack_fill_stats", "web_url_params",
    "dedup_onion_funnel", "multimodal_shot_bounds", "web_redirects",
    "sample_bootstrap", "events_changepoint", "embed_top_component", "web_host_graph", "events_forecast_backtest", "ann_whitened_topk", "text_burstiness", "storage_clustering_depth", "q37_abc_parts", "text_vocab_coverage",
]


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def ensure_corpus(spark, job: str, n_docs: int) -> tuple[str, str]:
    """Materialize ``job``'s corpus flavor at ``n_docs`` once, in its own
    dir, and reuse it across legs (deterministic: seed 42)."""
    base = f"{CORPUS_DIR}_{job}_{n_docs}"
    if not os.path.exists(f"{base}/.ok"):
        shutil.rmtree(base, ignore_errors=True)
        JOBS[job][0](spark, base, n_docs, seed=42, partitions=64)
        open(f"{base}/.ok", "w").close()
    return f"{base}/documents", f"{base}/media_pages"


# ---------------------------------------------------------------------------
# Host probes: Spark-free rates of what the host grants at a width right now,
# one forked process per lane (GIL-free). The ratio of a probe between two
# parallelism levels is the HOST's scaling ceiling for that kind of work; the
# engine's raw efficiency divided by it is the probe-normalized efficiency.
# This multi-tenant VM swings between ~5 % and ~80 % steal on a minutes
# scale, so every leg records its probes next to its wall.
# ---------------------------------------------------------------------------

def _burn(seconds: float) -> int:
    """ALU: a tight busy loop, iterations."""
    t0 = time.time()
    i = 0
    while time.time() - t0 < seconds:
        for _ in range(100000):
            i += 1
    return i


def _burn_stream(seconds: float) -> int:
    """Memory BANDWIDTH: bytes moved by numpy copy+sum over a 64 MB working
    set (far beyond L2), the ceiling that matters for parquet decode + wide
    string scans (measured r5: 8→32 step efficiency ~0.49 on a 32-vCPU box
    vs ~0.83-0.93 ALU). The allocation, numpy import (in the forked worker)
    and first-touch page faults all happen BEFORE t0 — inside a 1 s window
    at 32 procs they dominated and read 4 GB/s on a ~120 GB/s box."""
    import numpy as np
    a = np.arange(8_000_000, dtype=np.int64)
    b = np.empty_like(a)
    np.copyto(b, a)                 # fault in b's pages (untimed)
    int(b.sum())
    t0 = time.time()
    n = 0
    while time.time() - t0 < seconds:
        np.copyto(b, a)
        int(b.sum())
        n += a.nbytes * 2
    return n


_PROBE_RE = re.compile(r"[A-Z]{5}[0-9]{4}[A-Z]|\d{4}\s\d{4}\s\d{4}")


def _burn_regex(seconds: float) -> int:
    """Branchy string scan: Python ``re`` matches over PAN/Aadhaar-shaped
    lines, the closest Spark-free analog of the PII regexp pass."""
    rows = [f"line {i} PQRST{i % 10000:04d}Z tail 1234 5678 9012 x" * 3
            for i in range(2000)]
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        for r in rows:
            if _PROBE_RE.search(r):
                n += 1
    return n


#: probe -> (burn, seconds, unit divisor): ALU in Miters/s, stream in
#: GB/s, regex in M matches/s
PROBES = {
    "alu": (_burn, 1.0, 1e6),
    "stream": (_burn_stream, 2.0, 1e9),
    "regex": (_burn_regex, 2.0, 1e6),
}


def host_probes(procs: int) -> dict:
    """Each probe's aggregate rate across ``procs`` processes."""
    with mp.get_context("fork").Pool(procs) as pool:
        return {kind: round(sum(pool.map(burn, [sec] * procs)) / sec / unit, 2)
                for kind, (burn, sec, unit) in PROBES.items()}


def _host_busy_sec() -> float:
    """Whole-VM busy CPU seconds (user+nice+sys+irq+softirq) from
    /proc/stat: counts the JVM AND its Python workers, which the event
    log's executor metrics cannot see."""
    with open("/proc/stat") as f:
        p = f.readline().split()
    return (int(p[1]) + int(p[2]) + int(p[3]) + int(p[6]) + int(p[7])) \
        / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Event-log attribution: the timed pass split into engine work (task time)
# and the time around it, the CIDR 2022 "Accelerating Python UDFs in
# Vectorized Query Execution" cut.
# ---------------------------------------------------------------------------

def _event_lines(log_dir: str):
    """Lines of every Spark event log under ``log_dir``: single-file logs
    and the ``events_*`` parts of rolling (v2 directory) logs."""
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        parts = ([os.path.join(path, p) for p in sorted(os.listdir(path))
                  if p.startswith("events_")] if os.path.isdir(path) else [path])
        for part in parts:
            with open(part) as f:
                yield from f


def event_log_attribution(log_dir: str, t0: float, t1: float, cpus: int) -> dict:
    """Where the ``cpus`` lanes' time went in the window [t0, t1] (epoch s),
    from the tasks that finished inside it:

    * ``occupancy`` — summed executor run time / (window × cpus);
    * ``cpu_share_of_run`` / ``gc_share_of_run`` — executor CPU and JVM GC
      time as shares of that run time;
    * ``out_of_task_sec`` — window − run time / cpus: driver planning,
      stage scheduling gaps, commit coordination;
    * ``stages`` — per stage: tasks, median and max task run time and their
      ratio (``skew``; None when the median is 0).

    Lines that are not JSON (a torn last line) are skipped."""
    runs: dict[int, list] = {}
    cpu_ms = gc_ms = 0.0
    for line in _event_lines(log_dir):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        if not t0 * 1e3 <= (ev.get("Task Info") or {}).get("Finish Time", 0) <= t1 * 1e3:
            continue
        m = ev.get("Task Metrics") or {}
        runs.setdefault(ev.get("Stage ID"), []).append(m.get("Executor Run Time", 0))
        cpu_ms += m.get("Executor CPU Time", 0) / 1e6
        gc_ms += m.get("JVM GC Time", 0)
    run_ms = sum(sum(r) for r in runs.values())
    wall = t1 - t0
    stages = {}
    for sid, r in sorted(runs.items()):
        med = statistics.median(r)
        stages[str(sid)] = {"tasks": len(r), "median_ms": round(med, 1),
                            "max_ms": round(max(r), 1),
                            "skew": round(max(r) / med, 2) if med > 0 else None}
    return {
        "tasks": sum(len(r) for r in runs.values()),
        "task_run_sec": round(run_ms / 1e3, 3),
        "occupancy": round(run_ms / (wall * 1e3 * cpus), 3),
        "cpu_share_of_run": round(cpu_ms / max(run_ms, 1), 3),
        "gc_share_of_run": round(gc_ms / max(run_ms, 1), 3),
        "out_of_task_sec": round(wall - run_ms / 1e3 / cpus, 3),
        "stages": stages,
    }


# ---------------------------------------------------------------------------
# The leg
# ---------------------------------------------------------------------------

def job_pass(spark, job, docs_path: str, pages_path: str):
    """The one bench pass: ``job`` (``run_job`` or ``run_extraction_job``)
    with its default config over the corpus at ``docs_path`` /
    ``pages_path``, writing to fresh out/ckpt dirs that are made before and
    removed after the timed wall. The returned callable runs one pass and
    gives ``(wall_sec, job_stats)``; it raises if the job ran no wave (a
    pass that found a finished checkpoint would time a no-op)."""
    def one_pass() -> tuple[float, dict]:
        base = tempfile.mkdtemp(prefix="orx_bench_pass_")
        try:
            t0 = time.time()
            stats = job(spark, docs_path, pages_path, f"{base}/out",
                        f"{base}/ckpt")
            wall = time.time() - t0
        finally:
            shutil.rmtree(base, ignore_errors=True)
        if stats["waves"] <= 0:
            raise RuntimeError(f"bench pass ran no wave: {stats}")
        return wall, stats
    return one_pass


def _leg_here(job: str, cpus: int, n_docs: int) -> dict:
    """The body of one leg, in this process: a session with the event log
    on, one untimed warm pass (spawns the Python Arrow workers, C2-JITs the
    codegen'd operators, faults in the page cache — on a long-lived cluster
    that cost amortizes to ~0), the host probes, then one timed pass with
    its attribution. Stops the session."""
    elog = tempfile.mkdtemp(prefix="orx_bench_elog_")
    try:
        spark = get_spark(f"bench-{job}-{cpus}", cpus, {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{elog}",
        })
        spark.sparkContext.setLogLevel("ERROR")
        try:
            one_pass = job_pass(spark, JOBS[job][1],
                                *ensure_corpus(spark, job, n_docs))
            one_pass()
            probes = host_probes(cpus)
            busy0, t0 = _host_busy_sec(), time.time()
            wall, _ = one_pass()
            t1, host_cpu_sec = time.time(), _host_busy_sec() - busy0
        finally:
            spark.stop()        # drains the listener bus into the log
        attrib = event_log_attribution(elog, t0, t1, cpus)
    finally:
        shutil.rmtree(elog, ignore_errors=True)
    # host cores busy during the pass (JVM + Python workers + driver): an
    # Arrow stage lets local[N] borrow idle host cores for its Python side
    attrib["host_cpu_sec"] = round(host_cpu_sec, 1)
    attrib["effective_cores"] = round(host_cpu_sec / wall, 2)
    return {"job": job, "cpus": cpus, "n_docs": n_docs, "pid": os.getpid(),
            "wall_sec": round(wall, 3), "docs_per_sec": round(n_docs / wall, 2),
            "probes": probes, "attribution": attrib}


def run_leg(job: str, cpus: int, n_docs: int) -> dict:
    """One leg of ``job`` at (``cpus``, ``n_docs``) in a fresh
    ``bench.py`` process, so no leg runs on another leg's warm JVM."""
    flag = JOBS[job][2]
    t_leg = time.time()
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), flag,
         "--cpus", str(cpus), "--ndocs", str(n_docs)],
        capture_output=True, text=True)
    sys.stderr.write(f"[bench] {job} cpus={cpus} ndocs={n_docs} "
                     f"done in {time.time() - t_leg:.0f}s\n")
    if out.returncode != 0:
        sys.stderr.write(f"subprocess ({flag} cpus={cpus}) failed:\n")
        sys.stderr.write("\n".join(out.stderr.splitlines()[-30:]) + "\n")
        raise SystemExit(1)
    return json.loads(out.stdout.strip().splitlines()[-1])


def interleave(job: str, pairs: list[tuple[int, int]], rounds: int) -> dict:
    """``rounds`` round-robin passes over the (cpus, n_docs) ``pairs``, one
    :func:`run_leg` each. The host VM's steal load varies on a minutes
    scale, so running all legs of one pair back to back lets a quiet window
    inflate one side of a ratio (observed 0.78-1.20 for the same code);
    interleaving exposes every pair to the same noise, and min-of-rounds
    converges on the engine's cost. Returns pair -> summary, with every
    leg record under ``legs``."""
    legs: dict = {p: [] for p in pairs}
    for _ in range(rounds):
        for p in pairs:
            legs[p].append(run_leg(job, *p))
    out = {}
    for (cpus, n_docs), ls in legs.items():
        wall = min(leg["wall_sec"] for leg in ls)
        out[(cpus, n_docs)] = {
            "cpus": cpus, "n_docs": n_docs, "wall_sec": wall,
            "walls": sorted(leg["wall_sec"] for leg in ls),
            "docs_per_sec": round(n_docs / wall, 2),
            "probe_best": {k: max(leg["probes"][k] for leg in ls)
                           for k in PROBES},
            "legs": ls}
    return out


def scaling(job: str, levels: list[int], n_docs: int) -> dict:
    """``job``'s throughput at each core level and the step efficiency
    between adjacent levels: ``raw`` = (docs_s_b / docs_s_a) / (b / a),
    and per probe the host's ceiling for the same step (what a perfectly
    scaling Spark-free workload of that kind gets on this host, from the
    best probe of each level's rounds) and raw / ceiling."""
    runs = {cpus: r for (cpus, _), r in
            interleave(job, [(c, n_docs) for c in levels], ROUNDS[job]).items()}
    detail = {}
    for a, b in zip(levels, levels[1:]):
        raw = (runs[b]["docs_per_sec"] / runs[a]["docs_per_sec"]) / (b / a)
        step = {"raw": round(raw, 3)}
        for kind in PROBES:
            pa, pb = runs[a]["probe_best"][kind], runs[b]["probe_best"][kind]
            ceiling = (pb / pa) / (b / a) if pa and pb else None
            step[f"{kind}_ceiling"] = round(ceiling, 3) if ceiling else None
            step[f"{kind}_normalized"] = round(raw / ceiling, 3) if ceiling else None
        detail[f"{a}->{b}"] = step
    top = runs[levels[-1]]
    return {"docs_per_sec": top["docs_per_sec"], "wall_sec": top["wall_sec"],
            "n_docs": n_docs, "runs": [runs[c] for c in levels],
            "efficiency": {k: v["raw"] for k, v in detail.items()},
            "efficiency_detail": detail}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pipeline-only", action="store_true",
                    help="one redaction leg in this process (the leg mode)")
    ap.add_argument("--extraction-only", action="store_true",
                    help="one extraction leg in this process; with "
                         "--data-scaling, scale the extraction job")
    ap.add_argument("--cpus", type=int, default=CPUS)
    ap.add_argument("--ndocs", type=int, default=BENCH_DOCS)
    ap.add_argument("--no-scaling", action="store_true")
    ap.add_argument("--data-scaling", action="store_true",
                    help="weak-scaling by DATA: legs at --ndocs and 4x "
                         "--ndocs on the SAME core count; near-4x wall "
                         "growth = no superlinear term (the 100 TB "
                         "complement of the N-vs-4N core legs)")
    args = ap.parse_args()
    job = "extraction" if args.extraction_only else "redaction"

    if args.data_scaling:
        n1, n4 = args.ndocs, 4 * args.ndocs
        runs = interleave(job, [(args.cpus, n1), (args.cpus, n4)], ROUNDS[job])
        small, big = runs[(args.cpus, n1)], runs[(args.cpus, n4)]
        print(json.dumps({
            "metric": ("extraction" if args.extraction_only else "pipeline")
            + "_data_weak_scaling",
            "cpus": args.cpus,
            "ndocs": {"1x": n1, "4x": n4},
            "wall_sec": {"1x": small["wall_sec"], "4x": big["wall_sec"]},
            "docs_per_sec": {"1x": small["docs_per_sec"],
                             "4x": big["docs_per_sec"]},
            # throughput retained at 4x the data on the same cores
            "data_scaling_efficiency": round(big["docs_per_sec"]
                                             / small["docs_per_sec"], 3),
            "runs": {"1x": small["legs"], "4x": big["legs"]},
        }))
        return

    if args.pipeline_only or args.extraction_only:
        print(json.dumps(_leg_here(job, args.cpus, args.ndocs)))
        return

    import __spark_entry__ as entry_mod

    spark = get_spark(f"bench-{args.cpus}", args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qtimes = {}
    qs = entry_mod.queries()
    for name in HEADLINE:
        fn = qs[name]
        # warm with the SAME noop sink the timed passes use: a count()
        # warmup compiles a column-pruned plan whose generated code differs
        # from the noop write's, so timed pass 1 would still pay the
        # cold-codegen/JIT cost (measured 28 s vs 4 s warm on
        # dedup_prefix_jaccard) and a single stolen pass 2 then poisons
        # the min-of-2.
        _force(fn(spark, SF_DIR))
        walls = []
        for _ in range(2):          # min-of-2 per query: steal shelter
            t0 = time.time()
            _force(fn(spark, SF_DIR))
            walls.append(time.time() - t0)
        qtimes[name] = round(min(walls), 3)
        # Drop this query's persisted relations before moving on. Several
        # operators persist an intermediate (documented: callers cycling
        # corpora should clearCache); in a 70+-query shared session those
        # entries accumulate into executor-heap/GC pressure that bleeds
        # into LATER queries' walls (dedup_prefix_jaccard measured 30.1 s
        # late in the leg vs 3.5-4.5 s in a clean session — the query
        # itself was never slow). The warm pass above rebuilds each
        # query's own cache, so timed passes still measure steady state.
        spark.catalog.clearCache()
    spark.stop()

    # Job throughput at N/16, N/4 and N cores (north_rule scaling evidence:
    # same input, two cluster sizes; the sandbox stand-in for N vs 4N
    # executors is local[N] vs local[4N]). With --no-scaling: the redaction
    # job at N cores only.
    levels = [args.cpus] if args.no_scaling else sorted(
        {max(args.cpus // 16, 1), max(args.cpus // 4, 1), args.cpus})
    jobs = {j: scaling(j, levels, args.ndocs)
            for j in (["redaction"] if args.no_scaling else JOBS)}
    red = jobs["redaction"]
    result = {
        "metric": "end_to_end_redaction_wall_sec",
        "value": red["wall_sec"],
        "unit": "sec",
        "queries": qtimes,
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else None,
        "docs_per_sec": red["docs_per_sec"],
        "n_docs": red["n_docs"],
        "cpus": args.cpus,
    }
    if not args.no_scaling:
        result["scaling"] = red
        result["extraction"] = jobs["extraction"]
    # Full payload (every leg record) goes to a file; stdout's FINAL line
    # is a compact summary so the driver's tail capture never truncates it
    # (VERDICT r2 #1: BENCH_r02.json landed parsed:null).
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_full.json")
    with open(full_path, "w") as fh:
        json.dump(result, fh, indent=1)
    # The driver's stdout tail capture keeps only the LAST ~2000 chars; the
    # full per-query dict (150+ entries) alone exceeds that, which is how
    # round 2's record landed parsed:null. The final line therefore carries
    # only the slowest 15 queries (the ones a perf reader looks at first) —
    # the complete dict is in BENCH_full.json alongside.
    slowest = dict(sorted(qtimes.items(), key=lambda kv: -kv[1])[:15])
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in sorted(slowest.items())},
        "n_queries_timed": len(qtimes),
        "sf": result["sf"],
        "docs_per_sec": result["docs_per_sec"],
        "n_docs": result["n_docs"],
        "cpus": result["cpus"],
        "full_payload": "BENCH_full.json",
    }
    if not args.no_scaling:
        detail = red["efficiency_detail"]
        compact["scaling_efficiency"] = red["efficiency"]
        compact["scaling_probe_normalized"] = {
            k: v["alu_normalized"] for k, v in detail.items()}
        compact["host_scaling_ceiling"] = {
            k: v["alu_ceiling"] for k, v in detail.items()}
        compact["scaling_docs_per_sec"] = {
            str(r["cpus"]): r["docs_per_sec"] for r in red["runs"]}
        compact["extraction_docs_per_sec"] = result["extraction"]["docs_per_sec"]
        compact["extraction_efficiency"] = result["extraction"]["efficiency"]
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
