"""Benchmark driver (driver contract + north_rule scaling evidence).

Default run:
  1. times the headline ``queries()`` entries at ``$SPARK_GRAFT_SF_DIR``
     (default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``;
  2. measures end-to-end docs/sec of the production batch jobs,
     ``pipeline.run_job`` (redaction) and
     ``extraction_pipeline.run_extraction_job`` (main-content extraction),
     each with its default config, on a deterministic synthetic corpus
     (seed 42) at THREE parallelism levels — N/16, N/4 and N cores (the
     distinct ones), fresh JVM each (subprocess) — and reports the step
     scaling efficiency (docs_s_b / docs_s_a) / (b / a) between adjacent
     levels (BASELINE.json north_rule; sandbox stand-in for N vs 4N
     executors).

Every session, query and leg alike, is ``session.get_spark(name, cpus)``:
the conf the jobs and perfbench run under.

Prints ONE JSON line:
  {"metric": "end_to_end_redaction_wall_sec", "value": wall_sec_at_N,
   "unit": "sec", "docs_per_sec": docs_per_sec_at_N, ...,
   "queries": {name: sec}, "sf": 0.1, "scaling_efficiency": {...}}

Subprocess mode (internal): ``python bench.py --pipeline-only --cpus K``
(or ``--extraction-only``) prints a small JSON dict for one leg.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocr_redaction_engine_spark.extraction_pipeline import run_extraction_job  # noqa: E402
from ocr_redaction_engine_spark.pipeline import run_job  # noqa: E402
from ocr_redaction_engine_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "360000"))
CORPUS_DIR = os.environ.get("SPARK_GRAFT_BENCH_CORPUS", "/tmp/orx_bench_corpus")
WARM_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_WARM", "1"))   # untimed JIT/worker warm-up
TIMED_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_TIMED", "2"))  # min-of-N timed passes

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


def ensure_corpus(spark, n_docs: int, base: str | None = None) -> tuple[str, str]:
    """Materialize the bench corpus once; reuse across runs (deterministic)."""
    from ocr_redaction_engine_spark.corpus import write_corpus
    base = base or CORPUS_DIR
    marker = os.path.join(base, f".ok_{n_docs}")
    docs = f"{base}/documents"
    pages = f"{base}/media_pages"
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        write_corpus(spark, base, n_docs, seed=42, partitions=64)
        open(marker, "w").close()
    return docs, pages


def ensure_web_corpus(spark, n_docs: int, base: str | None = None) -> tuple[str, str]:
    """Web-corpus flavor (html/pdf/text/media spans) for the extraction
    pipeline's legs."""
    from ocr_redaction_engine_spark.corpus import write_web_corpus
    base = base or (CORPUS_DIR + "_web")
    marker = os.path.join(base, f".ok_{n_docs}")
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        write_web_corpus(spark, base, n_docs, seed=42, partitions=64)
        open(marker, "w").close()
    return f"{base}/documents", f"{base}/media_pages"


def host_probe(seconds: float = 1.0) -> float:
    """Single-thread busy-loop rate (Miters/s) — a Spark-free contention
    probe recorded alongside every scaling pass, so the JSON itself shows
    whether a slow wall was the engine or the neighbors (this multi-tenant
    VM swings between ~5 % and ~80 % steal on a minutes scale)."""
    t0 = time.time()
    i = _burn(seconds)
    return round(i / (time.time() - t0) / 1e6, 1)


def _burn(seconds: float) -> int:
    t0 = time.time()
    i = 0
    while time.time() - t0 < seconds:
        for _ in range(100000):
            i += 1
    return i


def _burn_stream(seconds: float) -> int:
    """Bytes moved by numpy copy+sum over a 64 MB working set (far beyond
    L2): a memory-BANDWIDTH burn, the ceiling that matters for parquet
    decode + wide string scans (r5 attribution — the ALU probe alone
    overstates what the host offers this workload class).

    The allocation, numpy import (in the forked worker), and first-touch
    page faults all happen BEFORE t0 — measured inside a 1 s window at 32
    procs they dominated and read 4 GB/s on a ~120 GB/s box."""
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


def parallel_stream_probe(procs: int, seconds: float = 2.0) -> float:
    """Aggregate memory-stream rate (GB/s) across ``procs`` processes —
    the host's BANDWIDTH scaling ceiling between two parallelism levels
    (measured r5: 8→32 step efficiency ~0.49 on this box vs ~0.83-0.93
    ALU — bandwidth saturates long before the lanes do)."""
    import multiprocessing as mp
    ctx = mp.get_context("fork")
    with ctx.Pool(procs) as pool:
        counts = pool.map(_burn_stream, [seconds] * procs)
    return round(sum(counts) / seconds / 1e9, 2)


def parallel_host_probe(procs: int, seconds: float = 1.0) -> float:
    """Aggregate busy-loop rate (Miters/s) across ``procs`` PROCESSES — the
    Spark-free measurement of how much parallel ALU the host actually grants
    at this width right now (GIL-free, unlike threads). The ratio of this
    probe between two parallelism levels is the HOST's scaling ceiling; the
    engine's raw efficiency divided by it is the probe-normalized
    efficiency the scaling tables publish (VERDICT r3 #4)."""
    import multiprocessing as mp
    ctx = mp.get_context("fork")
    with ctx.Pool(procs) as pool:
        counts = pool.map(_burn, [seconds] * procs)
    return round(sum(counts) / seconds / 1e6, 1)


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


def _leg(cpus: int, n_docs: int, single: bool, corpus_base: str | None,
         ensure, job) -> dict:
    """One fresh-JVM throughput leg: ``ensure(spark, n_docs, corpus_base)``
    materializes the corpus, and the leg reports the min-of-N
    :func:`job_pass` wall of ``job`` next to the host probes taken just
    before it."""
    spark = get_spark(f"bench-{cpus}", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    one_pass = job_pass(spark, job, *ensure(spark, n_docs, corpus_base))

    # Warm passes (untimed): spawn+import the Python Arrow workers, C2-JIT the
    # codegen'd operators, fault in the page cache. On a long-lived cluster
    # over 100 TB this cost amortizes to ~0; timing it would measure
    # fork/exec+JIT, not the engine. Steady state is what the north_rule
    # scaling gate compares.
    for _ in range(WARM_RUNS):
        one_pass()
    # min-of-N: the host VM shows multi-second steal spikes (observed 18 s vs
    # 79 s for the SAME 32-core pass back-to-back); the minimum is the
    # closest observation to the engine's actual cost. High-parallelism legs
    # are the most noise-sensitive AND the cheapest per pass — take extra
    # passes there; low-cpu legs get one extra pass as steal shelter too.
    n_timed = 1 if single else TIMED_RUNS + 2
    probe = host_probe()
    pprobe = parallel_host_probe(cpus)
    sprobe = parallel_stream_probe(cpus)
    walls = sorted(one_pass()[0] for _ in range(n_timed))
    spark.stop()
    return {"cpus": cpus, "n_docs": n_docs, "wall_sec": round(walls[0], 3),
            "walls": [round(w, 3) for w in walls],
            "host_probe_miters": probe,
            "host_parallel_miters": pprobe,
            "host_stream_gbs": sprobe,
            "docs_per_sec": round(n_docs / walls[0], 2)}


def run_pipeline_once(cpus: int, n_docs: int, single: bool = False,
                      corpus_base: str | None = None) -> dict:
    """One fresh-JVM throughput leg of the redaction job, ``run_job``."""
    return _leg(cpus, n_docs, single, corpus_base, ensure_corpus, run_job)


def run_extraction_once(cpus: int, n_docs: int, single: bool = False,
                        corpus_base: str | None = None) -> dict:
    """One fresh-JVM throughput leg of the main-content extraction job,
    ``run_extraction_job``."""
    return _leg(cpus, n_docs, single, corpus_base, ensure_web_corpus,
                run_extraction_job)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pipeline-only", action="store_true")
    ap.add_argument("--extraction-only", action="store_true")
    ap.add_argument("--cpus", type=int, default=CPUS)
    ap.add_argument("--ndocs", type=int, default=BENCH_DOCS)
    ap.add_argument("--no-scaling", action="store_true")
    ap.add_argument("--single-pass", action="store_true",
                    help="with --pipeline-only: warm once, time once (the "
                         "interleaved-rounds scaling mode)")
    ap.add_argument("--data-scaling", action="store_true",
                    help="weak-scaling by DATA: run the pipeline at --ndocs "
                         "and 4x --ndocs on the SAME core count; near-4x "
                         "wall growth = no superlinear term (the 100 TB "
                         "complement of the N-vs-4N core legs)")
    args = ap.parse_args()

    if args.data_scaling:
        # Interleave the two sizes (small, big, small, big) so host-steal
        # windows hit both; min-of-rounds per size is the engine signal.
        if args.extraction_only:
            runner, metric, big_dir = (run_extraction_once,
                                       "extraction_data_weak_scaling",
                                       CORPUS_DIR + "_web_4x")
        else:
            runner, metric, big_dir = (run_pipeline_once,
                                       "pipeline_data_weak_scaling",
                                       CORPUS_DIR + "_4x")
        small, big = [], []
        for _ in range(2):
            small.append(runner(args.cpus, args.ndocs, single=True))
            big.append(runner(args.cpus, 4 * args.ndocs,
                              single=True, corpus_base=big_dir))
        ws = min(r["wall_sec"] for r in small)
        wb = min(r["wall_sec"] for r in big)
        print(json.dumps({
            "metric": metric,
            "cpus": args.cpus,
            "ndocs": {"1x": args.ndocs, "4x": 4 * args.ndocs},
            "wall_sec": {"1x": ws, "4x": wb},
            "docs_per_sec": {"1x": round(args.ndocs / ws, 2),
                             "4x": round(4 * args.ndocs / wb, 2)},
            # throughput retained at 4x the data on the same cores
            "data_scaling_efficiency": round((4 * args.ndocs / wb)
                                             / (args.ndocs / ws), 3),
            "runs": {"1x": small, "4x": big},
        }))
        return

    if args.pipeline_only:
        print(json.dumps(run_pipeline_once(args.cpus, args.ndocs,
                                           single=args.single_pass)))
        return
    if args.extraction_only:
        print(json.dumps(run_extraction_once(args.cpus, args.ndocs,
                                             single=args.single_pass)))
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

    # job throughput at N/16, N/4 and N cores, fresh JVM each
    # (north_rule scaling evidence: same input, two cluster sizes; the
    # sandbox stand-in for N vs 4N executors is local[N] vs local[4N]).
    # Legs are INTERLEAVED round-robin (2, 8, 32, 2, 8, 32, ...): the host
    # VM's steal load varies on a minutes scale, so running all passes of
    # one leg back-to-back lets a quiet window inflate one side of the
    # efficiency ratio (observed 0.78-1.20 for the same code); interleaving
    # exposes every leg to the same noise distribution and min-of-rounds
    # converges on the engine's true cost at each level.
    env = dict(os.environ, SPARK_GRAFT_BENCH_CORPUS=CORPUS_DIR)
    levels = [args.cpus] if args.no_scaling else sorted(
        {max(args.cpus // 16, 1), max(args.cpus // 4, 1), args.cpus})

    def interleaved_scaling(flag: str, rounds: int, ndocs: int) -> dict:
        walls: dict[int, list] = {c: [] for c in levels}
        probes: dict[int, list] = {c: [] for c in levels}
        pprobes: dict[int, list] = {c: [] for c in levels}
        sprobes: dict[int, list] = {c: [] for c in levels}
        for r in range(rounds):
            for cpus in levels:
                t_leg = time.time()
                sys.stderr.write(f"[bench] {flag} round {r} leg cpus={cpus} starting\n")
                sys.stderr.flush()
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), flag,
                     "--cpus", str(cpus), "--ndocs", str(ndocs),
                     "--single-pass"],
                    capture_output=True, text=True, env=env)
                sys.stderr.write(
                    f"[bench] {flag} round {r} leg cpus={cpus} done in {time.time()-t_leg:.0f}s\n")
                sys.stderr.flush()
                if out.returncode != 0:
                    sys.stderr.write(f"subprocess ({flag} cpus={cpus}) failed:\n")
                    sys.stderr.write("\n".join(out.stderr.splitlines()[-30:]) + "\n")
                    raise SystemExit(1)
                leg = json.loads(out.stdout.strip().splitlines()[-1])
                walls[cpus].extend(leg["walls"])
                probes[cpus].append(leg.get("host_probe_miters"))
                pprobes[cpus].append(leg.get("host_parallel_miters"))
                sprobes[cpus].append(leg.get("host_stream_gbs"))
        runs = {}
        for cpus in levels:
            ws = sorted(walls[cpus])
            pp = [x for x in pprobes[cpus] if x]
            sp = [x for x in sprobes[cpus] if x]
            runs[cpus] = {"cpus": cpus, "n_docs": ndocs,
                          "wall_sec": round(ws[0], 3),
                          "walls": [round(w, 3) for w in ws],
                          "host_probes_miters": probes[cpus],
                          "host_parallel_miters": pp,
                          "host_parallel_best": max(pp) if pp else None,
                          "host_stream_gbs": sp,
                          "host_stream_best": max(sp) if sp else None,
                          "docs_per_sec": round(ndocs / ws[0], 2)}
        return runs

    def norm_efficiency(runs: dict) -> dict:
        """Raw and probe-normalized step efficiency. The host ceiling for a
        step a->b is the best-case parallel probe ratio (pp_b/pp_a)/(b/a)
        — what a perfectly-scaling Spark-free workload achieves on this
        host; the normalized number is raw/ceiling, i.e. the ENGINE's
        share of the scaling it could possibly have gotten."""
        out = {}
        for a, b in zip(levels, levels[1:]):
            raw = (runs[b]["docs_per_sec"] / runs[a]["docs_per_sec"]) / (b / a)
            pa, pb = runs[a]["host_parallel_best"], runs[b]["host_parallel_best"]
            ceiling = ((pb / pa) / (b / a)) if pa and pb else None
            sa, sb = runs[a].get("host_stream_best"), runs[b].get("host_stream_best")
            s_ceiling = ((sb / sa) / (b / a)) if sa and sb else None
            out[f"{a}->{b}"] = {
                "raw": round(raw, 3),
                "host_ceiling": round(ceiling, 3) if ceiling else None,
                "probe_normalized": round(raw / ceiling, 3) if ceiling else None,
                # bandwidth ceiling: what a perfectly-scaling memory-bound
                # workload achieves on this host at the same step (r5)
                "stream_ceiling": round(s_ceiling, 3) if s_ceiling else None,
                "stream_normalized": round(raw / s_ceiling, 3) if s_ceiling else None,
            }
        return out

    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "4"))
    runs = interleaved_scaling("--pipeline-only", rounds, args.ndocs)

    hi = runs[args.cpus]
    result = {
        "metric": "end_to_end_redaction_wall_sec",
        "value": round(hi["wall_sec"], 3),
        "unit": "sec",
        "queries": qtimes,
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else None,
        "docs_per_sec": hi["docs_per_sec"],
        "n_docs": hi["n_docs"],
        "cpus": args.cpus,
    }
    if not args.no_scaling:
        result["scaling"] = {
            "runs": [runs[c] for c in levels],
            "efficiency": {
                f"{a}->{b}": round((runs[b]["docs_per_sec"] / runs[a]["docs_per_sec"])
                                   / (b / a), 3)
                for a, b in zip(levels, levels[1:])
            },
            "efficiency_detail": norm_efficiency(runs),
        }
        # main-content extraction pipeline: same interleaved two-cluster-size
        # evidence (fewer rounds — the UDF-free plan is cheap and stable)
        xrounds = int(os.environ.get("SPARK_GRAFT_BENCH_XROUNDS", "2"))
        xruns = interleaved_scaling("--extraction-only", xrounds, args.ndocs)
        xhi = xruns[args.cpus]
        result["extraction"] = {
            "docs_per_sec": xhi["docs_per_sec"],
            "wall_sec": xhi["wall_sec"],
            "runs": [xruns[c] for c in levels],
            "efficiency": {
                f"{a}->{b}": round((xruns[b]["docs_per_sec"] / xruns[a]["docs_per_sec"])
                                   / (b / a), 3)
                for a, b in zip(levels, levels[1:])
            },
            "efficiency_detail": norm_efficiency(xruns),
        }
    # Full payload (per-pass walls, host probes) goes to a file;
    # stdout's FINAL line is a compact summary so the driver's tail capture
    # never truncates it (VERDICT r2 #1: BENCH_r02.json landed parsed:null).
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
        compact["scaling_efficiency"] = result["scaling"]["efficiency"]
        compact["scaling_probe_normalized"] = {
            k: v["probe_normalized"]
            for k, v in result["scaling"]["efficiency_detail"].items()}
        compact["host_scaling_ceiling"] = {
            k: v["host_ceiling"]
            for k, v in result["scaling"]["efficiency_detail"].items()}
        compact["scaling_docs_per_sec"] = {
            str(c): runs[c]["docs_per_sec"] for c in levels}
        compact["extraction_docs_per_sec"] = result["extraction"]["docs_per_sec"]
        compact["extraction_efficiency"] = result["extraction"]["efficiency"]
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
