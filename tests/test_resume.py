"""Kill/resume semantics (north_rule: resumable from checkpoint at partition
granularity; SURVEY.md §5.2 item 4).

A run killed after its first committed bucket group must, on rerun, process
only the remaining buckets and produce byte-identical final outputs with no
duplicate or missing documents.
"""

from __future__ import annotations

import pytest

from ocr_redaction_engine_spark import checkpoint
from ocr_redaction_engine_spark.corpus import write_corpus
from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_job

CFG = dict(n_buckets=8, bucket_group=2)


@pytest.fixture(scope="module")
def corpus_input(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("resume"))
    write_corpus(spark, f"{base}/input", n_docs=200, seed=42, partitions=4)
    return base


def _spans(spark, out_dir):
    df = spark.read.parquet(f"{out_dir}/spans")
    return sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref) for r in df.collect())


class _Boom(RuntimeError):
    pass


def test_killed_run_resumes_exactly(spark, corpus_input, monkeypatch):
    base = corpus_input
    docs, pages = f"{base}/input/documents", f"{base}/input/media_pages"

    # clean reference run
    run_job(spark, docs, pages, f"{base}/out_clean", f"{base}/ckpt_clean",
            PipelineConfig(**CFG))
    expected = _spans(spark, f"{base}/out_clean")

    # crash after the first committed wave
    real_append = checkpoint.append_checkpoint
    calls = {"n": 0}

    def dying_append(spark_, ckpt_dir, rows):
        real_append(spark_, ckpt_dir, rows)
        calls["n"] += 1
        if calls["n"] == 1:
            raise _Boom("simulated driver death after wave 1")

    monkeypatch.setattr(checkpoint, "append_checkpoint", dying_append)
    with pytest.raises(_Boom):
        run_job(spark, docs, pages, f"{base}/out", f"{base}/ckpt", PipelineConfig(**CFG))
    monkeypatch.setattr(checkpoint, "append_checkpoint", real_append)

    done_after_crash = checkpoint.completed_buckets(spark, f"{base}/ckpt")
    assert 0 < len(done_after_crash) < CFG["n_buckets"]

    # resume: processes only the remaining buckets
    stats = run_job(spark, docs, pages, f"{base}/out", f"{base}/ckpt", PipelineConfig(**CFG))
    assert stats["buckets_done_before"] == len(done_after_crash)

    got = _spans(spark, f"{base}/out")
    assert got == expected  # no duplicates, no missing docs

    # idempotent no-op rerun
    stats2 = run_job(spark, docs, pages, f"{base}/out", f"{base}/ckpt", PipelineConfig(**CFG))
    assert stats2["waves"] == 0
    assert _spans(spark, f"{base}/out") == expected


def test_accumulator_metrics_match_outputs(spark, corpus_input):
    base = corpus_input
    stats = run_job(spark, f"{base}/input/documents", f"{base}/input/media_pages",
                    f"{base}/out_acc", f"{base}/ckpt_acc", PipelineConfig(**CFG))
    n_pages = (spark.read.parquet(f"{base}/out_acc/spans")
               .filter("media_ref != ''").count())
    n_rejected = (spark.read.parquet(f"{base}/out_acc/redactions")
                  .filter("status = 'REJECTED'").count())
    # at-least-once semantics: equal here (no task retries in local tests)
    assert stats["acc_pages"] == n_pages
    assert stats["acc_rejected"] == n_rejected


def test_missing_checkpoint_means_fresh_run(spark, tmp_path):
    assert checkpoint.completed_buckets(spark, str(tmp_path / "nope")) == set()


def test_corrupted_checkpoint_raises(spark, tmp_path):
    """A checkpoint dir that EXISTS but cannot be read must raise — a
    transient storage failure must not be misread as "fresh run" (VERDICT r1:
    silently reprocessing every bucket at 10^12 docs is catastrophic)."""
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        checkpoint.completed_buckets(spark, str(ckpt))


def test_claim_buckets_single_winner(spark, tmp_path):
    """Two claimants over overlapping bucket sets: the winner per bucket is
    deterministic (min by (ts, claimant)) and the won sets are disjoint."""
    ckpt_dir = str(tmp_path / "ckpt")
    won_a = checkpoint.claim_buckets(spark, ckpt_dir, list(range(8)), "driver-a")
    won_b = checkpoint.claim_buckets(spark, ckpt_dir, list(range(8)), "driver-b")
    assert won_a == set(range(8))      # first claimant wins everything
    assert won_b == set()              # second sees the earlier claims
    # a third claimant over fresh buckets wins only those
    won_c = checkpoint.claim_buckets(spark, ckpt_dir, [8, 9], "driver-c")
    assert won_c == {8, 9}
    # claims are invisible to the lineage reader
    assert checkpoint.completed_buckets(spark, ckpt_dir) == set()


def test_two_driver_claimed_run_partitions_work(spark, corpus_input, tmp_path):
    """S2 multi-writer: driver A claims (and processes) a prefix of the
    buckets, driver B then claims the rest; no bucket is processed twice and
    the union of outputs equals a clean single-writer run."""
    base = corpus_input
    docs, pages = f"{base}/input/documents", f"{base}/input/media_pages"
    ref_out = str(tmp_path / "ref")
    run_job(spark, docs, pages, ref_out, str(tmp_path / "ref_ckpt"),
            PipelineConfig(**CFG))
    want = _spans(spark, ref_out)

    out = str(tmp_path / "mw")
    ckpt_dir = str(tmp_path / "mw_ckpt")
    # simulate driver A having already claimed half the buckets
    pre = checkpoint.claim_buckets(spark, ckpt_dir, [0, 1, 2, 3], "driver-a")
    assert pre == {0, 1, 2, 3}
    stats_b = run_job(spark, docs, pages, out, ckpt_dir,
                      PipelineConfig(claimant="driver-b", **CFG))
    done_after_b = checkpoint.completed_buckets(spark, ckpt_dir)
    assert done_after_b == {4, 5, 6, 7}          # B never touched A's claims
    stats_a = run_job(spark, docs, pages, out, ckpt_dir,
                      PipelineConfig(claimant="driver-a", **CFG))
    assert checkpoint.completed_buckets(spark, ckpt_dir) == set(range(8))
    assert stats_a["waves"] >= 1 and stats_b["waves"] >= 1
    assert _spans(spark, out) == want


def test_claim_ttl_reaps_abandoned_leases(spark, tmp_path):
    """ADVICE r4 / VERDICT r4 #2: a driver that claims buckets and crashes
    must not win forever. With a TTL, a recovery driver under a DIFFERENT
    claimant id reaps the stale leases; without one, the original claims
    keep winning (the documented pre-TTL behavior)."""
    import time as _t
    ckpt_dir = str(tmp_path / "ckpt")
    won_a = checkpoint.claim_buckets(spark, ckpt_dir, [0, 1, 2, 3], "crashed")
    assert won_a == {0, 1, 2, 3}
    _t.sleep(1.2)
    # no TTL: the crashed driver's claims still win
    assert checkpoint.claim_buckets(
        spark, ckpt_dir, [0, 1, 2, 3], "rescue-x") == set()
    # TTL shorter than the sleep: stale leases are ignored, rescue wins.
    # (rescue-x's own claim just above is FRESH, but rescue-y still wins
    # nothing it lost to a live claimant — so reap with a new id)
    assert checkpoint.claim_buckets(
        spark, ckpt_dir, [0, 1, 2, 3], "rescue-x", ttl_sec=1.0) == {0, 1, 2, 3}
    # a fresh (live) claim is NOT reaped by a ttl larger than its age
    assert checkpoint.claim_buckets(
        spark, ckpt_dir, [0, 1, 2, 3], "rescue-z", ttl_sec=3600) == set()


LEASE_TTL = 100.0


class _Clock:
    """Stands in for the ``time`` module inside ``checkpoint``."""
    t = 1000.0

    def time(self):
        return self.t


def _lease_run(spark, monkeypatch, ckpt_dir, n, wave_sec, peer_at):
    """``run_waves`` over ``n`` buckets, one per wave, as driver-a with a
    ``LEASE_TTL`` lease, on a fake clock each wave advances by ``wave_sec``.
    ``peer_at = (wave, offset)``: that far into that wave, a TTL-enabled
    peer claims the buckets no earlier wave wrote. Returns (written
    buckets, the peer's won set, stats)."""
    clock = _Clock()
    monkeypatch.setattr(checkpoint, "time", clock)
    written, peer_won = [], set()

    def write_wave(group, wave_docs):
        if len(written) == peer_at[0]:
            clock.t += peer_at[1]
            peer_won.update(checkpoint.claim_buckets(
                spark, ckpt_dir, [b for b in range(n) if b not in written],
                "peer", ttl_sec=LEASE_TTL))
            clock.t -= peer_at[1]
        clock.t += wave_sec
        written.extend(group)
        return ()

    stats = checkpoint.run_waves(
        spark, spark.createDataFrame([("d",)], "doc_id string"), ckpt_dir,
        n, 1, write_wave,
        claim=lambda bs: checkpoint.claim_buckets(
            spark, ckpt_dir, bs, "driver-a", ttl_sec=LEASE_TTL))
    return written, peer_won, stats


@pytest.mark.parametrize("peer_at", [(2, 10.0), (0, 30.0)],
                         ids=["after_first_row_expired", "before_renewal"])
def test_run_waves_renewed_lease_holds(spark, monkeypatch, tmp_path, peer_at):
    """60 s waves under a 100 s TTL: driver-a's first claim row has expired
    by wave 3, but run_waves renewed the lease before waves 2 and 3.
    after_first_row_expired: a peer claiming 10 s into wave 3 wins nothing
    (without renewal it takes bucket 2). before_renewal: a peer that claims
    30 s into wave 1 loses and drops the buckets; the renewals keep them
    with driver-a, which writes all three (had the still-live losing row
    counted at the wave-3 renewal, bucket 2 would go unprocessed)."""
    ckpt_dir = str(tmp_path / "ckpt")
    written, peer_won, stats = _lease_run(spark, monkeypatch, ckpt_dir, 3,
                                          60.0, peer_at)
    assert peer_won == set()
    assert written == [0, 1, 2]
    assert stats["waves"] == 3 and stats["buckets_skipped_claimed"] == 0
    assert checkpoint.completed_buckets(spark, ckpt_dir) == {0, 1, 2}


def test_run_waves_drops_buckets_lost_before_renewal(spark, monkeypatch,
                                                     tmp_path):
    """A 150 s wave outlasts the 100 s TTL: a peer claiming 120 s into it
    takes both buckets (bucket 0, still being written, costs duplicate
    work only), and the renewal before wave 2 drops bucket 1 and counts
    it."""
    ckpt_dir = str(tmp_path / "ckpt")
    written, peer_won, stats = _lease_run(spark, monkeypatch, ckpt_dir, 2,
                                          150.0, (0, 120.0))
    assert peer_won == {0, 1}
    assert written == [0]
    assert stats["waves"] == 1 and stats["buckets_skipped_claimed"] == 1
    assert checkpoint.completed_buckets(spark, ckpt_dir) == {0}


def test_claim_buckets_lakehouse_routing(spark, tmp_path):
    """Claims routed through the lakehouse adapter (VERDICT r4 #2): with the
    sandbox's parquet backend the adapter path must behave identically to
    the raw path (single winner, disjoint sets); delta/iceberg swap in a
    serialized commit with zero code change at the call site."""
    from ocr_redaction_engine_spark import lakehouse
    ckpt_dir = str(tmp_path / "ckpt")
    assert lakehouse.pick_backend(spark, "auto") == "parquet"  # sandbox
    won_a = checkpoint.claim_buckets(spark, ckpt_dir, list(range(6)),
                                     "driver-a", backend="auto")
    won_b = checkpoint.claim_buckets(spark, ckpt_dir, list(range(6)),
                                     "driver-b", backend="auto")
    assert won_a == set(range(6)) and won_b == set()
    # zero double-claims: the winner sets over the same buckets are disjoint
    assert not (won_a & won_b)
    # adapter and raw path share the claims table → mutually consistent
    assert checkpoint.claim_buckets(
        spark, ckpt_dir, [0, 6], "driver-c") == {6}
    # iceberg without an explicit catalog table name must fail loudly,
    # never silently write a path the catalog can't see
    with pytest.raises((ValueError, RuntimeError)):
        checkpoint.claim_buckets(spark, ckpt_dir, [7], "driver-d",
                                 backend="iceberg")


@pytest.mark.skipif(
    not __import__("ocr_redaction_engine_spark.lakehouse",
                   fromlist=["delta_available"]).delta_available(),
    reason="delta-spark not installed (sandbox has no lakehouse jars)")
def test_claim_buckets_delta_acid(spark, tmp_path):
    """ACID lane (runs where delta-spark is installed): claim appends are
    serialized commits, so concurrent same-bucket claimants resolve to
    exactly one winner with no append-visibility window."""
    ckpt_dir = str(tmp_path / "ckpt")
    won = [checkpoint.claim_buckets(spark, ckpt_dir, list(range(8)),
                                    f"driver-{i}", backend="delta")
           for i in range(3)]
    assert won[0] == set(range(8)) and won[1] == set() and won[2] == set()


def test_run_job_skips_and_reports_foreign_claims(spark, corpus_input, tmp_path,
                                                  monkeypatch):
    """run_job must surface (stats + warning), not silently drop, buckets
    another claimant holds; with claim_ttl_sec a recovery run reaps them.
    It renews the claim before every later wave only when a TTL is set."""
    import time as _t
    base = corpus_input
    docs, pages = f"{base}/input/documents", f"{base}/input/media_pages"
    out = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    # a "crashed" driver claimed half the buckets and never completed them
    assert checkpoint.claim_buckets(
        spark, ckpt_dir, [0, 1, 2, 3], "crashed") == {0, 1, 2, 3}
    calls, claim = [], checkpoint.claim_buckets
    monkeypatch.setattr(checkpoint, "claim_buckets",
                        lambda *a, **k: calls.append(a[2]) or claim(*a, **k))
    stats = run_job(spark, docs, pages, out, ckpt_dir,
                    PipelineConfig(claimant="driver-b", **CFG))
    assert stats["buckets_skipped_claimed"] == 4
    assert calls == [list(range(8))]      # 2 waves, no TTL: one claim
    assert checkpoint.completed_buckets(spark, ckpt_dir) == {4, 5, 6, 7}
    # recovery: TTL reaps the stale leases and finishes the corpus
    _t.sleep(1.2)
    stats2 = run_job(spark, docs, pages, out, ckpt_dir,
                     PipelineConfig(claimant="driver-b", claim_ttl_sec=1.0,
                                    **CFG))
    assert stats2["buckets_skipped_claimed"] == 0
    assert calls[1:] == [[0, 1, 2, 3], [2, 3]]   # renewed before wave 2
    assert checkpoint.completed_buckets(spark, ckpt_dir) == set(range(8))
    # outputs equal a clean single-driver run
    ref_out = str(tmp_path / "ref")
    run_job(spark, docs, pages, ref_out, str(tmp_path / "ref_ckpt"),
            PipelineConfig(**CFG))
    assert _spans(spark, out) == _spans(spark, ref_out)
