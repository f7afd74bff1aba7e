"""Partition-granular checkpoint / lineage (north_rule: resumable from a
checkpoint table with per-partition lineage + metrics).

Replaces the reference's per-document Mongo status state machine
(IN_QUEUE → IN_PROGRESS → REDACTED/REJECTED, ocrr_engine.py:54,
in_progress/process_in_progress_status.py:107, process_ocrr.py:179-190) with
an append-only parquet/Iceberg lineage table keyed by a stable hash bucket of
``doc_id``:

    checkpoint(bucket int, status string, attempt int, n_docs long,
               n_spans long, n_pages long, n_boxes long, n_chars long,
               wall_sec double)

* Claiming/resume   = :func:`run_waves` skips completed buckets (S1) and,
                      given a claim step, buckets another driver won (S2).
* Completion        = one appended row per bucket after its output commit
                      (write order: data first, lineage second → a crash
                      re-processes at most the in-flight bucket groups: two
                      when unclaimed, one with a claim step — and the
                      bucket-partitioned dynamic overwrite makes reruns
                      idempotent).
* Metrics           = per-bucket aggregates (A8) — queryable lineage instead
                      of log lines. Each is observed on the frame a sink
                      writes (:class:`BucketMetrics`), inside the write job
                      itself: n_docs = documents the wave processed (after
                      the validity route), n_spans = span rows written,
                      n_pages = span rows with a media_ref, n_boxes =
                      redaction rows written (0 for extraction), n_chars =
                      sum of the written span texts' lengths. Rows written
                      before n_chars existed read it back as null.

Bucketing uses xxhash64(doc_id) so the same document always lands in the same
bucket across runs and cluster sizes — the property that makes resume exact
at 10^12 documents.
"""

from __future__ import annotations

import logging
import queue
import time
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .session import local_frame

_log = logging.getLogger(__name__)

CHECKPOINT_SCHEMA = (
    "bucket int, status string, attempt int, n_docs long, n_spans long, "
    "n_pages long, n_boxes long, n_chars long, wall_sec double"
)


def bucket_col(n_buckets: int, doc_id_col: str = "doc_id"):
    return F.pmod(F.xxhash64(F.col(doc_id_col)), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", bucket_col(n_buckets))


def completed_buckets(spark: SparkSession, ckpt_dir: str) -> set[int]:
    """Read the lineage table; a MISSING table means "fresh run" — any other
    failure (corrupt files, storage errors) must RAISE, not silently restart:
    at the 10^12-doc design point a transient read error misread as "fresh"
    would reprocess every bucket (idempotent but catastrophic). Existence
    is asked of the filesystem, not learned from a failed read, so a fresh
    run submits no query."""
    path = spark._jvm.org.apache.hadoop.fs.Path(ckpt_dir)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return set()
    # explicit schema: a ckpt dir holding only hidden _claims files has
    # no visible parquet to infer from but is a legitimate fresh run;
    # corrupt data files still fail at scan time, not silently
    rows = (
        spark.read.schema(CHECKPOINT_SCHEMA).parquet(ckpt_dir)
        .filter(F.col("status") == "done")
        .select("bucket").distinct().collect()
    )
    return {r.bucket for r in rows}


def checkpoint_frame(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Lineage rows as a CHECKPOINT_SCHEMA frame; missing metrics are 0."""
    return local_frame(spark, [
        (r["bucket"], r.get("status", "done"), r.get("attempt", 1),
         r.get("n_docs", 0), r.get("n_spans", 0), r.get("n_pages", 0),
         r.get("n_boxes", 0), r.get("n_chars", 0), r.get("wall_sec", 0.0))
        for r in rows], CHECKPOINT_SCHEMA)


def append_checkpoint(spark: SparkSession, ckpt_dir: str, rows: list[dict]) -> None:
    if not rows:
        return
    checkpoint_frame(spark, rows).write.mode("append").parquet(ckpt_dir)


class BucketMetrics:
    """Per-bucket lineage sums observed on the frame ONE sink writes.

    For every metric ``name=column`` and bucket ``b`` of the wave's group,
    Spark sums the per-row column over the rows whose ``bucket`` is b while
    the sink's write job runs, so lineage costs no re-read of the output.
    Attach with :meth:`on` to a frame no other sink's plan contains (an
    observation that reaches two queries reports the first to finish), and
    call :meth:`get` only after that write succeeded — it blocks until the
    observed query reports. Observe rejects DISTINCT aggregates, so every
    metric is a sum.
    """

    def __init__(self, group: list[int], bucket: Column | None = None,
                 **metrics: Column):
        self.group, self.metrics = list(group), metrics
        self.bucket = F.col("bucket") if bucket is None else bucket
        self._obs = Observation()

    def on(self, df: DataFrame) -> DataFrame:
        return df.observe(self._obs, *[
            F.sum(F.when(self.bucket == b, v)).alias(f"{k}_{b}")
            for k, v in self.metrics.items() for b in self.group])

    def get(self) -> dict[int, dict[str, int]]:
        row = self._obs.get
        return {b: {k: int(row[f"{k}_{b}"] or 0) for k in self.metrics}
                for b in self.group}


def span_metrics() -> dict[str, Column]:
    """The lineage metrics of a flat span-sequence sink (spans, main_spans)."""
    return {"n_spans": F.lit(1),
            "n_pages": (F.col("media_ref") != "").cast("int"),
            "n_chars": F.length("text")}


def lineage_rows(group: list[int], wall_sec: float,
                 *observed: BucketMetrics) -> list[dict]:
    """One ``done`` row per bucket of the wave, merging every observed
    sink's metrics; the wave's wall time is split evenly."""
    got = [m.get() for m in observed]
    return [{"bucket": b, "status": "done",
             "wall_sec": wall_sec / max(1, len(group)),
             **{k: v for g in got for k, v in g[b].items()}}
            for b in group]


def write_buckets(df: DataFrame, n_buckets: int, path: str,
                  *observed: BucketMetrics) -> None:
    """Write ``df`` partitioned by bucket with the observations attached.
    The overwrite is dynamic as a write option, so only the buckets the
    frame holds are replaced (idempotent reruns) and the session's
    ``partitionOverwriteMode`` is left alone."""
    df = with_bucket(df, n_buckets)
    for m in observed:
        df = m.on(df)
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("bucket").parquet(path)


def run_waves(spark: SparkSession, documents: DataFrame, ckpt_dir: str,
              n_buckets: int, bucket_group: int,
              write_wave: Callable[[list[int], DataFrame],
                                   tuple[BucketMetrics, ...]],
              claim: Callable[[list[int]], set[int]] | None = None) -> dict:
    """The resumable wave loop both batch jobs run.

    Skips the buckets the lineage table at ``ckpt_dir`` has done, then, if
    ``claim`` is given, keeps only the buckets it returns as won (S2), and
    renews the lease on the buckets still to do before every later wave,
    dropping any it lost meanwhile. The rest go in waves of
    ``bucket_group``: ``write_wave(group, wave_docs)`` writes the wave's
    sinks (:func:`write_buckets`) and returns the :class:`BucketMetrics`
    observed on them.

    Each wave runs on its own thread, which inherits the caller's Spark
    local properties (job group, description, scheduler pool). Without a
    claim step two waves are in flight: while one wave's jobs run, the next
    wave plans and queues its own, and the caller's thread appends a wave's
    lineage rows as soon as its ``write_wave`` returns (completion order),
    so a crash re-processes at most the two in-flight waves. ``wall_sec``
    is each wave's own wall, so summed over waves it can exceed the run's.
    With a claim step one wave is in flight, so each lease renewal comes
    right before its wave. After the first failure no wave starts and no
    lineage row is appended; the in-flight wave is waited for, so no Spark
    job outlives the call, and the first error is re-raised."""
    done = completed_buckets(spark, ckpt_dir)
    remaining = sorted(set(range(n_buckets)) - done)
    stats = {"buckets_done_before": len(done), "waves": 0,
             "buckets_skipped_claimed": 0}
    finished = queue.SimpleQueue()

    def wave(group):
        t0 = time.time()
        try:
            observed = write_wave(
                group, documents.filter(bucket_col(n_buckets).isin(group)))
        except BaseException as e:   # re-raised on the caller's thread
            finished.put((group, 0.0, (), e))
        else:
            finished.put((group, time.time() - t0, observed, None))

    depth = 2 if claim is None else 1
    in_flight, error = 0, None
    while remaining or in_flight:
        if remaining and in_flight < depth:
            if claim is not None:
                # the first call claims; each later one renews the lease (a
                # fresh claim row keeps it live for another TTL)
                won = claim(remaining)
                if newly_lost := [b for b in remaining if b not in won]:
                    _log.warning(
                        "skipping %d bucket(s) claimed by other drivers and "
                        "not yet done: %s — if the claimant crashed, rerun "
                        "with claim_ttl_sec set to reap the stale leases",
                        len(newly_lost), newly_lost)
                    stats["buckets_skipped_claimed"] += len(newly_lost)
                remaining = [b for b in remaining if b in won]
                if not remaining:
                    continue
            group, remaining = remaining[:bucket_group], remaining[bucket_group:]
            InheritableThread(wave, args=(group,), session=spark).start()
            in_flight += 1
            continue
        group, wall, observed, wave_error = finished.get()
        in_flight -= 1
        if error is not None:
            continue   # draining after a failure: record nothing
        if wave_error is None:
            try:
                # a module-global lookup: a patched
                # checkpoint.append_checkpoint (how the kill/resume tests
                # crash a run) takes effect
                append_checkpoint(spark, ckpt_dir,
                                  lineage_rows(group, wall, *observed))
                stats["waves"] += 1
            except BaseException as e:   # re-raised once no wave is left
                wave_error = e
        if wave_error is not None:
            error, remaining = wave_error, []   # start no further wave
    if error is not None:
        raise error
    stats["buckets_total"] = n_buckets
    return stats


# ---------------------------------------------------------------------------
# Multi-writer claims (S2) — the reference's atomic IN_QUEUE → IN_PROGRESS
# update_many (ocrr_engine.py:54) is a multi-consumer claim; two concurrent
# drivers must not double-process a bucket.
# ---------------------------------------------------------------------------

CLAIMS_SCHEMA = "bucket int, claimant string, ts double"


def _claims_dir(ckpt_dir: str) -> str:
    # underscore prefix: parquet readers treat _-prefixed paths as hidden,
    # so the lineage reader at ckpt_dir never sees claim files
    return f"{ckpt_dir}/_claims"


def claim_buckets(spark: SparkSession, ckpt_dir: str, buckets: list[int],
                  claimant: str, ttl_sec: float | None = None,
                  backend: str | None = None,
                  claims_target: str | None = None) -> set[int]:
    """Write-intent claim with a deterministic single-winner rule and an
    optional lease TTL.

    Protocol: append (bucket, claimant, ts) rows, read back the claims on
    ``buckets`` and replay them in (ts, claimant) order: a row takes its
    bucket when nobody holds it and renews it when its claimant holds it;
    any other row lost when written, and is ignored. This claimant keeps
    what it holds at the end. The replay depends on the rows alone, so
    every driver that reads after both writes land agrees.

    ``ttl_sec``: a holder whose latest row is older than the TTL when the
    next row comes has an ABANDONED LEASE, and that row takes the bucket,
    so a recovery driver (any claimant id) wins buckets a crashed driver
    never completed — without it, a crashed claimant holds forever and
    ``run_job`` silently skips its buckets (recovery without a TTL: rerun
    with its claimant id, or delete ``<ckpt_dir>/_claims``).
    :func:`run_waves` renews the lease before every later wave, so size
    the TTL above one wave's worst-case wall time: a slow driver whose
    lease expires mid-wave can have a bucket stolen, which costs duplicate
    WORK only (every sink is bucket-partitioned dynamic overwrite).
    Cross-driver clock skew must stay well under the TTL (the standard
    lease assumption).

    ``backend``: None = raw parquet append (default, unchanged semantics).
    'delta' / 'iceberg' / 'parquet' / 'auto' route the claim append and
    read-back through ``lakehouse.write_table`` / ``read_table``: on an
    ACID table format the append is a SERIALIZED COMMIT, closing raw
    parquet's append-visibility window, so the single-winner rule is
    airtight (exact single-processing — the reference's atomic
    ``update_many`` claim, ocrr_engine.py:54). For iceberg pass
    ``claims_target`` as a catalog table name (``cat.db.tbl``); delta
    defaults to the ``_claims`` path under ``ckpt_dir``.
    """
    if not buckets:
        return set()
    now = time.time()
    rows = local_frame(spark, [(int(b), claimant, now) for b in buckets],
                       CLAIMS_SCHEMA)
    if backend is None:
        target = claims_target or _claims_dir(ckpt_dir)
        rows.write.mode("append").parquet(target)
        claims = spark.read.schema(CLAIMS_SCHEMA).parquet(target)
    else:
        from . import lakehouse
        resolved = lakehouse.pick_backend(spark, backend)
        if resolved == "iceberg" and claims_target is None:
            raise ValueError(
                "iceberg-backed claims need claims_target as a catalog "
                "table name (cat.db.tbl); a path-derived default would "
                "silently miss the catalog")
        target = claims_target or _claims_dir(ckpt_dir)
        lakehouse.write_table(rows, target, backend=resolved, mode="append")
        claims = lakehouse.read_table(spark, target, backend=resolved)
    holder: dict[int, tuple[str, float]] = {}
    for r in sorted(claims.where(F.col("bucket").isin(buckets)).collect(),
                    key=lambda r: (r["ts"], r["claimant"])):
        held = holder.get(r["bucket"])
        if (held is None or held[0] == r["claimant"]
                or ttl_sec is not None and r["ts"] - held[1] > ttl_sec):
            holder[r["bucket"]] = (r["claimant"], r["ts"])
    # this call's own rows are in the replay, so every requested bucket has
    # a holder; .get is belt-and-braces against a read that misses them
    return {b for b in buckets if holder.get(b, (claimant,))[0] == claimant}
