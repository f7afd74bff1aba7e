"""Document validity routing (SURVEY.md §2.2 P1) — the third terminal
status.

The reference promotes an IN_PROGRESS document into the work queue only if
its file path exists AND its extension (lowercased) is one of
``jpg/jpeg/tiff``; anything else goes terminal as ``INVALID_DOCUMENT`` with
``taskResult = "Invalid Document"`` plus a webhook ping
(in_progress/process_in_progress_status.py:62-84,123-131 — note the
reference's invalid branch then crashes on the ``document['taskid']`` key
typo at :66; we keep the routing semantics, not the crash).

Spark mapping: "path exists" ≅ the span's ``media_ref`` resolves in the
``media_pages`` backing table (a left-join miss is a missing file);
"extension valid" ≅ the resolved page's ``document_name`` suffix after the
last '.' is whitelisted. Validity is DOCUMENT-level exactly as in the
reference: one bad page poisons the whole document — none of its spans may
reach any output sink.

Scale shape: the probe joins only (doc_id, media_ref) pairs against a
(media_ref, document_name) projection — Parquet column pruning keeps the
page side narrow (no word boxes/lines ride this shuffle). The invalid set
is then |invalid documents| rows — broadcast it into the anti-join that
gates the main pipeline, so the routing adds one slim shuffle plus
map-side anti-joins, never a second full resolve join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

#: Extension whitelist (in_progress/process_in_progress_status.py:81).
VALID_EXTENSIONS = ("jpg", "jpeg", "tiff")

INVALID_STATUS = "INVALID_DOCUMENT"
INVALID_RESULT = "Invalid Document"   # taskResult literal (ref :127)


def invalid_documents(documents: DataFrame, media_pages: DataFrame,
                      whitelist: tuple = VALID_EXTENSIONS) -> DataFrame:
    """Status rows for documents failing the validity check.

    Returns (doc_id, status, task_result, reason) with one row per invalid
    document; ``reason`` is ``missing_media`` (unresolvable media_ref — the
    os.path.exists analogue) or ``bad_extension``, ``missing_media``
    winning when a document has both (matches the reference's check order:
    path first, extension second).
    """
    # HOF projection BEFORE the explode so Parquet nested-schema pruning
    # drops spans.text (the bulk of the table) from the scan — explode-then-
    # filter defeats the pruner and reads the whole struct
    refs = documents.select(
        "doc_id",
        F.explode(F.expr(
            "transform(filter(spans, s -> s.kind = 'media'), s -> s.media_ref)"
        )).alias("media_ref"))
    pages = media_pages.select(
        "media_ref",
        F.lower(F.substring_index("document_name", ".", -1)).alias("ext"))
    probe = refs.join(pages, "media_ref", "left")
    page_reason = (
        F.when(F.col("ext").isNull(), F.lit("missing_media"))
        .when(~F.col("ext").isin(*whitelist), F.lit("bad_extension")))
    return (probe.select("doc_id", page_reason.alias("reason"))
            .where(F.col("reason").isNotNull())
            # min() makes 'bad_extension' lose to 'missing_media' —
            # deterministic doc-level reason under any page order
            .groupBy("doc_id")
            .agg(F.min("reason").alias("reason"))
            .select(
                "doc_id",
                F.lit(INVALID_STATUS).alias("status"),
                F.lit(INVALID_RESULT).alias("task_result"),
                "reason"))


def validity_route(documents: DataFrame, media_pages: DataFrame,
                   whitelist: tuple = VALID_EXTENSIONS
                   ) -> tuple[DataFrame, DataFrame]:
    """(valid_documents, invalid_status) split — fully lazy variant.

    The invalid side is a vanishing fraction of any real corpus, so it
    rides a broadcast anti-join — map-side, no extra shuffle on the
    document table. Note every consumer of BOTH outputs re-evaluates the
    probe; batch callers should prefer :func:`collect_invalid` +
    :func:`route_with_collected` (one probe job total — the reference
    also validates exactly once, at promotion time).
    """
    invalid = invalid_documents(documents, media_pages, whitelist)
    valid = documents.join(
        F.broadcast(invalid.select("doc_id")), "doc_id", "left_anti")
    return valid, invalid


INVALID_DDL = "doc_id string, status string, task_result string, reason string"

#: Schema-pruned documents view for the probe: Spark's generator
#: nested-column aliasing cannot prune a multi-field struct access through
#: an explode, so an explicit pruned re-read is how the probe avoids
#: reading spans.text.
PROBE_DDL = "doc_id string, spans array<struct<kind:string,media_ref:string>>"

#: Above this many invalid documents the collected route refuses (driver
#: memory guard) and callers fall back to the lazy anti-join plan.
COLLECT_CAP = 100_000


def collect_invalid(documents: DataFrame, media_pages: DataFrame,
                    whitelist: tuple = VALID_EXTENSIONS):
    """Run the probe ONCE and return its rows as a list (None if the
    invalid set exceeds COLLECT_CAP — pathological corpus, use the lazy
    route).
    The list is what split_valid threads into every sink plan as a
    map-side filter, so forcing N sinks costs one probe job, not N."""
    rows = (invalid_documents(documents, media_pages, whitelist)
            .limit(COLLECT_CAP + 1).collect())
    if len(rows) > COLLECT_CAP:
        return None
    return rows


def route_with_collected(documents: DataFrame, invalid_rows) -> tuple:
    """(valid_documents, invalid_status) from a pre-collected invalid set:
    zero added plan cost when the set is empty (the common case), a literal
    isin filter for small sets, a broadcast anti-join against a local frame
    past 1000 ids."""
    invalid = local_frame(documents.sparkSession,
                          [tuple(r) for r in invalid_rows], INVALID_DDL)
    if not invalid_rows:
        return documents, invalid
    ids = [r[0] for r in invalid_rows]
    if len(ids) <= 1000:
        valid = documents.where(~F.col("doc_id").isin(ids))
    else:
        valid = documents.join(F.broadcast(invalid.select("doc_id")),
                               "doc_id", "left_anti")
    return valid, invalid


def split_valid(documents: DataFrame, media_pages: DataFrame,
                whitelist: tuple = VALID_EXTENSIONS,
                probe_documents: DataFrame | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """(valid documents, invalid status rows) — the one P1 route every job
    takes before any processing.

    The slim (doc_id, media_ref)⋈(media_ref, ext) probe over
    ``probe_documents`` (a :data:`PROBE_DDL` re-read of the same documents;
    default ``documents``) runs EAGERLY here, exactly once, like the
    reference's promotion-time check, so the sink plans carry only a
    map-side filter — zero added cost when the corpus is clean. Past
    COLLECT_CAP invalid documents it falls back to the lazy
    :func:`validity_route`."""
    inv_rows = collect_invalid(
        documents if probe_documents is None else probe_documents,
        media_pages, whitelist)
    if inv_rows is None:
        return validity_route(documents, media_pages, whitelist)
    return route_with_collected(documents, inv_rows)
