"""Completion notifier (SURVEY.md §2.1 S10) — the webhook sink.

The reference POSTs per-document JSON to ``{url}/CVCore/processstatus``
(webhook/post_trigger.py:22-35); every completion call site is commented
out (ocrr_document/process_ocrr.py:252-254), and the one LIVE call is the
INVALID_DOCUMENT route (in_progress/process_in_progress_status.py:67 —
which then crashes on the ``document['taskid']`` key typo; we keep the
notification, not the crash). So this is a thin, optional edge adapter:
``foreachPartition`` with one connection per partition and per-document
payloads — the standard Spark side-effect sink shape. It serves both the
completion sink (S10) and the invalid-document variant (P1): pass the
invalid frame of ``validate.split_valid(...)`` and the payloads carry
(doc_id, status, task_result, reason). The HTTP transport is injected
(the sandbox has no network); any callable
``sender(payloads: list[dict]) -> None`` works.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def notify_results(results: DataFrame,
                   make_sender: Callable[[], Callable[[list], None]],
                   batch_size: int = 100) -> None:
    """Push ``(doc_id, media_ref, status)`` payloads partition-by-partition.

    ``make_sender`` is called once per partition (connection setup happens
    executor-side, never on the driver) and receives batches of payload
    dicts — mirroring post_trigger.py's
    ``{"taskId": ..., "status": ...}`` body shape.
    """
    cols = [c for c in ("doc_id", "media_ref", "status", "task_result", "reason")
            if c in results.columns]
    slim = results.select(*cols)

    def run(partition):
        sender = make_sender()
        batch = []
        for row in partition:
            batch.append(row.asDict())
            if len(batch) >= batch_size:
                sender(batch)
                batch = []
        if batch:
            sender(batch)

    slim.foreachPartition(run)
