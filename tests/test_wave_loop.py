"""Concurrency of the wave loop both batch jobs run (checkpoint.run_waves).

Without a claim step two waves are in flight: the next wave starts while
one runs, never a third. With a claim step waves run one at a time and
each is claimed right before it starts. A wave's lineage rows are appended
only after its ``write_wave`` returned, in completion order. After a
failure no wave starts and no lineage row is appended, the in-flight wave
is waited for, and the first error is re-raised.

The fake ``write_wave`` blocks each wave until the test releases it. Every
wait has a timeout, so a broken loop fails instead of hanging; a wave that
must not start is watched for ``QUIET`` seconds.
"""

from __future__ import annotations

import threading

import pytest

from ocr_redaction_engine_spark import checkpoint

TIMEOUT = 30.0
QUIET = 0.5


class _Boom(RuntimeError):
    pass


class _Loop:
    """``run_waves`` over ``n`` one-bucket waves (wave i writes bucket i) on
    a background thread, with a fake ``write_wave`` that blocks wave i until
    :meth:`release` and a recording ``append_checkpoint``. ``events`` logs
    ("start"|"return"|"append", bucket) and ("claim", *buckets) in order."""

    def __init__(self, spark, ckpt_dir, monkeypatch, n, claimed=False):
        self.started = [threading.Event() for _ in range(n)]
        self.returned = [threading.Event() for _ in range(n)]
        self.appended = [threading.Event() for _ in range(n)]
        self._go = [threading.Event() for _ in range(n)]
        self._fail: dict[int, BaseException] = {}
        self._lock = threading.Lock()
        self.events: list[tuple] = []
        self.running = self.peak = 0
        self.out: dict = {}
        monkeypatch.setattr(checkpoint, "append_checkpoint", self._append)
        docs = spark.createDataFrame([("d",)], "doc_id string")

        def run():
            try:
                self.out["stats"] = checkpoint.run_waves(
                    spark, docs, ckpt_dir, n, 1, self._write_wave,
                    self._claim if claimed else None)
            except BaseException as e:
                self.out["error"] = e

        self.thread = threading.Thread(target=run, daemon=True)
        self.thread.start()

    def _log(self, *event):
        with self._lock:
            self.events.append(event)

    def _write_wave(self, group, wave_docs):
        (i,) = group
        with self._lock:
            self.running += 1
            self.peak = max(self.peak, self.running)
            self.events.append(("start", i))
        self.started[i].set()
        try:
            assert self._go[i].wait(TIMEOUT), f"wave {i} was never released"
            if i in self._fail:
                raise self._fail[i]
            return ()
        finally:
            with self._lock:
                self.running -= 1
                self.events.append(("return", i))
            self.returned[i].set()

    def _append(self, spark, ckpt_dir, rows):
        for r in rows:
            self._log("append", r["bucket"])
            self.appended[r["bucket"]].set()

    def _claim(self, buckets):
        self._log("claim", *buckets)
        return set(buckets)

    def release(self, i, error=None):
        if error is not None:
            self._fail[i] = error
        self._go[i].set()

    def join(self) -> dict:
        self.thread.join(TIMEOUT)
        assert not self.thread.is_alive(), "run_waves did not return"
        return self.out

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for go in self._go:   # a failed assertion must not leave waves hung
            go.set()
        self.thread.join(TIMEOUT)


def test_next_wave_starts_while_one_runs(spark, monkeypatch, tmp_path):
    with _Loop(spark, str(tmp_path / "ckpt"), monkeypatch, 2) as loop:
        assert loop.started[0].wait(TIMEOUT)
        assert loop.started[1].wait(TIMEOUT), "wave 1 waited for wave 0"
        loop.release(0)
        loop.release(1)
        assert loop.join()["stats"]["waves"] == 2
    assert loop.peak == 2


def test_at_most_two_waves_in_flight(spark, monkeypatch, tmp_path):
    n = 5
    with _Loop(spark, str(tmp_path / "ckpt"), monkeypatch, n) as loop:
        for i in range(n):
            assert loop.started[i].wait(TIMEOUT)
            if i + 1 < n:
                assert loop.started[i + 1].wait(TIMEOUT)
            if i + 2 < n:
                assert not loop.started[i + 2].wait(QUIET), \
                    f"wave {i + 2} started while waves {i}, {i + 1} ran"
            loop.release(i)
        stats = loop.join()["stats"]
    assert stats["waves"] == n and stats["buckets_total"] == n
    assert loop.peak == 2
    assert sorted(e[1] for e in loop.events if e[0] == "append") == \
        list(range(n))


def test_claimed_waves_run_one_at_a_time_after_their_claim(
        spark, monkeypatch, tmp_path):
    n = 3
    with _Loop(spark, str(tmp_path / "ckpt"), monkeypatch, n,
               claimed=True) as loop:
        for i in range(n):
            assert loop.started[i].wait(TIMEOUT)
            if i + 1 < n:
                assert not loop.started[i + 1].wait(QUIET), \
                    f"claimed wave {i + 1} started while wave {i} ran"
            loop.release(i)
        assert loop.join()["stats"]["waves"] == n
    assert loop.peak == 1
    assert loop.events == [
        ("claim", 0, 1, 2), ("start", 0), ("return", 0), ("append", 0),
        ("claim", 1, 2), ("start", 1), ("return", 1), ("append", 1),
        ("claim", 2), ("start", 2), ("return", 2), ("append", 2)]


@pytest.mark.parametrize("other_fails", [False, True],
                         ids=["other_succeeds", "other_fails_later"])
def test_failure_drains_the_other_wave_and_reraises_the_first_error(
        spark, monkeypatch, tmp_path, other_fails):
    first = _Boom("wave 1 died")
    with _Loop(spark, str(tmp_path / "ckpt"), monkeypatch, 4) as loop:
        assert loop.started[0].wait(TIMEOUT)
        assert loop.started[1].wait(TIMEOUT)
        loop.release(1, first)
        assert loop.returned[1].wait(TIMEOUT)
        assert not loop.started[2].wait(QUIET), "a wave started after the failure"
        assert loop.thread.is_alive(), "run_waves left wave 0 running"
        loop.release(0, _Boom("wave 0 died") if other_fails else None)
        out = loop.join()
    assert out["error"] is first
    assert loop.returned[0].is_set()
    assert not any(e[0] == "append" for e in loop.events)
    assert not loop.started[2].is_set() and not loop.started[3].is_set()


def test_lineage_append_follows_its_own_write_in_completion_order(
        spark, monkeypatch, tmp_path):
    with _Loop(spark, str(tmp_path / "ckpt"), monkeypatch, 2) as loop:
        assert loop.started[0].wait(TIMEOUT)
        assert loop.started[1].wait(TIMEOUT)
        loop.release(1)
        assert loop.appended[1].wait(TIMEOUT), \
            "wave 1's lineage waited for wave 0"
        assert not loop.returned[0].is_set()
        loop.release(0)
        assert loop.join()["stats"]["waves"] == 2
    assert [e for e in loop.events if e[0] != "start"] == [
        ("return", 1), ("append", 1), ("return", 0), ("append", 0)]
