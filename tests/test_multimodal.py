"""Multimodal byte-level kernels vs driver-side numpy oracles.

Round 2: outputs are scalar rows with integer-exact features (see
analytics/multimodal.py docstring), so the DuckDB driver gate can hash them;
these tests pin the kernels against an independent numpy re-computation.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from ocr_redaction_engine_spark.analytics.multimodal import (
    _payload, byte_features, sample_frames_bytes, synthesize_binary,
    window_energy)


@pytest.fixture(scope="module")
def media(spark):
    return synthesize_binary(spark, 40)


@pytest.fixture(scope="module")
def payloads(media):
    return {r.media_id: bytes(r.content) for r in media.collect()}


def test_synthesize_deterministic(spark, payloads):
    again = {r.media_id: bytes(r.content)
             for r in synthesize_binary(spark, 40).collect()}
    assert again == payloads  # a rerun must not change content
    # distributed generator == local generator: content is a pure function
    # of the media id, whichever partition generates it
    assert sorted(payloads) == list(range(40))
    assert all(payloads[mid] == _payload(42, mid) for mid in payloads)


def test_payload_is_md5_hex_chain():
    """The generator contract the DuckDB recursive CTE mirrors."""
    buf = _payload(7, 3)
    ln = 256 + (int(hashlib.md5(b"7:3:len").hexdigest()[:4], 16) % 1024)
    assert len(buf) == ln
    hx = hashlib.md5(b"7:3").hexdigest()
    acc = hx
    while len(acc) < 2 * ln:
        hx = hashlib.md5(hx.encode()).hexdigest()
        acc += hx
    assert buf == bytes.fromhex(acc[:2 * ln])


def test_byte_features_match_numpy(media, payloads):
    got = {}
    for r in byte_features(media).collect():
        got.setdefault(r.media_id, {})[r.bin] = (r.n_bytes, r.mean_b1e6, r.bin_count)
    assert set(got) == set(payloads)
    for mid, buf in payloads.items():
        arr = np.frombuffer(buf, dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=16)
        mean = int(arr.sum(dtype=np.int64)) * 1_000_000 // arr.size
        assert sorted(got[mid]) == list(range(16))  # all bins, zeros included
        for b in range(16):
            assert got[mid][b] == (arr.size, mean, int(hist[b]))


def test_frame_sampling_matches_oracle(media, payloads):
    fs, every = 128, 3
    got = {}
    for r in sample_frames_bytes(media, frame_size=fs, every_n=every).collect():
        got.setdefault(r.media_id, []).append((r.frame_idx, r.frame_fp, r.mean_b1e6))
    for mid, buf in payloads.items():
        n_frames = len(buf) // fs
        exp = []
        for fi in range(0, n_frames, every):
            frame = buf[fi * fs:(fi + 1) * fs]
            arr = np.frombuffer(frame, dtype=np.uint8)
            exp.append((fi, hashlib.md5(frame.hex().encode()).hexdigest(),
                        int(arr.sum(dtype=np.int64)) * 1_000_000 // fs))
        assert sorted(got.get(mid, [])) == sorted(exp), f"media {mid}"


def test_window_energy_matches_oracle(media, payloads):
    win = 50
    got = {}
    for r in window_energy(media, window=win).collect():
        got.setdefault(r.media_id, {})[r.window_idx] = r.rms_e6
    for mid, buf in payloads.items():
        arr = np.frombuffer(buf, dtype=np.uint8).astype(np.int64)
        n = (len(arr) + win - 1) // win
        pad = np.zeros(n * win, dtype=np.int64)
        pad[:len(arr)] = arr
        sumsq = (pad * pad).reshape(n, win).sum(axis=1)
        exp = np.floor(np.sqrt(sumsq / win) * 1_000_000).astype(np.int64)
        assert got[mid] == {wi: int(exp[wi]) for wi in range(n)}


def test_codec_stubs_raise(media):
    from ocr_redaction_engine_spark.analytics.multimodal import decode_image
    with pytest.raises(NotImplementedError):
        decode_image(media)


def test_resample_bytes_matches_numpy(media, payloads):
    from ocr_redaction_engine_spark.analytics.multimodal import resample_bytes
    got = {}
    for r in resample_bytes(media, every_n=3).collect():
        got.setdefault(r.media_id, {})[r.out_idx] = r.v
    for mid, buf in payloads.items():
        arr = np.frombuffer(buf, dtype=np.uint8)[::3]
        assert got[mid] == {i: int(v) for i, v in enumerate(arr)}


def test_resize_image_stub_raises(media):
    from ocr_redaction_engine_spark.analytics.multimodal import resize_image
    with pytest.raises(NotImplementedError):
        resize_image(media, 32, 32)


def _phash_py(buf: bytes, cells: int = 60) -> int:
    """Independent pure-Python aHash oracle (no numpy)."""
    n = len(buf)
    sums = [0] * cells
    cnts = [0] * cells
    total = 0
    for i, v in enumerate(buf):
        j = i * cells // n
        sums[j] += v
        cnts[j] += 1
        total += v
    gfp = total * 1_000_000 // n
    ph = 0
    for j in range(cells):
        if sums[j] * 1_000_000 // cnts[j] > gfp:
            ph |= 1 << j
    return ph


def test_phash_signatures_match_pure_python(spark):
    from ocr_redaction_engine_spark.analytics.multimodal import (
        phash_signatures, synthesize_binary_with_twins, twin_payload)

    media = synthesize_binary_with_twins(spark, 30, 10)
    got = {r.media_id: r.phash for r in phash_signatures(media).collect()}
    assert len(got) == 40
    for mid, ph in got.items():
        buf = twin_payload(42, mid - 30) if mid >= 30 else _payload(42, mid)
        assert ph == _phash_py(buf), mid
        assert 0 <= ph < 1 << 60


def test_phash_band_join_finds_planted_twins(spark):
    """Every one-byte-retouched twin must collide in >=1 band (the retouch
    perturbs at most cell 0 + any global-mean borderline bits; with 4x15-bit
    bands a handful of flipped bits still leaves an exact band) and pass the
    Hamming verify; the pair set must equal an all-pairs brute force of the
    same banding, i.e. the LSH join loses nothing the bands could find."""
    from ocr_redaction_engine_spark.analytics.multimodal import (
        phash_near_dup_pairs, phash_signatures, synthesize_binary_with_twins,
        twin_payload)

    n, twins = 30, 10
    media = synthesize_binary_with_twins(spark, n, twins)
    # threshold 14 > bands-1=3: partial recall past Hamming 3 is the
    # documented envelope and must be opted into explicitly
    with pytest.raises(ValueError, match="guaranteed-recall envelope"):
        phash_near_dup_pairs(phash_signatures(media), max_hamming=14)
    pairs = {(r.a, r.b): r.hamming
             for r in phash_near_dup_pairs(
                 phash_signatures(media), max_hamming=14,
                 allow_partial_recall=True).collect()}

    sigs = {}
    for mid in range(n + twins):
        buf = twin_payload(42, mid - n) if mid >= n else _payload(42, mid)
        sigs[mid] = _phash_py(buf)

    def bands(ph):
        return {(b, (ph >> (15 * b)) & 0x7FFF) for b in range(4)}

    expect = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bands(sigs[a]) & bands(sigs[b]):
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= 14:
                    expect[(a, b)] = h
    assert pairs == expect
    for t in range(twins):
        assert (t, n + t) in pairs, f"planted twin {t} missed"
        assert pairs[(t, n + t)] <= 6


def test_shot_boundaries_planted_jump(spark):
    from ocr_redaction_engine_spark.analytics.multimodal import shot_boundaries
    # two media streams built by hand: flat bytes then a hard jump
    quiet = bytes([10] * 128)            # 2 windows of rms 10
    loud = bytes([10] * 128 + [200] * 128)  # jump at window 2
    media = spark.createDataFrame(
        [(1, bytearray(quiet)), (2, bytearray(loud))],
        "media_id long, content binary")
    got = {(r.media_id, r.window_idx): (r.delta_bp, bool(r.boundary), r.shot_id)
           for r in shot_boundaries(media, window=64, jump_bp=3000).collect()}
    # media 1: constant energy -> one shot
    assert got[(1, 0)] == (0, False, 0) and got[(1, 1)] == (0, False, 0)
    # media 2: windows 0,1 rms 10e6; window 2 rms 200e6 -> delta 1900% -> cut
    assert got[(2, 1)][1] is False
    d, b, s = got[(2, 2)]
    assert b and s == 1 and d == (200_000_000 - 10_000_000) * 10000 // 10_000_000
    assert got[(2, 3)] == (0, False, 1)
