"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata,
processed with Arrow-batched kernels.

The container has no image/audio codecs, so the *decode* steps are stubbed
behind NotImplementedError (per the build rules) while everything Spark-side
— schema, batching, partitioning, UDF signatures, byte-level feature
extraction — is real and tested. ``byte_features`` computes genuine content
statistics (length, mean, byte histogram) with numpy over Arrow batches,
which is exactly the shape a real decoder plugs into.

Engine-parity design (round 2): every feature is **integer-exact** —

* sums of bytes / squared bytes are int64 (order-independent, no float
  accumulation), so Spark and the DuckDB oracle agree bit-for-bit;
* means are fixed-point ``sum * 10^6 // n`` integers;
* RMS energy is ``floor(sqrt(sumsq / window) * 10^6)`` — the only float ops
  are one IEEE division and one IEEE sqrt, both correctly rounded and thus
  identical across numpy and DuckDB;
* the synthetic payload is an **md5-over-hex-string chain** (DuckDB's md5
  only accepts VARCHAR, so the chain hashes the previous block's hex digest,
  not its raw bytes), making the whole generator a recursive CTE;
* frame fingerprints hash the frame's lowercase hex encoding
  (``md5(frame.hex())``), again so VARCHAR-only engines can reproduce them.

Outputs are scalar rows (one row per bin / window / frame) rather than array
columns, so any canonicalizer that sorts tuples can diff them.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

FEATURE_SCHEMA = "media_id long, n_bytes long, mean_b1e6 long, bin long, bin_count long"


def _payload(seed: int, i: int) -> bytes:
    """Deterministic opaque payload for media ``i``: md5-hex-chain bytes.

    length = 256 + (int(md5(f"{seed}:{i}:len")[:4], 16) % 1024); content =
    unhex of the concatenated hex chain h0=md5(f"{seed}:{i}"),
    h_{k+1}=md5(ascii(h_k)). Mirrored 1:1 by the recursive CTE in
    __spark_entry__.oracle_sql().
    """
    ln = 256 + (int(hashlib.md5(f"{seed}:{i}:len".encode()).hexdigest()[:4], 16) % 1024)
    hx = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
    acc = hx
    while len(acc) < 2 * ln:
        hx = hashlib.md5(hx.encode()).hexdigest()
        acc += hx
    return bytes.fromhex(acc[: 2 * ln])


def synthesize_binary(spark, n: int) -> DataFrame:
    """Deterministic opaque payloads: media_id → pseudo-random bytes
    (md5 hex chain, seed 42), standing in for image/audio blobs."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            out = [(int(i), _payload(42, int(i)), "image/fake") for i in pdf["id"]]
            yield pd.DataFrame(out, columns=["media_id", "content", "mime"])

    return spark.range(n).repartition(8).mapInPandas(
        gen, schema="media_id long, content binary, mime string")


def byte_features(media: DataFrame) -> DataFrame:
    """Feature extraction over binary columns, one row per (media, bin):
    (media_id, n_bytes, mean_b1e6, bin, bin_count). mean_b1e6 is the
    fixed-point mean byte value ``sum*10^6 // n``; all 16 rows (one per
    high nibble) are emitted (zero counts included). numpy-vectorized per
    Arrow batch."""
    import numpy as np
    import pandas as pd

    cols = ["media_id", "n_bytes", "mean_b1e6", "bin", "bin_count"]

    def run(batches):
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                arr = np.frombuffer(bytes(content), dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=16)
                n = int(arr.size)
                mean = int(arr.sum(dtype=np.int64)) * 1_000_000 // n
                out.extend((int(mid), n, mean, b, int(hist[b])) for b in range(16))
            yield pd.DataFrame(out, columns=cols) if out else \
                pd.DataFrame({c: pd.Series(dtype="int64") for c in cols})

    return media.select("media_id", "content").mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = "media_id long, frame_idx long, frame_fp string, mean_b1e6 long"


def sample_frames_bytes(media: DataFrame, frame_size: int = 128,
                        every_n: int = 2) -> DataFrame:
    """Frame sampling over container-less fixed-stride payloads (the shape a
    real demuxer plugs into): slice ``content`` into ``frame_size`` frames,
    keep every ``every_n``-th, emit per-frame fingerprint + fixed-point mean.
    One input row fans out to its sampled frames — the mapInPandas iterator
    shape for 1→N multimodal expansion. The fingerprint is
    ``md5(frame.hex())`` (hex-encoded input) for cross-engine parity."""
    import numpy as np
    import pandas as pd

    cols = ["media_id", "frame_idx", "frame_fp", "mean_b1e6"]

    def run(batches):
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                buf = bytes(content)
                n_frames = len(buf) // frame_size
                for fi in range(0, n_frames, every_n):
                    frame = buf[fi * frame_size:(fi + 1) * frame_size]
                    arr = np.frombuffer(frame, dtype=np.uint8)
                    fp = hashlib.md5(frame.hex().encode()).hexdigest()
                    mean = int(arr.sum(dtype=np.int64)) * 1_000_000 // frame_size
                    out.append((int(mid), fi, fp, mean))
            yield pd.DataFrame(out, columns=cols) if out else \
                pd.DataFrame({"media_id": pd.Series(dtype="int64"),
                              "frame_idx": pd.Series(dtype="int64"),
                              "frame_fp": pd.Series(dtype="object"),
                              "mean_b1e6": pd.Series(dtype="int64")})

    return media.select("media_id", "content").mapInPandas(run, schema=FRAME_SCHEMA)


ENERGY_SCHEMA = "media_id long, window_idx long, rms_e6 long"


def window_energy(media: DataFrame, window: int = 64) -> DataFrame:
    """Audio-analog feature extraction, one row per (media, window): RMS
    energy ``floor(sqrt(sumsq/window)*10^6)`` per fixed window of the byte
    stream (zero-padded tail; swap the byte view for PCM samples and nothing
    else changes). Squared sums are exact int64 so the value is identical
    across engines."""
    import numpy as np
    import pandas as pd

    cols = ["media_id", "window_idx", "rms_e6"]

    def run(batches):
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                arr = np.frombuffer(bytes(content), dtype=np.uint8).astype(np.int64)
                n = (len(arr) + window - 1) // window
                pad = np.zeros(n * window, dtype=np.int64)
                pad[:len(arr)] = arr
                sumsq = (pad * pad).reshape(n, window).sum(axis=1)  # exact int64
                rms_e6 = np.floor(np.sqrt(sumsq / window) * 1_000_000).astype(np.int64)
                out.extend((int(mid), wi, int(rms_e6[wi])) for wi in range(n))
            yield pd.DataFrame(out, columns=cols) if out else \
                pd.DataFrame({c: pd.Series(dtype="int64") for c in cols})

    return media.select("media_id", "content").mapInPandas(run, schema=ENERGY_SCHEMA)


RESAMPLE_SCHEMA = "media_id long, out_idx long, v long"


def resample_bytes(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Resize-analog over container-less payloads: keep every ``every_n``-th
    byte (nearest-neighbour decimation), one scalar row per surviving byte —
    the 1→N/n mapInPandas shape a real image resize plugs into (swap the
    byte stride for a pixel-grid stride and nothing else changes).
    Integer-exact and SQL-expressible, so the driver gate hash-checks it."""
    import numpy as np
    import pandas as pd

    cols = ["media_id", "out_idx", "v"]

    def run(batches):
        for pdf in batches:
            out_mid, out_idx, out_v = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                arr = np.frombuffer(bytes(content), dtype=np.uint8)[::every_n]
                out_mid.append(np.full(arr.size, int(mid), dtype=np.int64))
                out_idx.append(np.arange(arr.size, dtype=np.int64))
                out_v.append(arr.astype(np.int64))
            if out_mid:
                yield pd.DataFrame({"media_id": np.concatenate(out_mid),
                                    "out_idx": np.concatenate(out_idx),
                                    "v": np.concatenate(out_v)})
            else:
                yield pd.DataFrame({c: pd.Series(dtype="int64") for c in cols})

    return media.select("media_id", "content").mapInPandas(run, schema=RESAMPLE_SCHEMA)


DECODE_SCHEMA = "media_id long, width int, height int, channels int"


def decode_image(media: DataFrame) -> DataFrame:
    """Image decode → (media_id, width, height, channels). Requires PIL in
    the executor image (``pip install .[ocr]``); the import guard raises in
    this codec-less sandbox while byte_features exercises the identical
    mapInPandas plumbing."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires PIL in the executor image; byte_features "
            "exercises the identical mapInPandas plumbing") from e

    import io

    import pandas as pd

    def run(batches):
        from PIL import Image
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                img = Image.open(io.BytesIO(bytes(content)))
                out.append((int(mid), img.width, img.height, len(img.getbands())))
            yield pd.DataFrame(out, columns=["media_id", "width", "height", "channels"]) \
                if out else pd.DataFrame({c: pd.Series(dtype="int64")
                                          for c in ["media_id", "width", "height", "channels"]})

    return media.select("media_id", "content").mapInPandas(run, schema=DECODE_SCHEMA)


def resize_image(media: DataFrame, width: int, height: int) -> DataFrame:
    """True image resize → (media_id, png bytes). Requires PIL in the
    executor image; import-guarded here — resample_bytes exercises the
    identical decimation plumbing meanwhile."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "image resize requires PIL in the executor image; resample_bytes "
            "exercises the identical mapInPandas decimation shape") from e

    import io

    import pandas as pd

    def run(batches):
        from PIL import Image
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                img = Image.open(io.BytesIO(bytes(content))).resize((width, height))
                buf = io.BytesIO()
                img.save(buf, format="PNG")
                out.append((int(mid), buf.getvalue()))
            yield pd.DataFrame(out, columns=["media_id", "content"]) if out else \
                pd.DataFrame({"media_id": pd.Series(dtype="int64"),
                              "content": pd.Series(dtype="object")})

    return media.select("media_id", "content").mapInPandas(
        run, schema="media_id long, content binary")


QR_SCHEMA = "media_id long, qx1 int, qy1 int, qx2 int, qy2 int"


def detect_qr(media: DataFrame) -> DataFrame:
    """QR detection → one row per detected code (the reference's QReader
    call, aadhaar/document_coordinates.py:368-401). Requires qreader + cv2
    in the executor image; import-guarded here — the fixture corpus ships
    precomputed qr_boxes through the same (x1, y1, x2, y2) contract."""
    try:
        import cv2  # noqa: F401
        from qreader import QReader  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "QR detection requires qreader + opencv in the executor image; "
            "fixture qr_boxes flow through the identical schema") from e

    import numpy as np
    import pandas as pd

    def run(batches):
        import cv2
        from qreader import QReader
        qr = QReader()
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                img = cv2.imdecode(np.frombuffer(bytes(content), np.uint8),
                                   cv2.IMREAD_COLOR)
                for det in qr.detect(image=img):
                    x1, y1, x2, y2 = det["bbox_xyxy"]
                    out.append((int(mid), int(x1), int(y1), int(x2), int(y2)))
            yield pd.DataFrame(out, columns=["media_id", "qx1", "qy1", "qx2", "qy2"]) \
                if out else pd.DataFrame({c: pd.Series(dtype="int64")
                                          for c in ["media_id", "qx1", "qy1", "qx2", "qy2"]})

    return media.select("media_id", "content").mapInPandas(run, schema=QR_SCHEMA)


def twin_payload(seed: int, i: int) -> bytes:
    """Near-duplicate of ``_payload(seed, i)``: identical bytes except the
    first byte is zeroed — the 'same image, one pixel retouched' case a
    perceptual hash must still catch. Mirrored in the oracle CTE as
    ``'00' || substring(hx, 3)``."""
    p = bytearray(_payload(seed, i))
    p[0] = 0x00
    return bytes(p)


def synthesize_binary_with_twins(spark, n: int, twins: int) -> DataFrame:
    """``synthesize_binary`` plus ``twins`` planted near-duplicates: media_id
    in [n, n+twins) carries ``twin_payload(42, media_id - n)``. Gives the
    perceptual-hash dedup path real positives to find (pure md5-chain
    payloads are mutually random, so organic near-dups are vanishingly
    rare)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                payload = twin_payload(42, i - n) if i >= n else _payload(42, i)
                out.append((i, payload, "image/fake"))
            yield pd.DataFrame(out, columns=["media_id", "content", "mime"])

    return spark.range(n + twins).repartition(8).mapInPandas(
        gen, schema="media_id long, content binary, mime string")


PHASH_SCHEMA = "media_id long, phash long"
#: phash_near_dup_pairs splits the 60-bit hash into this many bands of
#: this many bits each.
PHASH_BANDS = 4
PHASH_BAND_BITS = 15


def phash_signatures(media: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over opaque payloads: map byte ``i``
    of an ``n``-byte payload to grid cell ``i*60//n`` (the byte-stream
    analog of resizing an image to a fixed 60-pixel grid), take the
    fixed-point mean per cell, and set bit ``j`` iff cell ``j``'s mean
    exceeds the whole-payload mean. 60 bits so the hash stays a positive
    int64 (same budget as the SimHash kernel). Integer-exact: means are
    ``sum*10^6 // count``, comparison is strict ``>`` — Spark and the DuckDB
    oracle agree bit-for-bit. numpy-vectorized per Arrow batch; a real image
    pipeline swaps the byte view for decoded grayscale pixels and nothing
    downstream changes."""
    import numpy as np
    import pandas as pd

    def run(batches):
        for pdf in batches:
            mids, hashes = [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                arr = np.frombuffer(bytes(content), dtype=np.uint8).astype(np.int64)
                n = arr.size
                idx = (np.arange(n, dtype=np.int64) * 60) // n
                sums = np.bincount(idx, weights=arr, minlength=60).astype(np.int64)
                cnts = np.bincount(idx, minlength=60).astype(np.int64)
                cell_fp = sums * 1_000_000 // cnts
                g_fp = int(arr.sum()) * 1_000_000 // n
                bits = (cell_fp > g_fp).astype(np.int64)
                ph = int((bits << np.arange(60, dtype=np.int64)).sum())
                mids.append(int(mid))
                hashes.append(ph)
            yield pd.DataFrame({"media_id": pd.Series(mids, dtype="int64"),
                                "phash": pd.Series(hashes, dtype="int64")})

    return media.select("media_id", "content").mapInPandas(run, schema=PHASH_SCHEMA)


def phash_near_dup_pairs(sigs: DataFrame, max_hamming: int | None = None,
                         allow_partial_recall: bool = False) -> DataFrame:
    """LSH-banded perceptual near-dup pairs: split each 60-bit hash into
    PHASH_BANDS contiguous PHASH_BAND_BITS-bit bands, equi-join on
    (band_idx, band_val) — candidates are hash-bucket collisions, never
    all-pairs — then verify with exact Hamming distance
    ``bit_count(phash_a ^ phash_b) <= max_hamming``.

    Recall envelope (pigeonhole): a pair at Hamming distance h is
    GUARANTEED a band collision only when ``h <= PHASH_BANDS - 1`` — h
    differing bits can dirty at most h bands, leaving one intact. Beyond that a pair
    is found only if its differing bits happen to spare some band, so
    recall degrades silently toward 0 as h grows. ``max_hamming`` therefore
    defaults to ``PHASH_BANDS - 1`` (complete recall); asking for a larger
    verify threshold requires ``allow_partial_recall=True`` so the gap is
    an explicit contract, never a surprise (ADVICE r2). Full recall at a
    higher threshold needs more bands (e.g. 15 bands × 4 bits guarantees
    h ≤ 14 — at
    the cost of 16-value band buckets, which at corpus scale collide nearly
    all-pairs; the envelope/bucket-size trade-off is fundamental to LSH).

    All Catalyst after the signature stage: one explode, one shuffle on the
    band key, one distinct. At 100 TB a pathological hot band (e.g.
    billions of all-black frames) gets the same salting/cap treatment as
    ``webgraph.domain_cap``; for the organic distribution the band key is
    uniform."""
    from pyspark.sql import functions as F

    if max_hamming is None:
        max_hamming = PHASH_BANDS - 1
    elif max_hamming > PHASH_BANDS - 1 and not allow_partial_recall:
        raise ValueError(
            f"phash_near_dup_pairs: max_hamming={max_hamming} exceeds the "
            f"guaranteed-recall envelope of bands-1={PHASH_BANDS - 1}; pairs "
            f"with {PHASH_BANDS}..{max_hamming} differing bits spread across "
            f"all bands would be silently missed. Lower max_hamming, or pass "
            f"allow_partial_recall=True to accept partial recall explicitly.")

    band_rows = sigs.select(
        "media_id", "phash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_idx"),
                     F.shiftright("phash", b * PHASH_BAND_BITS)
                      .bitwiseAND(F.lit((1 << PHASH_BAND_BITS) - 1))
                      .alias("band_val"))
            for b in range(PHASH_BANDS)])).alias("band"),
    ).select("media_id", "phash", "band.band_idx", "band.band_val")

    x, y = band_rows.alias("x"), band_rows.alias("y")
    return (
        x.join(y, on=[F.col("x.band_idx") == F.col("y.band_idx"),
                      F.col("x.band_val") == F.col("y.band_val"),
                      F.col("x.media_id") < F.col("y.media_id")])
        .select(F.col("x.media_id").alias("a"), F.col("y.media_id").alias("b"),
                F.expr("CAST(bit_count(x.phash ^ y.phash) AS INT)").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def shot_boundaries(media: DataFrame, window: int = 64,
                    jump_bp: int = 3000) -> DataFrame:
    """Shot/segment boundary detection over a byte stream — the
    frame-sampling companion a video pipeline runs before picking
    representative frames: a boundary falls where windowed RMS energy
    jumps ≥ ``jump_bp`` (relative, vs the previous window), and windows
    between boundaries share a ``shot_id`` (running sum of boundary
    flags). Swap the byte windows for per-frame luma histograms and the
    operator is the classic hard-cut detector; the Spark shape is
    identical.

    Plan: the [[multimodal_window_energy]] Arrow stage, then one per-media
    lag window + running sum — per-stream history only, shuffle key
    media_id. Integer bp arithmetic end-to-end.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = window_energy(media, window)
    w = Window.partitionBy("media_id").orderBy("window_idx")
    prev = F.lag("rms_e6").over(w)
    delta_bp = F.expr(
        "CAST(abs(rms_e6 - prev_rms) * 10000 DIV greatest(prev_rms, 1)"
        " AS BIGINT)")
    flagged = (e.withColumn("prev_rms", prev)
               .withColumn("delta_bp",
                           F.when(prev.isNull(), F.lit(0)).otherwise(delta_bp))
               .withColumn("boundary", F.col("delta_bp") >= jump_bp))
    return (flagged
            .withColumn("shot_id", F.sum(F.col("boundary").cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .select("media_id", "window_idx", "rms_e6", "delta_bp",
                    "boundary", "shot_id"))
