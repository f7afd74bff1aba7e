"""Subprocess body for test_real_ocr_paths: with the fake OCR stack on
PYTHONPATH (driver AND Spark Python workers inherit it), the import guards
in tokenize_tesseract / decode_image / resize_image / detect_qr pass and
their real mapInPandas bodies execute — DICT parsing, box assembly,
grayscale normalization, TESSERACT_MODES mapping, PNG re-encode, QReader
detection loop (VERDICT r2 #5; reference helper/text_coordinates.py:9-29,
aadhaar document_coordinates.py:368-401).

Run in its OWN process + SparkSession so the shared pytest session never
sees the fakes (test_codec_stubs_raise must keep raising)."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_redaction_engine_spark.session import get_spark  # noqa: E402


def img_payload(w, h, bands, words, text, qr=()):
    return json.dumps({"w": w, "h": h, "bands": bands, "words": words,
                       "text": text, "qr": list(qr)}).encode()


def main():
    import pytesseract  # the fake — proves PYTHONPATH carries the stack
    assert pytesseract.Output.DICT == "dict"

    spark = get_spark("real-ocr-paths", cores=4)
    spark.sparkContext.setLogLevel("ERROR")

    from ocr_redaction_engine_spark.analytics.multimodal import (
        decode_image, detect_qr, resize_image)
    from ocr_redaction_engine_spark.operators.tokenize import tokenize_tesseract

    # --- tokenize_tesseract: DICT parsing + box assembly + strip filter ---
    pages = [
        ("d1", 0, "pg-1", "a.png",
         img_payload(640, 480, "RGB",
                     words=[[10, 20, 30, 12, "PAN"],
                            [50, 20, 40, 12, "ABCDE1234F"],
                            [95, 20, 10, 12, "   "]],   # whitespace: dropped
                     text="PAN ABCDE1234F\nline two")),
        ("d2", 3, "pg-2", "b.png",
         img_payload(320, 240, "L", words=[], text="")),  # empty page
    ]
    pdf = spark.createDataFrame(
        pages, "doc_id string, offset int, media_ref string, "
               "document_name string, content binary")
    rows = {r.media_ref: r
            for r in tokenize_tesseract(pdf, lang="regionalplus").collect()}
    r1 = rows["pg-1"]
    assert (r1.doc_id, r1.offset, r1.document_name) == ("d1", 0, "a.png")
    assert (r1.width, r1.height) == (640, 480)
    # x2/y2 assembled as left+width / top+height (text_coordinates.py:9-29);
    # the all-whitespace token is strip-filtered (ibid:25-28)
    assert r1.wtext == ["PAN", "ABCDE1234F"]
    assert r1.wx1 == [10, 50] and r1.wy1 == [20, 20]
    assert r1.wx2 == [40, 90] and r1.wy2 == [32, 32]
    # TESSERACT_MODES['regionalplus'] parameters reached image_to_string
    assert r1.lines == ["PAN ABCDE1234F", "line two",
                        "[mode hin+eng|--oem 3 --psm 11]"]
    assert r1.qx1 == [] and r1.qy2 == []  # QR is a separate operator
    r2 = rows["pg-2"]
    assert r2.wtext == [] and r2.lines == ["", "[mode hin+eng|--oem 3 --psm 11]"]
    print("tokenize_tesseract OK")

    # --- decode_image / resize_image / detect_qr ---
    media = spark.createDataFrame(
        [(1, img_payload(64, 32, "RGB", [], "", qr=[[5, 6, 25, 26]])),
         (2, img_payload(16, 16, "L", [], "",
                         qr=[[1, 2, 3, 4], [7, 8, 9, 10]])),
         (3, img_payload(8, 8, "RGBA", [], ""))],
        "media_id long, content binary")

    dec = {r.media_id: (r.width, r.height, r.channels)
           for r in decode_image(media).collect()}
    assert dec == {1: (64, 32, 3), 2: (16, 16, 1), 3: (8, 8, 4)}
    print("decode_image OK")

    rez = {r.media_id: bytes(r.content)
           for r in resize_image(media, 32, 32).collect()}
    assert rez == {m: b"FAKEPNG:32x32" for m in (1, 2, 3)}
    print("resize_image OK")

    qr = sorted((r.media_id, r.qx1, r.qy1, r.qx2, r.qy2)
                for r in detect_qr(media).collect())
    assert qr == [(1, 5, 6, 25, 26), (2, 1, 2, 3, 4), (2, 7, 8, 9, 10)]
    print("detect_qr OK")

    spark.stop()
    print("REAL_OCR_PATHS_ALL_OK")


if __name__ == "__main__":
    main()
