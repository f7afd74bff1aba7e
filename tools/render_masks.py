"""Render redaction boxes onto a synthetic page layout for human eyeballing
— the engine's analogue of the reference's only 'testing' surface
(ocrr_testing/masking.py:4-22, multi_masking.py:4-38: cv2.rectangle black
fills over an image).

The sandbox has no cv2/PIL, so the renderer writes binary PPM (P6) — a
format every image viewer opens — straight from the synthetic layout:
light-gray word boxes on white, black filled redaction boxes on top
(exactly the reference's rectangle(-1) blackout look). Pure function of
(seed, doc index, page index), no pipeline run needed: the page layout and
the kernel extraction both come from the corpus/kernel modules.

Usage:
    python tools/render_masks.py [doc_index] [page_offset] [out.ppm]
    python tools/render_masks.py --smoke      # render one page to /tmp
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_redaction_engine_spark import corpus, kernel, oracle


def render_page_ppm(page: dict, boxes: list, out_path: str) -> tuple:
    """White canvas, gray word boxes, black redaction fills → P6 PPM."""
    w, h = int(page["width"]), int(page["height"])
    # row-major RGB canvas
    buf = bytearray(b"\xff" * (w * h * 3))

    def fill(x1, y1, x2, y2, rgb):
        x1, y1 = max(0, min(w, x1)), max(0, min(h, y1))
        x2, y2 = max(0, min(w, x2)), max(0, min(h, y2))
        row = bytes(rgb) * max(0, x2 - x1)
        for y in range(y1, y2):
            off = (y * w + x1) * 3
            buf[off:off + len(row)] = row

    for wb in page["words"]:
        fill(wb["x1"], wb["y1"], wb["x2"], wb["y2"], (200, 200, 200))
    for (x1, y1, x2, y2) in boxes:
        fill(x1, y1, x2, y2, (0, 0, 0))
    with open(out_path, "wb") as f:
        f.write(f"P6\n{w} {h}\n255\n".encode())
        f.write(bytes(buf))
    return w, h


def page_boxes(page: dict, level: int = 1) -> tuple:
    """Run the kernel on one synthetic page; returns (status, [boxes])."""
    res = oracle.process_page(page, level)
    if res["status"] == kernel.REJECTED:
        return res["status"], [kernel.rejected_box(page["width"], page["height"])]
    if kernel.boxes_output_failed(res["fields"]):
        return res["status"], []
    return res["status"], [(x1, y1, x2, y2) for _, _, x1, y1, x2, y2
                           in kernel.flatten_boxes(res["fields"])]


def main(argv):
    if argv and argv[0] == "--smoke":
        doc_i, page_j, out = 3, None, "/tmp/render_masks_smoke.ppm"
    else:
        doc_i = int(argv[0]) if len(argv) > 0 else 0
        page_j = int(argv[1]) if len(argv) > 1 else None
        out = argv[2] if len(argv) > 2 else f"masked_doc{doc_i}.ppm"
    _, pages = corpus.build_corpus_local(42, doc_i + 1)
    mine = [p for p in pages if p["media_ref"].startswith(f"pg-{doc_i:08d}-")]
    if not mine:
        print(f"doc {doc_i} has no media pages; try another index")
        return 1
    page = mine[0] if page_j is None else \
        next(p for p in mine if p["media_ref"].endswith(f"-{page_j:02d}"))
    status, boxes = page_boxes(page)
    w, h = render_page_ppm(page, boxes, out)
    print(f"{page['media_ref']} [{page['doc_type']}] -> {status}, "
          f"{len(boxes)} boxes, {w}x{h} PPM at {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
