"""Independent pure-Python BPE reference (Sennrich et al. 2016) for the
``bpe_encode`` driver oracle: learns N_MERGES merges from the sf0.01
documents corpus and writes the fully-encoded piece stream as golden
parquet. Shares NO code with the Spark implementation under test — dict
/Counter loops here vs Arrow passes + hash-aggs there; only the spec is
shared (pair argmax = count desc then lexicographic; apply = greedy
lowest-rank, leftmost occurrence).

Run: python tools/write_bpe_golden.py [--sf-dir DIR --out FILE]
    The default writes the sf0.01 golden the driver gate reads; --sf-dir
    regenerates the reference at another scale; write it to the
    ``_sf<X>``-suffixed twin, which tools/selfcheck.py swaps in (and fails
    the query when it is missing), so the sf0.1 scale-step gate checks the
    real sf0.1 encode instead of mismatching the sf0.01 golden.
"""
from __future__ import annotations

import argparse
import json
import os
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SF = "/root/testdata/sf0.01/documents.parquet"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "golden", "bpe_pieces.parquet")
N_MERGES = 20


def segment(word: str, ranks: dict) -> list:
    syms = list(word)
    while True:
        cands = [(ranks[p], i)
                 for i, p in enumerate(zip(syms, syms[1:])) if p in ranks]
        if not cands:
            return syms
        _, i = min(cands)
        syms = syms[:i] + [syms[i] + syms[i + 1]] + syms[i + 2:]


def main():
    global SF, OUT
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", help="testdata dir (reads documents.parquet)")
    ap.add_argument("--out", help="output parquet path")
    args = ap.parse_args()
    if args.sf_dir:
        SF = f"{args.sf_dir.rstrip('/')}/documents.parquet"
    if args.out:
        OUT = args.out
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}') ORDER BY doc_id"
    ).fetchall()
    wc: Counter = Counter()
    doc_toks = []
    for doc_id, text in rows:
        toks = text.strip().split()
        doc_toks.append((doc_id, toks))
        wc.update(toks)

    merges: list = []
    for _ in range(N_MERGES):
        ranks = {m: i for i, m in enumerate(merges)}
        pc: Counter = Counter()
        for w, c in wc.items():
            syms = segment(w, ranks)
            for p in zip(syms, syms[1:]):
                pc[p] += c
        if not pc:
            break
        merges.append(min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0])

    ranks = {m: i for i, m in enumerate(merges)}
    seg_cache = {w: segment(w, ranks) for w in wc}
    out = {"doc_id": [], "word_pos": [], "piece_pos": [], "piece": []}
    for doc_id, toks in doc_toks:
        for wp, w in enumerate(toks):
            for pp, piece in enumerate(seg_cache[w]):
                out["doc_id"].append(doc_id)
                out["word_pos"].append(wp)
                out["piece_pos"].append(pp)
                out["piece"].append(piece)
    table = pa.table({
        "doc_id": pa.array(out["doc_id"], pa.int64()),
        "word_pos": pa.array(out["word_pos"], pa.int32()),
        "piece_pos": pa.array(out["piece_pos"], pa.int32()),
        "piece": pa.array(out["piece"], pa.string()),
    })
    pq.write_table(table, OUT)
    print(json.dumps({"rows": table.num_rows, "merges": merges}))


if __name__ == "__main__":
    main()
