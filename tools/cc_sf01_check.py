"""Scale-step differential for the connected-components family at sf0.1.

The driver-gate oracle for dedup_components / dedup_representatives /
dedup_apply / sample_leakage_split is a DuckDB RECURSIVE transitive-closure
CTE (reach grows as
the sum of squared component sizes), which is exact but quadratic in
cluster size — tractable at sf0.01, infeasible on the template-heavy
sf0.1 corpus where one near-dup cluster can hold thousands of members.

This harness keeps the scale-step evidence exact WITHOUT that blow-up:

  1. the CANDIDATE PAIRS come from the engine under test
     (``dedup.candidate_pairs`` — MinHash bands), whose band signatures
     are themselves hash-verified against DuckDB at sf0.1 by
     ``tools/selfcheck.py dedup_minhash_bands`` (and the pair semantics
     at sf0.01 by the full driver gate);
  2. the four cluster-level results (labels, representatives,
     deduplicated corpus, leakage-safe split) are recomputed INDEPENDENTLY
     from those pairs
     by a sequential union-find + pandas group pick — linear in the edge
     count, a different algorithm family from the engine's pointer
     doubling — and compared row-for-row.

Usage: python tools/cc_sf01_check.py [--sf-dir DIR]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"


def main():
    global SF_DIR
    argv = sys.argv[1:]
    if "--sf-dir" in argv:
        SF_DIR = argv[argv.index("--sf-dir") + 1]

    from ocr_redaction_engine_spark.analytics.dedup import (
        apply_dedup, candidate_pairs, connected_components,
        duplicate_representatives)
    from ocr_redaction_engine_spark.session import get_spark

    spark = get_spark("cc_sf01_check", len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("WARN")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    pairs_df = candidate_pairs(docs)
    pairs = [(r["a"], r["b"]) for r in pairs_df.collect()]
    print(f"# candidate pairs at {SF_DIR}: {len(pairs)}")

    # --- independent sequential union-find over the same pairs ---
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:          # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = MIN member id, matching connected_components' rule
    members: dict[str, list[str]] = {}
    for node in parent:
        members.setdefault(find(node), []).append(node)
    label = {n: min(ms) for r, ms in members.items() for n in ms}

    # 1) labels vs the engine's pointer-doubling components
    eng = {(r["node"], r["component"])
           for r in connected_components(pairs_df).collect()}
    ref = set(label.items())
    ok_labels = eng == ref
    print(f"dedup_components      rows {len(eng)}/{len(ref)} "
          f"match={ok_labels}")

    # 2) representatives (longest doc, then smallest id) + member counts
    n_chars = {r["doc_id"]: r["n_chars"]
               for r in docs.select("doc_id", "n_chars").collect()}
    ref_reps = {}
    for comp_label_nodes in members.values():
        comp = min(comp_label_nodes)
        best = min(comp_label_nodes, key=lambda n: (-n_chars[n], n))
        ref_reps[comp] = (best, n_chars[best], len(comp_label_nodes))
    eng_reps = {r["component"]: (r["rep_doc_id"], r["rep_n_chars"], r["n_members"])
                for r in duplicate_representatives(docs).collect()}
    ok_reps = eng_reps == ref_reps
    print(f"dedup_representatives rows {len(eng_reps)}/{len(ref_reps)} "
          f"match={ok_reps}")

    # 3) the deduplicated corpus: drop non-representative members
    drop = {n for ms in members.values()
            for n in ms if n != min(ms, key=lambda x: (-n_chars[x], x))}
    eng_kept = {r["doc_id"] for r in apply_dedup(docs).select("doc_id").collect()}
    ref_kept = set(n_chars) - drop
    ok_apply = eng_kept == ref_kept
    print(f"dedup_apply           rows {len(eng_kept)}/{len(ref_kept)} "
          f"match={ok_apply}")

    # 4) leakage-safe split: group = component label (or own id for
    #    singletons), md5(group) decile -> train/validation/test
    import hashlib

    from ocr_redaction_engine_spark.analytics.sampling import leakage_safe_split

    def split_of(gid: str) -> str:
        d = int(hashlib.md5(str(gid).encode()).hexdigest()[:15], 16) % 10
        return "train" if d < 8 else ("validation" if d < 9 else "test")

    group = {doc: label.get(doc, doc) for doc in n_chars}
    gsize: dict[str, int] = {}
    for g in group.values():
        gsize[g] = gsize.get(g, 0) + 1
    ref_split = {(doc, g, gsize[g], split_of(g)) for doc, g in group.items()}
    eng_split = {(r["doc_id"], r["group_id"], r["group_size"], r["split"])
                 for r in leakage_safe_split(docs).collect()}
    ok_split = eng_split == ref_split
    print(f"sample_leakage_split  rows {len(eng_split)}/{len(ref_split)} "
          f"match={ok_split}")

    comps = sorted((len(ms) for ms in members.values()), reverse=True)
    print(f"# components: {len(comps)}, largest: {comps[:5]} "
          f"(sum sq = {sum(c * c for c in comps):,} — the reach-CTE row "
          f"count a transitive-closure oracle would materialize)")
    if not (ok_labels and ok_reps and ok_apply and ok_split):
        print("MISMATCH")
        sys.exit(1)
    print("all 4 connected-components-family results match the sequential "
          "union-find reference")
    spark.stop()


if __name__ == "__main__":
    main()
