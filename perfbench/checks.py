"""Output checks for benchmark runs, read back with pyarrow (no Spark).

The first run of a benchmark invocation is compared row for row with the
pure-Python oracle. Every later run must reproduce that run's row counts
and order-independent content digests, and leave a complete lineage table:
one ``done`` row per bucket, ``n_docs`` summing to the oracle's document
count, nothing done before the run, and the configured number of waves.
"""

from __future__ import annotations

import pandas as pd
import pyarrow.dataset as ds


def read_table(path: str) -> pd.DataFrame:
    """A bucket-partitioned parquet output (or the lineage table) as pandas;
    ``_``- and ``.``-prefixed files (``_SUCCESS``, ``_claims``, CRCs) are
    skipped as Spark's readers skip them."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table() \
        .to_pandas()


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """(row count, sum mod 2**64 of a 64-bit hash of every row over every
    column): equal for any row order or file layout, different if a row is
    lost, added or changed."""
    df = df[sorted(df.columns)]
    h = pd.util.hash_pandas_object(df, index=False).to_numpy().sum(dtype="uint64")
    return len(df), int(h)


def oracle_mismatches(frames: dict, expected: dict, tables: dict) -> list[str]:
    """Row-for-row comparison of a run's outputs with the oracle rows."""
    bad = []
    for t, cols in tables.items():
        got = sorted(frames[t][list(cols)].itertuples(index=False, name=None))
        exp = expected["tables"][t]
        if got != exp:
            n_diff = len(set(got) ^ set(exp))
            bad.append(f"{t}: {len(got)} rows vs oracle {len(exp)}, "
                       f"{n_diff} differ")
    return bad


def lineage_mismatches(rows: pd.DataFrame, stats: dict, workload,
                       expected: dict) -> list[str]:
    bad = []
    buckets = sorted(rows["bucket"].tolist())
    if buckets != list(range(workload.n_buckets)):
        bad.append(f"lineage buckets {buckets}")
    if (rows["status"] != "done").any():
        bad.append("lineage row not done")
    n_docs = int(rows["n_docs"].sum())
    if n_docs != expected["n_docs"]:
        bad.append(f"lineage n_docs {n_docs} vs oracle {expected['n_docs']}")
    if stats.get("buckets_done_before") != 0:
        bad.append(f"buckets_done_before {stats.get('buckets_done_before')}")
    if stats.get("waves") != workload.waves:
        bad.append(f"waves {stats.get('waves')} vs {workload.waves}")
    if stats.get("buckets_skipped_claimed", 0):
        bad.append(f"buckets_skipped_claimed {stats['buckets_skipped_claimed']}")
    if "invalid" in expected["tables"] and \
            stats.get("n_invalid") != len(expected["tables"]["invalid"]):
        bad.append(f"n_invalid {stats.get('n_invalid')}")
    return bad


def perturbed_output_detected(frames: dict, expected: dict, tables: dict,
                              reference: dict) -> bool:
    """Negative control: outputs equal to ``frames`` except for the text of
    one document's spans in the first table must fail both the oracle
    comparison and the digest comparison."""
    main = next(iter(tables))
    changed = frames[main].copy()
    victim = changed["doc_id"] == changed["doc_id"].min()
    changed.loc[victim, "text"] = changed.loc[victim, "text"] + "#"
    return (bool(oracle_mismatches({**frames, main: changed}, expected, tables))
            and digest(changed) != reference[main])
