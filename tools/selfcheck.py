"""Mimic the driver's correctness gate: run each queries() entry on Spark at
sf0.01 and its oracle_sql() in DuckDB over the same parquet, compare
row-count + schema-sorted value hash.

Usage: python tools/selfcheck.py [--sf-dir DIR] [name...]
    --sf-dir lets the same protocol run at a bigger scale factor (e.g.
    /root/testdata/sf0.1) to catch scale-dependent drift in the heavy
    dedup/join queries that the sf0.01 gate can't see (VERDICT r2 #7).
"""
from __future__ import annotations

import hashlib
import math
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    global SF_DIR
    import __spark_entry__ as entry_mod
    from ocr_redaction_engine_spark.session import get_spark

    argv = sys.argv[1:]
    if "--sf-dir" in argv:
        i = argv.index("--sf-dir")
        SF_DIR = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    stream_collect = "--stream-collect" in argv
    if stream_collect:
        # partition-at-a-time result fetch: duplicate-heavy scale steps
        # return multi-GB candidate-pair tables that a monolithic
        # collect() materializes whole in JVM heap (OOM at 48g); the
        # iterator keeps one partition resident at a time
        argv.remove("--stream-collect")
    # engine versions in the record: oracle portability is written for the
    # pinned duckdb>=1.0,<2 range (pyproject), but a second-minor-version
    # run (VERDICT r4 #5) needs the version each transcript ran against
    import pyspark
    print(f"# selfcheck over {SF_DIR}")
    print(f"# engines: duckdb {duckdb.__version__}, pyspark {pyspark.__version__}")

    # the compare collects full result sets; duplicate-heavy scale steps
    # (sf1's 10x replica structure) legitimately return GB-sized
    # candidate-pair tables
    spark = get_spark("selfcheck", len(os.sched_getaffinity(0)),
                      {"spark.driver.maxResultSize": "16g"})
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # Golden-parquet oracles that read the SF tables are pinned to the scale
    # they were generated at (the driver gate runs sf0.01). When checking
    # another --sf-dir, swap in the ``_sf<X>``-suffixed twin of every golden
    # file (tools/write_bpe_golden.py --sf-dir regenerates it); a query
    # whose twin is missing fails instead of comparing against the sf0.01
    # golden. The fixed-corpus pipeline goldens are directories
    # (``*.parquet/*.parquet``), which the pattern does not match: they
    # keep their path.
    sf_tag = os.path.basename(SF_DIR.rstrip("/"))
    missing_twin = {}
    if sf_tag != "sf0.01":
        def _swap(name: str, sql: str) -> str:
            def sub(m):
                twin = f"{m.group(1)}_{sf_tag}.{m.group(2)}"
                if not os.path.exists(twin):
                    missing_twin[name] = twin
                return f"'{twin}'"
            return re.sub(r"'([^']*/tests/golden/[^'.]+)\.(parquet)'", sub, sql)
        oracles = {k: _swap(k, v) for k, v in oracles.items()}
    only = set(argv)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in missing_twin:
            print(f"FAIL  {name}: golden {missing_twin[name]} is missing; "
                  f"write it with tools/write_bpe_golden.py --sf-dir {SF_DIR} "
                  f"--out {missing_twin[name]}")
            failures.append(name)
            continue
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            if stream_collect:
                rows = [tuple(r) for r in df.toLocalIterator()]
            else:
                rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(rows)} rows (no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_schema = sorted(cols) == sorted(ocols)
        ok_count = len(rows) == len(orows)
        h1 = table_hash(cols, rows)
        h2 = table_hash(ocols, orows)
        ok_hash = h1 == h2
        status = "OK  " if (ok_schema and ok_count and ok_hash) else "FAIL"
        print(f"{status}  {name}: rows {len(rows)}/{len(orows)} schema={ok_schema} hash {h1} vs {h2}")
        if status == "FAIL":
            failures.append(name)
            if not ok_schema:
                print(f"      spark cols: {sorted(cols)}")
                print(f"      duck  cols: {sorted(ocols)}")
    print()
    if failures:
        print("FAILURES:", ", ".join(failures))
        sys.exit(1)
    print("all checked queries match")


if __name__ == "__main__":
    main()
