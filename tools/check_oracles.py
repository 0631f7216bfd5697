#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each
queries()[name] on Spark and oracle_sql()[name] on DuckDB over the same
sf dir, compare row count, column names, and an order-insensitive
value hash.  Usage: python tools/check_oracles.py [sf_dir] [name...]

DuckDB runs under a memory limit of a quarter of host RAM and spills to
a temporary directory under /tmp, so an oracle whose join or window
outgrows memory (the ANN rows at larger sf) spills instead of getting
the process OOM-killed.  The directory is removed on exit, also when
the run is stopped by SIGTERM (``timeout``, ``kill``): the handler
turns the signal into SystemExit.  SIGKILL cannot be handled, so a
SIGKILLed run leaves its ``/tmp/check_oracles_duckdb_*`` behind."""

from __future__ import annotations

import os
import shutil
import signal
import sys
import tempfile

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_hash(pdf: pd.DataFrame) -> str:
    import hashlib

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    if len(pdf) == 0:
        return "empty"
    rows = sorted(pdf.astype(str).apply("|".join, axis=1).tolist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    sys.path.insert(0, ".")
    from umi_collapse_rs_spark.session import get_spark

    # SIGTERM -> SystemExit(143), so the finally below still runs
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    spark = get_spark(app_name="check_oracles", shuffle_partitions=8)
    spill_dir = tempfile.mkdtemp(prefix="check_oracles_duckdb_", dir="/tmp")
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con = duckdb.connect(
        config={"memory_limit": f"{ram // 4 >> 20}MB", "temp_directory": spill_dir}
    )
    try:
        return _compare(spark, con, sf_dir, only)
    finally:
        con.close()
        shutil.rmtree(spill_dir, ignore_errors=True)


def _compare(spark, con, sf_dir: str, only: set[str]) -> int:
    import __spark_entry__ as entry

    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, sqls = entry.queries(), entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} spark error: {e}")
            failures += 1
            continue
        if name not in sqls:
            print(f"rows  {name:24s} rows={len(got)} (no oracle)")
            continue
        try:
            want = con.sql(sqls[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} duckdb error: {e}")
            failures += 1
            continue
        ok_rows = len(got) == len(want)
        ok_cols = sorted(got.columns) == sorted(want.columns)
        ok_hash = ok_rows and ok_cols and norm_hash(got) == norm_hash(want)
        status = "OK  " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status}  {name:24s} rows {len(got)}/{len(want)} cols_ok={ok_cols} hash_ok={ok_hash}"
        )
        if not ok_hash and ok_rows and ok_cols and len(got) > 0:
            g = got[sorted(got.columns)].astype(str).apply("|".join, axis=1).sort_values().reset_index(drop=True)
            w = want[sorted(want.columns)].astype(str).apply("|".join, axis=1).sort_values().reset_index(drop=True)
            diff = g[g != w]
            print("   first diffs:\n   spark:", diff.head(2).tolist(), "\n   duck :", w[g != w].head(2).tolist())
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
