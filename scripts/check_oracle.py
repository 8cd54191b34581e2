"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the given sf dir, compare
row counts + column names + order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from cs588_data_science_bug_duplicate_detector_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def compare(scols, srows, dcols, drows):
    """(columns equal, Spark rows, DuckDB rows), rows normalized by
    ``norm_rows``: a query matches its oracle iff the flag holds and the
    two row lists are equal."""
    a = norm_rows(scols, [[r[c] for c in scols] for r in srows])
    return sorted(scols) == sorted(dcols), a, norm_rows(dcols, drows)


def duck(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    # DuckDB spills past its memory limit, but fails with "bad allocation"
    # when the limit exceeds what the host can give. Spark's driver shares
    # the box, so the oracle gets a third of physical memory (5 GB on a
    # 15 GB host, where the recursive-CTE oracles at sf0.1 finish).
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con.execute(f"SET memory_limit='{phys // 3 // 2**20}MB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main(sf_dir: str, only: list[str]):
    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name}: rows-only, spark rows={len(srows)}")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:
            print(f"{name}: ORACLE SQL ERROR: {exc}")
            failures += 1
            continue
        ok_cols, a, b = compare(scols, srows, dcols, drows)
        ok_vals = a == b
        status = "OK" if (ok_cols and ok_vals) else "MISMATCH"
        if status != "OK":
            failures += 1
            print(f"{name}: {status} cols_ok={ok_cols} rows {len(a)} vs {len(b)}")
            if not ok_cols:
                print("  spark cols:", scols, " duck cols:", dcols)
            for x, y in list(zip(a, b))[:3]:
                if x != y:
                    print("  spark:", x)
                    print("  duck :", y)
            onlya = [r for r in a if r not in set(map(tuple, b))][:2]
            onlyb = [r for r in b if r not in set(map(tuple, a))][:2]
            if onlya:
                print("  only-spark:", onlya)
            if onlyb:
                print("  only-duck :", onlyb)
        else:
            print(f"{name}: OK ({len(a)} rows)")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    main(sf, sys.argv[2:])
