"""Driver-style correctness check: run every queries() entry on Spark
and its oracle_sql() twin on DuckDB over the same parquet dir; compare
row count, column names, and an order-insensitive value hash.

Every ``ok`` line ends with ``spark_hash=<md5>``, the Spark side's
value hash (rows-only queries included), so two runs — say before and
after a refactor — compare with a plain diff of their ``ok`` lines.

Usage: SF_DIR=<parquet table dir> python scripts/check_oracles.py [query ...]"""

import hashlib
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

import __spark_entry__ as entrymod
from tortank_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, list):
        return "[" + ",".join(norm_val(x) for x in v) + "]"
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_val(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main():
    spark = get_spark("oracle-check", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    only = set(sys.argv[1:])
    if only:
        unknown = only - set(qs)
        if unknown:
            print("unknown query names:", sorted(unknown))
            return 2
        qs = {k: v for k, v in qs.items() if k in only}
    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        dt = time.time() - t0
        sh = value_hash(scols, [[r[c] for c in scols] for r in srows])
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {dt:.1f}s)"
                  f" spark_hash={sh}")
            continue
        try:
            drel = con.execute(oracles[name])
            dcols = [d[0] for d in drel.description]
            drows = drel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} != {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} != {sorted(dcols)}")
        if not problems:
            dh = value_hash(dcols, drows)
            if sh != dh:
                problems.append("value-hash mismatch")
                # show a small symmetric diff for debugging
                sset = {tuple(norm_val(r[c]) for c in sorted(scols))
                        for r in srows}
                dset = {
                    tuple(norm_val(v) for _, v in sorted(zip(dcols, r)))
                    for r in drows
                }
                for x in list(sset - dset)[:3]:
                    print("   spark-only :", x)
                for x in list(dset - sset)[:3]:
                    print("   duckdb-only:", x)
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: {len(srows)} rows match ({dt:.1f}s)"
                  f" spark_hash={sh}")
    print()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("ALL ORACLES MATCH")
    return 0


if __name__ == "__main__":
    sys.exit(main())
