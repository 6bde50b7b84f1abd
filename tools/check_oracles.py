"""Local mimic of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on DuckDB
at the given sf dir; compare row count + schema + order-insensitive values.

Bit-strict by design (round-2 fix): the round-1 version coerced Decimal to
float and compared with isclose, which reported 28/28 locally while the
driver's value-hash failed 11 queries. This version:

  * enforces a portable-type whitelist on BOTH sides — every output column
    must be an integer (<=64-bit), string, boolean, double, date or
    timestamp. DuckDB DECIMAL / HUGEINT and Spark DecimalType are hard
    failures, because the driver's value-hash treats them differently from
    their numerically-equal counterparts on the other engine.
  * compares values exactly — no numeric tolerance, no type coercion.
    A float must be bit-equal; an int must be the same int.

Local green therefore implies driver green (the converse held on the
round-1 entry: this gate reproduces all 11 driver hash failures).

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys
from decimal import Decimal
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, ROOT)
# the UDF queries' Python workers inherit PYTHONPATH, not the driver's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from maga_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# DuckDB type names that survive the driver's value-hash unchanged.
DUCK_OK = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "UBIGINT", "UINTEGER",
    "VARCHAR", "BOOLEAN", "DOUBLE", "FLOAT", "DATE", "TIMESTAMP", "BLOB",
}
# Spark simpleString dtypes that are portable.
SPARK_OK = {"bigint", "int", "smallint", "tinyint", "string", "boolean",
            "double", "float", "date", "timestamp", "timestamp_ntz", "binary"}


def norm(v):
    """Canonical total form for a cell — NO cross-type coercion."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        # Should be unreachable (type gate fires first) — keep it a loud failure.
        return ("DECIMAL", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def norm_row(vals):
    return tuple(norm(v) for v in vals)


def check_spark_types(name, sdf):
    bad = [(c, t) for c, t in sdf.dtypes if t.split("(")[0] not in SPARK_OK]
    if bad:
        return f"SPARK NON-PORTABLE TYPES: {bad}"
    return None


def check_duck_types(name, rel):
    bad = [
        (c, t) for c, t in zip(rel.columns, [str(t) for t in rel.types])
        if str(t).split("(")[0] not in DUCK_OK
    ]
    if bad:
        return f"DUCKDB NON-PORTABLE TYPES: {bad} (DECIMAL/HUGEINT hash-diverge)"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle_check", shuffle_partitions=16)  # local[$SPARK_GRAFT_CPUS]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"{name:24s} SPARK-ERROR {str(e)[:160]}")
            continue
        if name not in os_:
            print(f"{name:24s} rows-only  n={len(srows)}")
            continue
        terr = check_spark_types(name, sdf)
        if terr:
            failures.append((name, terr))
            print(f"{name:24s} {terr}")
            continue
        try:
            rel = con.sql(os_[name])
            derr = check_duck_types(name, rel)
            if derr:
                failures.append((name, derr))
                print(f"{name:24s} {derr}")
                continue
            dcols = list(rel.columns)
            drows = rel.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"{name:24s} DUCKDB-ERROR {str(e)[:160]}")
            continue
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            failures.append((name, f"SCHEMA: spark={sorted(scols)} duck={sorted(dcols)}"))
            print(f"{name:24s} SCHEMA-MISMATCH spark={sorted(scols)} duck={sorted(dcols)}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"ROWS: spark={len(srows)} duck={len(drows)}"))
            print(f"{name:24s} ROWCOUNT-MISMATCH spark={len(srows)} duck={len(drows)}")
            continue
        # driver sorts columns by name before hashing — mimic that
        s_order = sorted(range(len(scols)), key=lambda i: scols[i].lower())
        d_order = sorted(range(len(dcols)), key=lambda i: dcols[i].lower())

        def _key(row):  # total order even with NULLs / mixed cells
            return tuple((v is None, str(type(v)), str(v)) for v in row)

        s_set = sorted(
            (norm_row([r[scols[i]] for i in s_order]) for r in srows), key=_key
        )
        d_set = sorted((norm_row([r[i] for i in d_order]) for r in drows), key=_key)
        bad = None
        for i, (x, y) in enumerate(zip(s_set, d_set)):
            if x != y:
                bad = (i, x, y)
                break
        if bad:
            failures.append((name, f"VALUES @ {bad[0]}: spark={bad[1]} duck={bad[2]}"))
            print(f"{name:24s} VALUE-MISMATCH @{bad[0]}\n  spark={bad[1]}\n  duck ={bad[2]}")
        else:
            print(f"{name:24s} OK  n={len(srows)}")

    print()
    if failures:
        print(f"FAILURES: {len(failures)}")
        for n, msg in failures:
            print(f"  {n}: {msg[:200]}")
        sys.exit(1)
    print("ALL OK")
    spark.stop()


if __name__ == "__main__":
    main()
