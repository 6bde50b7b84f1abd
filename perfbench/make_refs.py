"""Rebuild ``query_refs.json``: the stored row count and digest of every
suite query over the vendored tables.

    python3 perfbench/make_refs.py

Where ``__spark_entry__.oracle_sql()`` has the query, its DuckDB result
must match Spark's rows exactly (columns in name order, rows as a
multiset) before the reference is stored; otherwise the script fails.
Run it from the root of a checkout whose queries are known to be correct.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _multiset(cols, rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted((repr(tuple(_norm(r[i]) for i in order)) for r in rows))


def main() -> int:
    from common import prepare_env, start_spark

    prepare_env()
    import duckdb

    import __spark_entry__ as entry
    from oracle import df_digest
    from suite import QUERIES

    spark = start_spark("perfbench_refs")
    qs, sql = entry.queries(), entry.oracle_sql()
    refs, bad = {}, []
    for sf_name in ("sf0.01", "sf0.001"):
        sf = os.path.join(HERE, "data", sf_name)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        refs[sf_name] = {}
        for name in QUERIES:
            ref = df_digest(qs[name](spark, sf))
            if name in sql:
                df = qs[name](spark, sf)
                rel = con.sql(sql[name])
                if _multiset(df.columns, df.collect()) != _multiset(list(rel.columns), rel.fetchall()):
                    bad.append(f"{sf_name}/{name}")
                    continue
                ref["oracle"] = "duckdb"
            refs[sf_name][name] = ref
            print(sf_name, name, ref, flush=True)
    spark.stop()
    if bad:
        print("DuckDB oracle mismatch:", ", ".join(bad), file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "query_refs.json"), "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
