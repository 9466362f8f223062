"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet,
compare row count + column names + order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")

TABLES = ["documents", "embeddings"]


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, int):
        return str(v)
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return f"{float(v):.6f}".rstrip("0").rstrip(".")
    except Exception:
        pass
    import datetime
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_val(r[i]) for i in order) for r in rows)
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from docling_eval_spark.session import usable_cpus

    spark = (SparkSession.builder.master(f"local[{usable_cpus()}]")
             .appName("oracle-check")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(s_rows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        ok = True
        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL {name}: columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
            ok = False
        elif len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rowcount spark={len(s_rows)} duck={len(d_rows)}")
            ok = False
        else:
            cs, cd = canon(s_rows, s_cols), canon(d_rows, d_cols)
            if cs != cd:
                diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
                print(f"FAIL {name}: value mismatch; first diffs: {diffs}")
                ok = False
        if ok:
            print(f"OK   {name} ({len(s_rows)} rows)")
        else:
            failures += 1
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
