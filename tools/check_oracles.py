"""Local emulation of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB over the
same parquet, compare row count, schema (column names), and
order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

import __spark_entry__ as entrymod
from face_duplicate_detection_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(rows, cols):
    """Order-insensitive canonical form: sort columns by name, then rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    cores = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    spark = get_spark(app_name="oracle-check", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
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
            print(f"[FAIL-spark] {name}: {e}")
            continue
        if name not in oracles:
            print(f"[rows-only ] {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL-duck ] {name}: {e}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"schema: spark={sorted(scols)} duck={sorted(dcols)}"))
            print(f"[FAIL-schema] {name}: spark={sorted(scols)} duck={sorted(dcols)}")
            continue
        s_c = canon([tuple(r) for r in srows], scols)
        d_c = canon(drows, dcols)
        if len(s_c) != len(d_c):
            failures.append((name, f"rowcount spark={len(s_c)} duck={len(d_c)}"))
            print(f"[FAIL-rows ] {name}: spark={len(s_c)} duck={len(d_c)}")
            continue
        if s_c != d_c:
            diff_s = [r for r in s_c if r not in set(d_c)][:3]
            diff_d = [r for r in d_c if r not in set(s_c)][:3]
            failures.append((name, f"values differ; spark-only={diff_s} duck-only={diff_d}"))
            print(f"[FAIL-vals ] {name}: spark-only={diff_s}")
            print(f"             duck-only={diff_d}")
            continue
        print(f"[OK        ] {name}: {len(s_c)} rows match")

    print()
    if failures:
        print(f"{len(failures)} FAILURES")
        sys.exit(1)
    print("all queries match their oracles")


if __name__ == "__main__":
    main()
