"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark and its oracle on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values."""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from trainable_entity_extractor_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return f"{float(v):.6g}"
    except Exception:
        pass
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main(only: list[str] | None = None):
    spark = get_spark("oracle-verify", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"FAIL {name}: no oracle")
            failures.append(name)
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [c for c in rel.columns]
            orows = rel.fetchall()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error {type(exc).__name__}: {str(exc)[:200]}")
            failures.append(name)
            continue
        msgs = []
        if sorted(scols) != sorted(ocols):
            msgs.append(f"cols {scols} vs {ocols}")
        if len(srows) != len(orows):
            msgs.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not msgs:
            a = norm_rows(scols, srows)
            b = norm_rows(ocols, orows)
            if a != b:
                diff = [x for x in zip(a, b) if x[0] != x[1]][:3]
                msgs.append(f"values differ, first diffs {diff}")
        if msgs:
            print(f"FAIL {name}: " + "; ".join(msgs))
            failures.append(name)
        else:
            print(f"ok {name}: {len(srows)} rows  [{time.time()-t0:.1f}s]")
    print("\n" + ("ALL OK" if not failures else f"FAILURES: {failures}"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
