"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet, then compares row count, column names
and order-insensitive values (columns sorted by name, rows sorted,
floats rounded).  Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(rows, cols, side="spark"):
    """Type-family-strict canonicalization.

    The driver compares results on the pandas/Arrow path, where e.g. a
    DuckDB HUGEINT or decimal(38,6) decays to float64 while Spark keeps
    int64 / Decimal — such pairs hash-differ even when numerically
    equal.  Tag each value with its type family (int / float / decimal /
    str / …) so the local gate is red wherever the driver would be.

    Cross-engine NULL/bool canonicalization (round-3 advice, tightened
    round 4): DuckDB's ``.df()`` pandas path renders a numeric NULL as
    float NaN — indistinguishable from a computed NaN — so on
    ``side="oracle"`` NaN maps to the ``('null', '')`` tag.  On
    ``side="spark"`` (collect() distinguishes None from float('nan')) a
    real NaN keeps a distinct ``('float', 'nan')`` tag: a query that
    computes NaN where the oracle has NULL now goes RED here instead of
    silently passing, so the "queries never emit NaN-capable
    expressions" invariant is checked rather than assumed.
    Likewise numpy ``bool_`` (pandas path) tags ``('bool', ...)`` like
    Python ``bool`` instead of falling through to ``str``.
    """
    import decimal

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, bool) or type(v).__name__ == "bool_":
                vals.append(("bool", str(bool(v))))
            elif isinstance(v, decimal.Decimal):
                vals.append(("decimal", str(v)))
            elif isinstance(v, float) or type(v).__name__ in ("float64", "float32"):
                v = float(v)
                if math.isnan(v):
                    # oracle pandas path renders numeric NULL as NaN →
                    # tag as missing; Spark-side NaN is a REAL computed
                    # NaN (collect() keeps NULL as None) → keep it
                    # distinct so NaN-vs-NULL divergences fail
                    vals.append(("null", "") if side == "oracle"
                                else ("float", "nan"))
                else:
                    vals.append(("float", f"{v:.6f}"))
            elif isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
                vals.append(("int", str(int(v))))
            elif hasattr(v, "isoformat"):
                vals.append(("ts", v.isoformat()))
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                vals.append(("list", str(list(v))))
            elif v is None:
                vals.append(("null", ""))
            else:
                vals.append(("str", v if isinstance(v, str) else str(v)))
        out.append(tuple(vals))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("correctness")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: spark error: {e}")
            failures += 1
            continue
        try:
            cur = con.sql(oracles[name])
            ocols = [c for c in cur.columns]
            odf = cur.df()  # pandas path — mirrors the driver's dtype decay
            orows = [tuple(rec) for rec in odf.itertuples(index=False, name=None)]
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: duckdb error: {e}")
            failures += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"[FAIL] {name}: columns {sorted(scols)} != {sorted(ocols)}")
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"[FAIL] {name}: rows {len(srows)} != {len(orows)}")
            failures += 1
            continue
        a = canon([tuple(r) for r in srows], scols, side="spark")
        b = canon(orows, ocols, side="oracle")
        if a != b:
            bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"[FAIL] {name}: value mismatch; first diffs: {bad}")
            failures += 1
            continue
        print(f"[ok] {name}: {len(srows)} rows match")
    spark.stop()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
