"""Replicates the driver's correctness gate locally: run each
__spark_entry__.queries() entry at a given sf dir, run the matching
oracle_sql() in DuckDB over the same parquet views, compare row count,
column names, and order-insensitive values.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def dtype_classes(df):
    """Per-column dtype class (int/float/bool/str/other), sorted by column.

    The driver's value hash is dtype-sensitive: an oracle column that pandas
    materializes as float64 (e.g. DuckDB HUGEINT) hash-mismatches a Spark
    int64 even when every value is integral. canon() coerces integer-valued
    floats for robust VALUE comparison, so this separate check reproduces
    the driver's stricter behavior: a column whose dtype class differs
    from the oracle's fails even when every value agrees."""
    classes = {}
    for col in sorted(df.columns):
        k = df[col].dtype.kind  # i/u int, f float, b bool, O object, M dt
        classes[col] = {
            "i": "int", "u": "int", "f": "float", "b": "bool",
            "O": "object", "M": "datetime",
        }.get(k, k)
    return classes


def canon(df):
    """pandas frame → sorted list of row tuples with canonical values."""
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)

    def cv(v):
        if v is None:
            return None
        if isinstance(v, float):
            if math.isnan(v):
                return None
            if v.is_integer():
                return int(v)
            return round(v, 9)
        try:
            import numpy as np

            if isinstance(v, (np.integer,)):
                return int(v)
            if isinstance(v, (np.floating,)):
                f = float(v)
                if math.isnan(f):
                    return None
                return int(f) if f.is_integer() else round(f, 9)
            if isinstance(v, np.bool_):
                return bool(v)
            if isinstance(v, np.ndarray):
                return tuple(cv(x) for x in v)
        except ImportError:
            pass
        if isinstance(v, list):
            return tuple(cv(x) for x in v)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v

    rows = [tuple(cv(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple(str(x) for x in r)), list(df.columns)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry
    from logstash_filter_translate_spark.session import build_session

    # bench.py's rule: never more task threads than this process's CPUs
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              str(len(os.sched_getaffinity(0)))))
    spark = build_session(master=f"local[{cpus}]", shuffle_partitions=cpus)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    # the driver contract (entry.queries(), exactly 50 rows) PLUS the
    # plane/parameter variants the 50-row cap folded out — every query
    # the package ships is checked against its oracle, not only those
    # the contract lists
    from logstash_filter_translate_spark.plans import queries as Q

    qs = {**entry.queries(), **Q.EXTRA_QUERIES}
    oracles = {**entry.oracle_sql(), **Q.EXTRA_ORACLES}
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL {name}: oracle error: {exc}")
            failures += 1
            continue
        srows, scols = canon(sdf)
        orows, ocols = canon(odf)
        if scols != ocols:
            print(f"FAIL {name}: columns differ spark={scols} oracle={ocols}")
            failures += 1
            continue
        sdt, odt = dtype_classes(sdf), dtype_classes(odf)
        if sdt != odt:
            bad = {
                c: (sdt[c], odt[c]) for c in sdt if sdt[c] != odt.get(c)
            }
            print(f"FAIL {name}: dtype classes differ (spark, oracle): {bad}")
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            failures += 1
            continue
        if srows != orows:
            diff = [
                (a, b) for a, b in zip(srows, orows) if a != b
            ][:3]
            print(f"FAIL {name}: values differ; first diffs: {diff}")
            failures += 1
            continue
        print(f"PASS {name}: {len(srows)} rows, cols={scols}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
