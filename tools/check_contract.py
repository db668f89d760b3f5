"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same parquet tables; compare row count, column names, and
order-insensitive values. An oracle still running after
``ORACLE_TIMEOUT_S`` is interrupted and reported as TIMEOUT: never a
pass, and the run exits non-zero.

Usage: python tools/check_contract.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import sys
import threading
import time

import duckdb

sys.path.insert(0, ".")

ORACLE_TIMEOUT_S = 300

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _type_class(t):
    """Collapse an Arrow type into the coarse class the driver's typed
    value-hash distinguishes: all <=64-bit ints hash alike, but
    HUGEINT/DECIMAL (e.g. DuckDB SUM over BIGINT) does not."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "i64"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_floating(t):
        return "f64"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_type_class(t.value_type)}>"
    return str(t)


def _spark_type_class(dt):
    """Same coarse classes for a Spark SQL type."""
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "i64"
    if s.startswith("decimal"):
        return "decimal"
    if s in ("float", "double"):
        return "f64"
    if s == "boolean":
        return "bool"
    if s == "string":
        return "str"
    if s.startswith("timestamp"):
        return "ts"
    if s == "date":
        return "date"
    if s.startswith("array<"):
        from pyspark.sql.types import ArrayType

        if isinstance(dt, ArrayType):
            return f"list<{_spark_type_class(dt.elementType)}>"
    return s


def canon(rows, cols):
    """Order-insensitive canonical form, aligned with the DRIVER's
    canonicalizer: build a pandas frame over the RAW column values,
    sort columns by name, ``sort_values`` over all columns, then
    stringify (floats rounded to 6).

    The raw ``sort_values`` is the point: a query returning an
    array/map column makes pandas raise ``unhashable type`` here
    exactly as it does in the driver (CORRECTNESS_r03 q101) — the old
    ``str(v)``-first canon masked that crash and let the local gate
    pass a query the driver rejects."""
    import pandas as pd

    scols = sorted(cols)
    df = pd.DataFrame(list(rows), columns=list(cols))[scols]
    if len(df):
        df = df.sort_values(by=scols, kind="mergesort")
    out = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def run_oracle(con, sql):
    """``sql``'s result as an Arrow table; raises
    ``duckdb.InterruptException`` once it has run ``ORACLE_TIMEOUT_S``."""
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).arrow()
    finally:
        timer.cancel()


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    import __spark_entry__ as entrymod
    from phenobert_spark.config import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    def fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return c

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, timeouts = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_rows)} rows, {el:.1f}s)")
            continue
        try:
            con = fresh_con()
            tbl = run_oracle(con, oracles[name])
            duck_cols = tbl.column_names
            duck_types = {f.name: _type_class(f.type) for f in tbl.schema}
            duck_rows = [
                tuple(row[c] for c in duck_cols) for row in tbl.to_pylist()
            ]
            con.close()
        except duckdb.InterruptException:
            timeouts.append(name)
            print(f"TIMEOUT {name}: oracle still running after {ORACLE_TIMEOUT_S}s")
            continue
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(exc)[:300]}")
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            failures.append(name)
            print(f"FAIL {name}: columns {sorted(spark_cols)} != {sorted(duck_cols)}")
            continue
        spark_types = {f.name: _spark_type_class(f.dataType) for f in df.schema.fields}
        type_diffs = {
            c: (spark_types[c], duck_types[c])
            for c in spark_cols
            if spark_types[c] != duck_types[c]
        }
        if type_diffs:
            failures.append(name)
            print(f"FAIL {name}: type mismatch (spark, duckdb): {type_diffs}")
            continue
        if len(spark_rows) != len(duck_rows):
            failures.append(name)
            print(f"FAIL {name}: rows {len(spark_rows)} != {len(duck_rows)}")
            continue
        a = canon(spark_rows, spark_cols)
        b = canon(duck_rows, duck_cols)
        if a != b:
            failures.append(name)
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: value mismatch, e.g. {diff}")
            continue
        print(f"ok   {name}: {len(spark_rows)} rows match ({el:.1f}s)")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
    if timeouts:
        print("TIMEOUTS:", timeouts)
    if failures or timeouts:
        sys.exit(1)
    print("all contract queries match")


if __name__ == "__main__":
    main()
