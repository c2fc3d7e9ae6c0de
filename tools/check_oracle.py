"""Local mimic of the driver's correctness gate: run every queries() entry in
Spark AND its oracle_sql() in DuckDB at a given sf, compare row count, schema
shape, an order-insensitive value multiset, AND Arrow-level column types
(the driver's value hasher is typed: DuckDB HUGEINT vs Spark BIGINT
hash-mismatches even when Python-level values are identical — see
VERDICT r3 item 1 / the incremental_dirty red row).

Every OK line ends with ``sha1=``: the hash of the Spark side's column
names, Arrow types and sorted rows, so diffing two checkouts' OK lines
shows whether a change kept every query's values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_val(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return tuple(norm_val(x) for x in v)
    return v


def arrow_type_key(t):
    """Canonical comparison key for an Arrow type.

    Collapses representational freedoms that carry no value semantics
    (string vs large_string, list vs large_list, timestamp unit) but keeps
    everything that changes a typed value hash: integer WIDTH and
    signedness (int64 != DuckDB's int128 HUGEINT), decimal vs float,
    float32 vs float64.
    """
    import pyarrow as pa

    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return ("list", arrow_type_key(t.value_type))
    if pa.types.is_timestamp(t):
        return ("timestamp", t.tz)
    if pa.types.is_struct(t):
        return ("struct", tuple((f.name, arrow_type_key(f.type)) for f in t))
    return str(t)


def type_mismatches(spark_schema, duck_schema):
    out = []
    for sf, df_ in zip(spark_schema, duck_schema):
        if arrow_type_key(sf.type) != arrow_type_key(df_.type):
            out.append(f"{sf.name}: spark={sf.type} duckdb={df_.type}")
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stab = sdf.toArrow()
            srows = [
                tuple(norm_val(v) for v in row)
                for row in zip(*(c.to_pylist() for c in stab.columns))
            ] if stab.num_columns else []
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle ({len(srows)} rows)")
            continue
        try:
            otab = con.execute(sql).arrow()
            ocols = otab.column_names
            orows = [
                tuple(norm_val(v) for v in row)
                for row in zip(*(c.to_pylist() for c in otab.columns))
            ] if otab.num_columns else []
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if scols != ocols:
            print(f"FAIL {name}: columns {scols} != {ocols}")
            failures.append(name)
            continue
        tmis = type_mismatches(stab.schema, otab.schema)
        if tmis:
            print(f"FAIL {name}: arrow types differ: {tmis}")
            failures.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} != {len(orows)}")
            failures.append(name)
            continue
        s_sorted = sorted(srows, key=repr)
        o_sorted = sorted(orows, key=repr)
        if s_sorted != o_sorted:
            diff_s = [r for r in s_sorted if r not in set(o_sorted)][:3]
            diff_o = [r for r in o_sorted if r not in set(s_sorted)][:3]
            print(f"FAIL {name}: values differ; spark-only={diff_s} oracle-only={diff_o}")
            failures.append(name)
            continue
        digest = hashlib.sha1(repr((scols, [str(f.type) for f in stab.schema], s_sorted)).encode())
        print(f"OK   {name}: {len(srows)} rows ({dt:.1f}s) sha1={digest.hexdigest()}")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
