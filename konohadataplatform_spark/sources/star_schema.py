"""Test-data star schema loader.

The driver materializes a deterministic TPC-H-ish star schema plus
``events``/``documents``/``embeddings`` tables (see TESTDATA.md).
This loader registers them as temp views so the whole §2 operator surface
(reference exposes arbitrary SQL through Kyuubi,
``docs/components/kyuubi.md:61-67``) runs against them via ``spark.sql``.

The test data is a frozen contract, so the loader declares each table's
Spark schema (``SCHEMAS``) instead of letting Spark infer it: a read
with a declared schema launches no footer-inference job.
``tests/test_star_schema_declared.py`` pins every declared type to the
footer-inferred one at each scale factor, so drift in the files fails
loudly there rather than as wrong types here.

Scale note: views are plain parquet scans — Catalyst pushes filters and
prunes columns into the scan, so a 100 TB `lineitem` behind the same view
only reads the columns/row-groups a query touches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
BROADCAST_DIMS = {"region", "nation", "supplier", "part"}


def _struct(*cols) -> StructType:
    return StructType([StructField(name, dtype) for name, dtype in cols])


_INT, _LONG, _DOUBLE, _STR = IntegerType(), LongType(), DoubleType(), StringType()
_TS_NTZ = TimestampNTZType()

# The schema Spark infers from each table's footers (every column
# nullable; the timestamps are un-adjusted parquet timestamp[us]).
SCHEMAS: dict[str, StructType] = {
    "region": _struct(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _struct(("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)),
    "customer": _struct(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _struct(
        ("s_suppkey", _LONG),
        ("s_name", _STR),
        ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE),
    ),
    "part": _struct(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _struct(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _TS_NTZ),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _struct(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", _TS_NTZ),
    ),
    "events": _struct(
        ("event_id", _LONG),
        ("ts", _TS_NTZ),
        ("user_id", _LONG),
        ("event_type", _STR),
        ("value", _DOUBLE),
        ("props", _STR),
    ),
    "documents": _struct(
        ("doc_id", _LONG),
        ("text", _STR),
        ("lang", _STR),
        ("source", _STR),
        ("n_chars", _LONG),
    ),
    "embeddings": _struct(
        ("vec_id", _LONG),
        ("embedding", ArrayType(FloatType())),
        ("label", _INT),
    ),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table with its declared schema, normalizing
    physical-type quirks.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (rejected by
    Spark's vectorized reader) and as un-adjusted ``timestamp[us]`` (read
    as TIMESTAMP_NTZ, which ``unix_micros``/``withWatermark`` reject).
    The normalization is keyed on the declared type and turns either
    into a plain session-TZ TIMESTAMP; the session TZ is pinned UTC
    everywhere, so values match what DuckDB reads.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = SCHEMAS[name]
    if name == "events":
        dtype = schema["ts"].dataType.simpleString()
        if dtype == "bigint":
            # nanos files read as raw nanos-since-epoch only under this
            # legacy conf (runtime-settable, so it works under any
            # caller's session)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(schema).parquet(path)
        if dtype == "bigint":
            # Integer `div`, not `/`: nanos-since-epoch exceeds double's
            # 53-bit mantissa, so float division drifts by ±1 us.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype == "timestamp_ntz":
            # NTZ micros reinterpreted as UTC instants — a no-op on the
            # stored values under the pinned-UTC session.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.schema(schema).parquet(path)


def load_star_schema(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every parquet table under ``sf_dir`` as a DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view named after the table."""
    dfs = load_star_schema(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
