"""Source/sink surface beyond parquet (SURVEY §2.1).

- S7 CSV seed          -> ``read_csv`` (dbt seed analog; also wired into
  Pipeline.seed_csv).
- S2 JDBC bootstrap    -> ``read_jdbc`` (the Debezium initial-snapshot
  analog: ``spark.read.jdbc`` of the source table; no database ships in
  this container, so it is exercised by construction tests only).
- S4 raw-zone archive  -> ``archive_stream`` (the S3-sink analog: append
  micro-batches of raw change events to an immutable landing zone,
  partitioned by arrival date — C6/C7 semantics). The reference uses
  Avro files; the spark-avro datasource jar is not bundled with this
  PySpark build, so when it is absent the archive writes REAL Avro
  Object Container Files via the pure-stdlib codec in ``avro_py``
  (executor-side ``foreachPartition``, spec-compliant OCF framing);
  pass ``fmt="json"`` to opt into the lighter JSON landing instead.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    """S7: header+schema-inferred CSV (dbt seed semantics)."""
    opts = {"header": "true", "inferSchema": "true", **options}
    return spark.read.options(**opts).csv(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Distributed raw-zone Avro read WITHOUT spark-avro: closes the
    archive loop (``archive_stream`` writes OCF via ``avro_py``; this
    reads it back as a DataFrame).

    Shape: the file listing and one header read (schema inference)
    happen on the driver — metadata-sized, like any datasource's
    planning step. Decoding is ``mapInPandas`` over the file list, so
    each executor task streams whole OCF files and record payloads
    never pass through the driver. Hive-style ``k=v`` partition dirs
    surface as string columns, matching the fallback writer's layout.

    Prefers the spark-avro datasource when it is on the classpath
    (native reader, full pushdown); falls back to the stdlib codec."""
    if avro_available(spark):
        return spark.read.format("avro").load(path)

    import json as _json

    import pandas as pd

    from konohadataplatform_spark.sources.avro_py import (
        avro_to_spark_schema,
        hive_partition_values,
        read_ocf,
        read_ocf_schema,
    )
    from pyspark.sql import types as T

    files, part_keys = [], []
    if os.path.isfile(path):
        files = [(path, "{}")]
    else:
        for root, _dirs, names in os.walk(path):
            parts = hive_partition_values(os.path.relpath(root, path))
            for k in parts:
                if k not in part_keys:
                    part_keys.append(k)
            files += [
                (os.path.join(root, n), _json.dumps(parts))
                for n in sorted(names)
                if n.endswith(".avro")
            ]
    if not files:
        raise ValueError(f"no .avro files under {path}")
    schema = avro_to_spark_schema(read_ocf_schema(files[0][0]))
    cols = [f.name for f in schema.fields] + part_keys
    full = T.StructType(
        list(schema.fields)
        + [T.StructField(k, T.StringType(), True) for k in part_keys]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for p, parts_json in zip(pdf["path"], pdf["parts"]):
                parts = _json.loads(parts_json)
                _, recs = read_ocf(p)
                rows += [
                    [{**r, **parts}.get(c) for c in cols] for r in recs
                ]
            yield pd.DataFrame(rows, columns=cols)

    n_tasks = min(len(files), spark.sparkContext.defaultParallelism)
    return (
        spark.createDataFrame(files, "path string, parts string")
        .repartition(n_tasks)
        .mapInPandas(run, full)
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    predicates: list[str] | None = None,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
    **properties,
) -> DataFrame:
    """S2/C1: initial-snapshot bootstrap read of an OLTP table.

    For large source tables, pass partition_column/bounds/num_partitions
    so the snapshot is pulled with parallel range queries (the scalable
    analog of Debezium's table snapshot).
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    for k, v in properties.items():
        reader = reader.option(k, v)
    return reader.load()


def avro_available(spark: SparkSession) -> bool:
    """spark-avro is an external datasource jar; probe for it."""
    try:
        spark.read.format("avro").load("/nonexistent-probe")
        return True  # pragma: no cover
    except Exception as e:  # noqa: BLE001
        msg = str(e)
        return "Failed to find" not in msg and "data source" not in msg.lower()


def archive_stream(
    raw: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str | None = None,
    partition_cols: list[str] | None = None,
):
    """S4 raw-zone sink: append-only archive of the raw change stream,
    partitioned by arrival date (C6). Default format is Avro — via the
    spark-avro datasource when present, else real OCF files from the
    pure-Python codec (``avro_py``) written executor-side per
    micro-batch partition. ``fmt="json"`` selects the JSON landing."""
    fmt = fmt or "avro"
    if fmt == "avro" and not avro_available(raw.sparkSession):
        from konohadataplatform_spark.sources import avro_py

        cols = list(partition_cols or ["_arrival_date"])

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # UTC, matching the datasource path's per-row current_date()
            # under the pinned-UTC session (not the driver's local zone)
            day = datetime.datetime.now(datetime.timezone.utc).date()
            stamped = batch_df
            if "_arrival_date" in cols and "_arrival_date" not in batch_df.columns:
                stamped = batch_df.withColumn("_arrival_date", F.lit(day.isoformat()))
            # Hive-style layout per distinct partition tuple; the combo
            # set is metadata-sized (dates x topics per micro-batch)
            combos = [tuple(r) for r in stamped.select(*cols).distinct().collect()]
            for combo in combos:
                sub = stamped
                for c, v in zip(cols, combo):
                    # null-safe: a NULL partition value must select its
                    # rows (plain == NULL matches nothing and would
                    # silently drop them from the archive)
                    sub = sub.filter(F.col(c).eqNullSafe(F.lit(v)))
                subdir = os.path.join(
                    path,
                    *(
                        f"{c}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
                        for c, v in zip(cols, combo)
                    ),
                    f"batch-{batch_id:06d}",
                )
                avro_py.write_avro_partitions(sub.drop(*cols), subdir, "envelope")

        return (
            raw.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
    stamped = raw.withColumn("_arrival_date", F.current_date())
    return (
        stamped.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*(partition_cols or ["_arrival_date"]))
        .trigger(availableNow=True)
        .start()
    )


def read_duckdb(
    spark: SparkSession,
    db_path: str,
    query: str,
    partition_col: str | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """S9 federated read — the Trino-connector analog: query an
    external DuckDB database from Spark.

    Two modes, chosen by the caller like a Trino catalog config:

    - **Gateway (default)**: one driver-side Arrow fetch. Right for
      dimension-sized federated tables (the reference federates dims
      through Trino the same way — the coordinator streams them).
    - **Partitioned** (``partition_col``): the driver fetches only
      MIN/MAX of the partition column, then each executor opens the
      database READ-ONLY and fetches its own range via ``mapInPandas``
      — rows never funnel through the driver. Requires ``db_path`` on
      shared storage (same contract as every file-based source here).
      Range predicates are pushed into DuckDB, so each task reads only
      its slice.
    """
    import duckdb

    if partition_col is None:
        con = duckdb.connect(db_path, read_only=True)
        try:
            tbl = con.execute(query).arrow()
        finally:
            con.close()
        return spark.createDataFrame(tbl)

    con = duckdb.connect(db_path, read_only=True)
    try:
        lo, hi = con.execute(
            f"SELECT MIN({partition_col}), MAX({partition_col}) FROM ({query}) q"
        ).fetchone()
        empty = con.execute(f"SELECT * FROM ({query}) q LIMIT 0").arrow()
    finally:
        con.close()
    if lo is None:
        return spark.createDataFrame(empty)

    # inclusive integer ranges, last bucket takes the remainder; one
    # extra task fetches NULL-keyed rows (MIN/MAX ignore NULLs and
    # BETWEEN never matches them — they must not be silently dropped)
    lo, hi = int(lo), int(hi)
    step = max(1, (hi - lo + 1) // num_partitions)
    bounds = []
    start = lo
    while start <= hi:
        end = hi if len(bounds) == num_partitions - 1 else min(hi, start + step - 1)
        bounds.append((start, end))
        start = end + 1
    bounds.append((None, None))  # the IS NULL task
    ranges = spark.createDataFrame(bounds, "lo long, hi long").repartition(
        len(bounds)
    )

    import pandas as pd  # noqa: F401  (executors need it in scope)

    def fetch(batches):
        import duckdb as ddb

        for pdf in batches:
            for lo_, hi_ in zip(pdf["lo"], pdf["hi"]):
                pred = (
                    f"{partition_col} IS NULL"
                    if pd.isna(lo_)
                    else f"{partition_col} BETWEEN {int(lo_)} AND {int(hi_)}"
                )
                c = ddb.connect(db_path, read_only=True)
                try:
                    yield c.execute(
                        f"SELECT * FROM ({query}) q WHERE {pred}"
                    ).fetchdf()
                finally:
                    c.close()

    schema = spark.createDataFrame(empty).schema
    return ranges.mapInPandas(fetch, schema)


def register_duckdb_tables(
    spark: SparkSession, db_path: str, tables: list[str], prefix: str = ""
) -> None:
    """Register federated DuckDB tables as temp views so `Engine.sql`
    joins them against catalog/star-schema tables in one statement —
    the reference's Trino-catalog ergonomics."""
    for t in tables:
        read_duckdb(spark, db_path, f"SELECT * FROM {t}").createOrReplaceTempView(
            f"{prefix}{t}"
        )
