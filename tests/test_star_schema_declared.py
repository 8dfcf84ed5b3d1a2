"""The star-schema loader's declared schemas against the files.

``sources/star_schema.py`` reads every test-data table with a declared
``StructType`` instead of inferring it from the footers (no inference
job per read). The test data is a frozen contract; this guard makes any
drift in it fail loudly, naming the table and column, at every scale
factor that is present.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from konohadataplatform_spark.engine import Engine, SessionEngine
from konohadataplatform_spark.sources.star_schema import SCHEMAS, TABLES, load_table
from tests.conftest import SF_DIR, parquet_read_jobs

TESTDATA_ROOT = os.path.dirname(SF_DIR)


def schema_drift(spark, sf_dir: str) -> list[str]:
    """One line per difference between a declared schema and the
    schema Spark infers from the table's footers."""
    problems = []
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            problems.append(f"{name}: {path} is missing")
            continue
        inferred = {f.name: f for f in spark.read.parquet(path).schema.fields}
        declared = {f.name: f for f in SCHEMAS[name].fields}
        for col in declared.keys() - inferred.keys():
            problems.append(f"{name}.{col}: declared but not in the footers")
        for col in inferred.keys() - declared.keys():
            found = inferred[col].dataType.simpleString()
            problems.append(f"{name}.{col}: in the footers ({found}) but not declared")
        for col in declared.keys() & inferred.keys():
            if declared[col] != inferred[col]:
                problems.append(
                    f"{name}.{col}: declared {declared[col].dataType.simpleString()}"
                    f" (nullable={declared[col].nullable}), footers"
                    f" {inferred[col].dataType.simpleString()}"
                    f" (nullable={inferred[col].nullable})"
                )
        if list(declared) != list(inferred) and declared.keys() == inferred.keys():
            problems.append(
                f"{name}: column order {list(inferred)}, declared {list(declared)}"
            )
    return problems


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_footers(spark, sf):
    sf_dir = os.path.join(TESTDATA_ROOT, sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    problems = schema_drift(spark, sf_dir)
    assert not problems, f"star-schema drift at {sf}:\n" + "\n".join(problems)


def test_drift_is_reported_by_table_and_column(spark, tmp_path):
    """A table whose files changed a column type is named, with the
    column and both types."""
    for name in TABLES:
        os.symlink(
            os.path.join(SF_DIR, f"{name}.parquet"), tmp_path / f"{name}.parquet"
        )
    region = tmp_path / "region.parquet"
    table = pq.read_table(region)
    region.unlink()
    table = table.set_column(
        0, "r_regionkey", table.column("r_regionkey").cast(pa.int64())
    )
    pq.write_table(table, str(region))
    problems = schema_drift(spark, str(tmp_path))
    assert problems == [
        "region.r_regionkey: declared int (nullable=True),"
        " footers bigint (nullable=True)"
    ]


def test_star_schema_reads_launch_no_inference_job(spark, monkeypatch):
    base = Engine(spark)
    base.register_star_schema(SF_DIR)
    with parquet_read_jobs(spark, monkeypatch) as jobs:
        frames = [load_table(spark, SF_DIR, name) for name in TABLES]
        SessionEngine(base)  # replays the star-schema registration
        assert jobs() == 0
    events = frames[TABLES.index("events")]
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert frames[0].count() == 5
