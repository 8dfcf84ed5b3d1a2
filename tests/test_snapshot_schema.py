"""Snapshot schemas kept in catalog metadata.

Every commit records its files' Spark data schema, read from the key
Spark writes into each parquet footer. Reads pass it to
``.schema(...)`` instead of running a footer-inference job. These
tests pin the two halves of that contract:

- on every commit path the recorded schema is the one inference would
  find, and a read with it returns the same rows;
- a read of a recorded snapshot (current, time travel, and a fresh
  ``SessionEngine``'s catalog-view sync) launches no Spark job inside
  ``DataFrameReader.parquet``, while a snapshot without a recorded
  schema still falls back to inference.
"""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from konohadataplatform_spark.catalog import SnapshotCatalog
from konohadataplatform_spark.engine import Engine, SessionEngine
from tests.conftest import parquet_read_jobs


@pytest.fixture()
def catalog(spark, tmp_path):
    return SnapshotCatalog(spark, str(tmp_path / "warehouse"))


def _rows(df) -> list:
    return sorted(map(repr, df.collect()))


def _assert_recorded_matches_inference(spark, snap):
    """The recorded schema equals the data columns inference finds, and
    a read with it has the same schema and rows as an inferring read."""
    assert snap.data_schema is not None, f"{snap.operation}: no recorded schema"
    inferred = spark.read.parquet(snap.path)
    partition_cols = set(snap.partition_by or [])
    assert StructType.fromJson(snap.data_schema) == StructType(
        [f for f in inferred.schema.fields if f.name not in partition_cols]
    ), snap.operation
    declared = spark.read.schema(StructType.fromJson(snap.data_schema)).parquet(
        snap.path
    )
    assert declared.schema == inferred.schema, snap.operation
    assert _rows(declared) == _rows(inferred), snap.operation


def _people(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, score double")


def test_recorded_schema_matches_inference_on_every_commit_path(spark, catalog):
    check = lambda snap: _assert_recorded_matches_inference(spark, snap)  # noqa: E731
    base = [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
    check(catalog.write("t", _people(spark, base)))
    check(catalog.merge("t", _people(spark, [(3, "C", 30.0), (4, "d", 4.0)]), ["id"]))
    check(catalog.upsert_by_keys("t", _people(spark, [(5, "e", 5.0)]), ["id"]))
    check(catalog.delete_by_keys("t", _people(spark, [(1, "a", 1.0)]), ["id"]))
    check(catalog.rename_column("t", "name", "label"))
    check(catalog.drop_column("t", "score"))
    check(catalog.rollback("t", 2))
    bt = catalog.create_branch("t", "dev")
    check(catalog.current_snapshot(bt))
    check(catalog.compact("t", target_files=2))
    check(catalog.publish("t", catalog.stage("t", _people(spark, base))))

    # append_rows: a second generation of files in the same dir
    check(catalog.append_rows("a", _people(spark, base)))
    check(catalog.append_rows("a", _people(spark, [(9, "z", 9.0)])))

    # an empty write still leaves one footer-carrying file
    empty = catalog.write("e", _people(spark, []))
    check(empty)
    assert catalog.read("e").count() == 0


def test_merge_partitioned_date_string_partition(spark, catalog):
    """A partition value that looks like a date is typed `date` by
    partition discovery with or without a recorded schema."""
    rows = [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0), (3, "2024-01-03", 3.0)]
    src = spark.createDataFrame(rows, "id long, day string, v double")
    check = lambda snap: _assert_recorded_matches_inference(spark, snap)  # noqa: E731
    check(catalog.write("p", src, partition_by=["day"]))
    upd = spark.createDataFrame(
        [(2, "2024-01-02", 20.0)], "id long, day string, v double"
    )
    snap = catalog.merge_partitioned("p", upd, ["id"], "day")
    assert "linked=2" in snap.operation
    check(snap)
    out = catalog.read("p")
    assert dict(out.dtypes)["day"] == "date"
    assert {(r.id, r.v) for r in out.collect()} == {(1, 1.0), (2, 20.0), (3, 3.0)}


# ---- no footer-inference job on the read path ---------------------------


def _four_tables(spark, catalog):
    """Catalog tables committed through four different paths."""
    people = _people(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    catalog.write("plain", people)
    catalog.write(
        "parted",
        spark.createDataFrame([(1, "x"), (2, "y")], "id long, part string"),
        partition_by=["part"],
    )
    catalog.write("mor", people)
    catalog.upsert_by_keys("mor", _people(spark, [(3, "c", 3.0)]), ["id"])
    catalog.delete_by_keys("mor", _people(spark, [(1, "a", 1.0)]), ["id"])
    catalog.write("renamed", people)
    catalog.rename_column("renamed", "name", "label")


def test_recorded_reads_launch_no_inference_job(spark, catalog, monkeypatch):
    _four_tables(spark, catalog)
    with parquet_read_jobs(spark, monkeypatch) as jobs:
        frames = [catalog.read(t) for t in ("plain", "parted", "mor", "renamed")]
        frames.append(catalog.read("plain", version=1))  # time travel
        frames.append(catalog.scan("plain", [("id", ">=", 2)]))
        frames.append(catalog.scan("plain", [("id", ">", 99)]))  # no file left
        assert jobs() == 0
    assert {r.id for r in frames[2].collect()} == {2, 3}
    assert frames[3].columns == ["id", "label", "score"]
    assert [r.id for r in frames[5].collect()] == [2]


def test_fresh_session_engine_first_statement_launches_no_inference_job(
    spark, catalog, monkeypatch
):
    _four_tables(spark, catalog)
    base = Engine(spark, catalog)
    base.sql("SELECT 1").collect()  # the base engine's own sync
    with parquet_read_jobs(spark, monkeypatch) as jobs:
        session = SessionEngine(base)
        df = session.sql(
            "SELECT (SELECT count(*) FROM plain) AS a,"
            " (SELECT count(*) FROM parted) AS b,"
            " (SELECT count(*) FROM mor) AS c,"
            " (SELECT count(*) FROM renamed) AS d"
        )
        assert jobs() == 0
    assert tuple(df.first()) == (2, 2, 2, 2)


def _strip_recorded_schema(catalog, name):
    """Rewrite a table's metadata as it was before schemas were
    recorded: the same records without ``data_schema``."""
    tdir = catalog._tdir(name)
    commits = os.path.join(tdir, "commits")
    paths = [os.path.join(tdir, "_current")] + [
        os.path.join(commits, c) for c in os.listdir(commits)
    ]
    for p in paths:
        with open(p) as fh:
            d = json.load(fh)
        d.pop("data_schema")
        with open(p, "w") as fh:
            json.dump(d, fh)
    log = catalog._log_path(name)
    with open(log) as fh:
        records = [json.loads(line) for line in fh]
    with open(log, "w") as fh:
        for d in records:
            d.pop("data_schema")
            fh.write(json.dumps(d) + "\n")


def test_snapshot_without_recorded_schema_falls_back_to_inference(
    spark, catalog, monkeypatch
):
    catalog.write("old", _people(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    expected = _rows(catalog.read("old"))
    _strip_recorded_schema(catalog, "old")
    assert catalog.current_snapshot("old").data_schema is None
    with parquet_read_jobs(spark, monkeypatch) as jobs:
        df = catalog.read("old")
        assert jobs() >= 1
    assert _rows(df) == expected


def test_mixed_schema_snapshot_keeps_merge_inference(spark, catalog, monkeypatch):
    """Files of two schema generations: the read merges every footer."""
    catalog.write(
        "m",
        spark.createDataFrame(
            [(1, datetime.date(2024, 1, 1)), (2, datetime.date(2024, 1, 2))],
            "id long, day date",
        ),
        partition_by=["day"],
    )
    evolved = spark.createDataFrame(
        [(2, datetime.date(2024, 1, 2), "new")], "id long, day date, extra string"
    )
    snap = catalog.merge_partitioned("m", evolved, ["id"], "day")
    assert snap.mixed_schema
    with parquet_read_jobs(spark, monkeypatch) as jobs:
        df = catalog.read("m")
        assert jobs() >= 1
    assert {(r.id, r.extra) for r in df.collect()} == {(1, None), (2, "new")}


def test_empty_partitioned_write_has_no_footer_and_falls_back(spark, catalog):
    """A partitioned write of no rows leaves no data file, so there is
    no footer to record a schema from: reads fall back to inference,
    which fails as it always did."""
    snap = catalog.write(
        "ep",
        spark.createDataFrame([], "id long, part string"),
        partition_by=["part"],
    )
    assert snap.data_schema is None
    with pytest.raises(Exception, match="(?i)infer schema|UNABLE_TO_INFER_SCHEMA"):
        catalog.read("ep").collect()


def test_footers_differing_only_in_nullability_record_one_schema(spark, catalog):
    """append_rows files whose footers differ only in nullability
    describe one read schema, so the snapshot still records it."""
    catalog.append_rows("n", _people(spark, [(1, "a", 1.0)]))
    non_null = spark.range(2, 4).select(
        F.col("id"), F.lit("z").alias("name"), F.lit(0.5).alias("score")
    )
    assert not non_null.schema["name"].nullable
    snap = catalog.append_rows("n", non_null)
    _assert_recorded_matches_inference(spark, snap)
    assert catalog.read("n").count() == 3


def test_row_count_recorded_from_the_same_footer_pass(spark, catalog):
    catalog.write("r", _people(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    assert catalog.current_snapshot("r").row_count == 2
    snap = catalog.upsert_by_keys("r", _people(spark, [(3, "c", 3.0)]), ["id"])
    assert snap.row_count is None  # a pending layer: footers can't count it
    assert catalog.rollback("r", 1).row_count == 2
    assert catalog.rollback("r", 2).row_count is None
