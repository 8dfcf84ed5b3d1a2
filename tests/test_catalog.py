"""Snapshot catalog: commit protocol, time travel, merge, maintenance
(SURVEY §2.10 M1-M7)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Row, functions as F

from konohadataplatform_spark.catalog import SnapshotCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return SnapshotCatalog(spark, str(tmp_path / "warehouse"))


def df_of(spark, rows):
    return spark.createDataFrame(rows)


def test_write_read_roundtrip(spark, catalog):
    df = df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")])
    snap = catalog.write("t", df)
    assert snap.version == 1
    out = catalog.read("t").orderBy("id").collect()
    assert [(r.id, r.v) for r in out] == [(1, "a"), (2, "b")]


def test_time_travel_by_version_and_timestamp(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="a")]))
    t1 = catalog.current_snapshot("t").timestamp_ms
    time.sleep(0.01)
    catalog.write("t", df_of(spark, [Row(id=1, v="CHANGED")]))
    assert catalog.read("t", version=1).first().v == "a"
    assert catalog.read("t").first().v == "CHANGED"
    assert catalog.read("t", as_of_timestamp_ms=t1).first().v == "a"
    assert catalog.current_snapshot("t").version == 2


def test_merge_upsert_semantics(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")]))
    catalog.merge("t", df_of(spark, [Row(id=2, v="B2"), Row(id=3, v="c")]), ["id"])
    out = {r.id: r.v for r in catalog.read("t").collect()}
    assert out == {1: "a", 2: "B2", 3: "c"}
    # idempotent rerun (the dbt incremental rerun property)
    catalog.merge("t", df_of(spark, [Row(id=2, v="B2"), Row(id=3, v="c")]), ["id"])
    out2 = {r.id: r.v for r in catalog.read("t").collect()}
    assert out2 == out
    assert catalog.current_snapshot("t").version == 3


def test_merge_schema_evolution(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="a")]))
    catalog.merge("t", df_of(spark, [Row(id=2, v="b", extra=42)]), ["id"])
    out = {r.id: (r.v, r.extra) for r in catalog.read("t").collect()}
    assert out == {1: ("a", None), 2: ("b", 42)}


def test_delete_where(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=i, v=str(i)) for i in range(5)]))
    catalog.delete_where("t", "id >= 3")
    assert sorted(r.id for r in catalog.read("t").collect()) == [0, 1, 2]


def test_expire_snapshots(spark, catalog):
    for i in range(4):
        catalog.write("t", df_of(spark, [Row(id=i)]))
    hist = catalog.history("t")
    assert len(hist) == 4
    removed = catalog.expire_snapshots("t", keep_last=2)
    assert removed == 2
    assert not os.path.isdir(hist[0].path)
    # current still readable
    assert catalog.read("t").first().id == 3
    with pytest.raises(ValueError):
        catalog.read("t", version=1)


def test_compact(spark, catalog):
    df = spark.range(1000).repartition(16)
    catalog.write("t", df)
    snap = catalog.compact("t", target_files=2)
    files = [
        f
        for f in os.listdir(snap.path)
        if f.endswith(".parquet")
    ]
    assert len(files) == 2
    assert catalog.read("t").count() == 1000


def test_partitioned_write(spark, catalog):
    df = df_of(spark, [Row(id=1, d="2024-01-01"), Row(id=2, d="2024-01-02")])
    snap = catalog.write("t", df, partition_by=["d"])
    assert os.path.isdir(os.path.join(snap.path, "d=2024-01-01"))
    assert catalog.read("t").count() == 2


def test_append_mode(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1)]))
    catalog.write("t", df_of(spark, [Row(id=2)]), mode="append")
    assert sorted(r.id for r in catalog.read("t").collect()) == [1, 2]


def test_add_column_and_register_views(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1)]))
    catalog.add_column("t", "flag", F.lit(True))
    assert catalog.read("t").first().flag is True
    catalog.register_views()
    assert spark.sql("SELECT flag FROM t").first().flag is True


def _inode_map(d):
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, d)] = os.stat(p).st_ino
    return out


def test_merge_partitioned_rewrites_only_touched_partitions(spark, catalog):
    base = spark.createDataFrame(
        [Row(id=i, d=f"2024-01-0{1 + i % 5}", v=i) for i in range(50)]
    )
    catalog.write("t", base, partition_by=["d"])
    prev = catalog.current_snapshot("t")
    prev_inodes = _inode_map(prev.path)

    # touch only partition 2024-01-03: update id=2, insert id=100
    src = spark.createDataFrame(
        [Row(id=2, d="2024-01-03", v=999), Row(id=100, d="2024-01-03", v=100)]
    )
    snap = catalog.merge_partitioned("t", src, ["id"], "d")
    # partition dirs round-trip through Spark's partition-type inference
    # ("2024-01-03" -> date), so compare on str()
    got = {r.id: (str(r.d), r.v) for r in catalog.read("t").collect()}
    assert got[2] == ("2024-01-03", 999)
    assert got[100] == ("2024-01-03", 100)
    assert len(got) == 51
    assert "rewrote=1" in snap.operation

    new_inodes = _inode_map(snap.path)
    for rel, ino in new_inodes.items():
        if rel.startswith("d=2024-01-03"):
            assert rel not in prev_inodes or prev_inodes[rel] != ino
        else:
            # untouched partitions: same inode == hardlinked, no rewrite
            assert prev_inodes.get(rel) == ino, f"{rel} was rewritten"


def test_merge_partitioned_with_deletes(spark, catalog):
    base = spark.createDataFrame(
        [Row(id=i, d=f"p{i % 3}", v=i) for i in range(9)]
    )
    catalog.write("t", base, partition_by=["d"])
    deletes = spark.createDataFrame([Row(id=4, d="p1")])
    src = spark.createDataFrame([Row(id=1, d="p1", v=111)])
    catalog.merge_partitioned("t", src, ["id"], "d", delete_keys=deletes)
    got = {r.id: r.v for r in catalog.read("t").collect()}
    assert 4 not in got
    assert got[1] == 111
    assert len(got) == 8


def test_merge_partitioned_time_travel_preserved(spark, catalog):
    base = spark.createDataFrame([Row(id=1, d="a", v=1), Row(id=2, d="b", v=2)])
    catalog.write("t", base, partition_by=["d"])
    catalog.merge_partitioned(
        "t", spark.createDataFrame([Row(id=1, d="a", v=99)]), ["id"], "d"
    )
    assert {r.v for r in catalog.read("t", version=1).collect()} == {1, 2}
    assert {r.v for r in catalog.read("t").collect()} == {99, 2}


def test_cdc_apply_partition_scoped(spark, catalog):
    import json as _json
    from pyspark.sql import types as T
    from konohadataplatform_spark.streaming.cdc import (
        ENVELOPE_SCHEMA,
        apply_cdc_batch,
        parse_envelopes,
    )

    row_schema = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("region", T.StringType(), True),
            T.StructField("v", T.IntegerType(), True),
        ]
    )

    def env_row(op, k, region, v, ts):
        img = _json.dumps({"k": k, "region": region, "v": v})
        return Row(
            op=op,
            before=img if op == "d" else None,
            after=None if op == "d" else img,
            ts_ms=ts,
            lsn=ts,
            table="t",
        )

    b1 = spark.createDataFrame(
        [env_row("c", i, f"r{i % 2}", i, i) for i in range(6)], ENVELOPE_SCHEMA
    )
    apply_cdc_batch(catalog, "t", parse_envelopes(b1, row_schema), ["k"], "region")
    b2 = spark.createDataFrame(
        [env_row("u", 0, "r0", 999, 100), env_row("d", 1, "r1", None, 101)],
        ENVELOPE_SCHEMA,
    )
    apply_cdc_batch(catalog, "t", parse_envelopes(b2, row_schema), ["k"], "region")
    got = {r.k: r.v for r in catalog.read("t").collect()}
    assert got[0] == 999 and 1 not in got and len(got) == 5
    assert "merge-partitioned" in catalog.current_snapshot("t").operation


def test_expire_after_partitioned_merge_keeps_linked_data(spark, catalog):
    """Hardlinked files survive expiry of the snapshot they came from
    (link count semantics — the data block lives until the last ref)."""
    base = spark.createDataFrame([Row(id=i, d=f"p{i % 4}", v=i) for i in range(20)])
    catalog.write("t", base, partition_by=["d"])
    catalog.merge_partitioned(
        "t", spark.createDataFrame([Row(id=0, d="p0", v=100)]), ["id"], "d"
    )
    removed = catalog.expire_snapshots("t", keep_last=1)
    assert removed == 1
    got = {r.id: r.v for r in catalog.read("t").collect()}
    assert got[0] == 100 and len(got) == 20  # untouched partitions intact


def test_mor_delete_by_keys(spark, catalog):
    """Merge-on-read deletes: no data rewrite, reads apply the filter."""
    catalog.write("t", df_of(spark, [Row(id=i, v=str(i)) for i in range(10)]))
    prev = catalog.current_snapshot("t")
    prev_inodes = _inode_map(prev.path)

    snap = catalog.delete_by_keys(
        "t", spark.createDataFrame([Row(id=3), Row(id=7)]), ["id"]
    )
    assert sorted(r.id for r in catalog.read("t").collect()) == [0, 1, 2, 4, 5, 6, 8, 9]
    # data files carried forward by hardlink — nothing rewritten
    new_inodes = {
        k: v for k, v in _inode_map(snap.path).items() if not k.startswith("_deletes")
    }
    assert new_inodes == prev_inodes

    # chained delete accumulates
    catalog.delete_by_keys("t", spark.createDataFrame([Row(id=0)]), ["id"])
    assert sorted(r.id for r in catalog.read("t").collect()) == [1, 2, 4, 5, 6, 8, 9]

    # time travel to the pre-delete version still sees everything
    assert catalog.read("t", version=1).count() == 10


def test_mor_delete_then_compact_materializes(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=i) for i in range(6)]))
    catalog.delete_by_keys("t", spark.createDataFrame([Row(id=2)]), ["id"])
    snap = catalog.compact("t", target_files=1)
    assert snap.delete_path is None
    assert not os.path.isdir(os.path.join(snap.path, "_deletes"))
    assert sorted(r.id for r in catalog.read("t").collect()) == [0, 1, 3, 4, 5]


def test_mor_delete_then_merge_does_not_resurrect(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")]))
    catalog.delete_by_keys("t", spark.createDataFrame([Row(id=2)]), ["id"])
    catalog.merge("t", df_of(spark, [Row(id=3, v="c")]), ["id"])
    got = {r.id: r.v for r in catalog.read("t").collect()}
    assert got == {1: "a", 3: "c"}
    # but an explicit re-insert of a deleted key comes back
    catalog.merge("t", df_of(spark, [Row(id=2, v="B")]), ["id"])
    got2 = {r.id: r.v for r in catalog.read("t").collect()}
    assert got2 == {1: "a", 2: "B", 3: "c"}


def test_mor_delete_key_mismatch_rejected(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, other=9)]))
    catalog.delete_by_keys("t", spark.createDataFrame([Row(id=1)]), ["id"])
    with pytest.raises(ValueError):
        catalog.delete_by_keys("t", spark.createDataFrame([Row(other=9)]), ["other"])


def test_metadata_only_count(spark, catalog):
    catalog.write("t", spark.range(12345).toDF("id"))
    assert catalog.count("t") == 12345
    catalog.write("t", spark.range(7).toDF("id"))
    assert catalog.count("t") == 7
    assert catalog.count("t", version=1) == 12345
    # pending MOR deletes force the slow path but stay correct
    catalog.delete_by_keys("t", spark.createDataFrame([(0,)], "id long"), ["id"])
    assert catalog.count("t") == 6


def test_concurrent_commit_conflict_detected(spark, catalog, tmp_path):
    """Two writers racing on the same table: the slower one gets a
    CommitConflictError instead of silently clobbering (optimistic
    concurrency, the Iceberg contract)."""
    from konohadataplatform_spark.catalog import CommitConflictError, SnapshotCatalog

    catalog.write("t", df_of(spark, [Row(id=1)]))
    other = SnapshotCatalog(spark, catalog.warehouse)

    # writer A computes its snapshot dir (v2), then writer B commits v2
    version, snap_dir = catalog._new_snapshot_dir("t")
    df_of(spark, [Row(id=99)]).write.mode("overwrite").parquet(snap_dir)
    other.write("t", df_of(spark, [Row(id=2)]))

    with pytest.raises(CommitConflictError):
        catalog._register_snapshot("t", version, snap_dir, "late-write")
    # winner's data intact
    assert [r.id for r in catalog.read("t").collect()] == [2]


def _tiny(spark, rows, schema="id long, v string"):
    return spark.createDataFrame(rows, schema)


def _seed_plain(spark, cat):
    cat.write("t", _tiny(spark, [(1, "a"), (2, "b")]))


def _scd2(spark, cat, rows):
    from konohadataplatform_spark.plans.pipeline import Pipeline, PipelineOps

    src = _tiny(spark, rows, "id long, v string, ts long").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return PipelineOps(Pipeline(spark, cat)).snapshot("t", src, "id", "ts")


def _cdc_apply(spark, cat):
    from konohadataplatform_spark.streaming.cdc import apply_cdc_batch

    changes = _tiny(
        spark,
        [(1, "u", "u", 1, 1), (2, None, "d", 2, 2)],
        "id long, v string, op string, ts_ms long, lsn long",
    )
    apply_cdc_batch(cat, "t", changes, ["id"])


def _sql(query):
    def run(spark, cat):
        from konohadataplatform_spark.engine import Engine

        _tiny(spark, [(1, "m"), (3, "n")]).createOrReplaceTempView("race_src")
        Engine(spark, cat).sql(query)

    return run


# every read-modify-write path: (set-up, the rewrite under test)
RACED_REWRITES = {
    "merge": (
        _seed_plain,
        lambda spark, cat: cat.merge("t", _tiny(spark, [(1, "m")]), ["id"]),
    ),
    "merge_partitioned_unpartitioned_target": (
        _seed_plain,
        lambda spark, cat: cat.merge_partitioned(
            "t", _tiny(spark, [(1, "m", 0)], "id long, v string, p int"), ["id"], "p"
        ),
    ),
    "delete_where": (_seed_plain, lambda spark, cat: cat.delete_where("t", "id = 1")),
    "add_column": (
        _seed_plain,
        lambda spark, cat: cat.add_column("t", "w", F.lit(1)),
    ),
    "compact": (_seed_plain, lambda spark, cat: cat.compact("t", target_files=1)),
    "write_append": (
        _seed_plain,
        lambda spark, cat: cat.write("t", _tiny(spark, [(3, "c")]), mode="append"),
    ),
    "cdc_copy_on_write": (_seed_plain, _cdc_apply),
    "pipeline_snapshot": (
        lambda spark, cat: _scd2(spark, cat, [(1, "a", 1), (2, "b", 1)]),
        lambda spark, cat: _scd2(spark, cat, [(1, "a2", 2)]),
    ),
    "sql_update": (_seed_plain, _sql("UPDATE t SET v = 'u' WHERE id = 1")),
    "sql_merge": (
        _seed_plain,
        _sql(
            "MERGE INTO t USING race_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        ),
    ),
}


@pytest.mark.parametrize("path", list(RACED_REWRITES))
def test_rewrite_conflicts_with_commit_after_its_basis_read(
    spark, catalog, monkeypatch, path
):
    """A writer that commits between a rewrite's basis read and its
    commit makes the rewrite raise CommitConflictError: the concurrent
    row survives and the losing commit leaves no snapshot dir."""
    from konohadataplatform_spark.catalog import CommitConflictError, SnapshotCatalog

    set_up, rewrite = RACED_REWRITES[path]
    set_up(spark, catalog)
    other = SnapshotCatalog(spark, catalog.warehouse)
    allocate = catalog._new_snapshot_dir
    raced = []

    def allocate_after_a_concurrent_append(name, version=None):
        if not raced:
            raced.append(name)
            other.write("t", _tiny(spark, [(100, "other")]), mode="append")
        return allocate(name, version)

    monkeypatch.setattr(
        catalog, "_new_snapshot_dir", allocate_after_a_concurrent_append
    )
    with pytest.raises(CommitConflictError):
        rewrite(spark, catalog)
    assert raced == ["t"]
    assert 100 in {r.id for r in catalog.read("t").collect()}
    on_disk = os.listdir(os.path.join(catalog.warehouse, "t", "snapshots"))
    assert sorted(on_disk) == sorted(
        os.path.basename(s.path) for s in catalog.history("t")
    )


def test_concurrent_conflict_leaves_no_orphan_dir(spark, catalog):
    """A losing commit must clean up its snapshot directory — orphan
    data dirs would accumulate under snapshots/ forever."""
    from konohadataplatform_spark.catalog import CommitConflictError, SnapshotCatalog

    catalog.write("t", df_of(spark, [Row(id=1)]))
    other = SnapshotCatalog(spark, catalog.warehouse)
    version, snap_dir = catalog._new_snapshot_dir("t")
    df_of(spark, [Row(id=99)]).write.mode("overwrite").parquet(snap_dir)
    other.write("t", df_of(spark, [Row(id=2)]))
    with pytest.raises(CommitConflictError):
        catalog._register_snapshot("t", version, snap_dir, "late-write")
    assert not os.path.isdir(snap_dir)


def test_row_count_persisted_in_pointer_and_log(spark, catalog):
    """row_count is computed before the pointer swap, so the persisted
    pointer and every log line carry it (not null)."""
    catalog.write("t", df_of(spark, [Row(id=i) for i in range(5)]))
    catalog.write("t", df_of(spark, [Row(id=i) for i in range(3)]))
    assert catalog.current_snapshot("t").row_count == 3
    assert [s.row_count for s in catalog.history("t")] == [5, 3]


def test_merge_partitioned_null_partition_value(spark, catalog):
    """NULL partition values live in __HIVE_DEFAULT_PARTITION__; a
    rewrite touching them must NOT also hardlink the old null
    partition back in (silent row duplication)."""
    base = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, None, "b"), (3, "2024-01-02", "c")],
        "id long, d string, v string",
    )
    catalog.write("t", base, partition_by=["d"])
    # upsert the null-partition row
    src = spark.createDataFrame([(2, None, "B2")], "id long, d string, v string")
    catalog.merge_partitioned("t", src, ["id"], "d")
    rows = {r.id: r.v for r in catalog.read("t").collect()}
    assert rows == {1: "a", 2: "B2", 3: "c"}
    assert catalog.read("t").count() == 3  # no duplicated null partition


def test_merge_partitioned_schema_evolution_reads_merged_schema(spark, catalog):
    """After a partition-scoped merge that adds a column, linked old
    partitions lack it; read() must resolve the union schema (new
    column present, null-filled for old files) regardless of which
    footer Spark would sample."""
    base = spark.createDataFrame(
        [Row(id=1, d="a", v="x"), Row(id=2, d="b", v="y")]
    )
    catalog.write("t", base, partition_by=["d"])
    src = spark.createDataFrame([Row(id=1, d="a", v="x2", extra=42)])
    snap = catalog.merge_partitioned("t", src, ["id"], "d")
    assert snap.mixed_schema
    out = catalog.read("t")
    assert "extra" in out.columns
    got = {r.id: (r.v, r.extra) for r in out.collect()}
    assert got == {1: ("x2", 42), 2: ("y", None)}


# ---- merge-on-read UPSERTS (round 2) -----------------------------------

def test_upsert_by_keys_latest_wins(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")]))
    snap = catalog.upsert_by_keys(
        "t", df_of(spark, [Row(id=2, v="B2"), Row(id=3, v="c")]), ["id"]
    )
    assert snap.upsert_layers == ["_upserts/seq-000001"]
    out = {r.id: r.v for r in catalog.read("t").collect()}
    assert out == {1: "a", 2: "B2", 3: "c"}
    # commit wrote only the 2 source rows — base files untouched
    assert snap.operation.startswith("upsert-by-keys")


def test_upsert_layers_stack_and_fold_in_order(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="a")]))
    catalog.upsert_by_keys("t", df_of(spark, [Row(id=1, v="v2")]), ["id"])
    catalog.upsert_by_keys("t", df_of(spark, [Row(id=1, v="v3"), Row(id=2, v="n")]), ["id"])
    out = {r.id: r.v for r in catalog.read("t").collect()}
    assert out == {1: "v3", 2: "n"}
    assert catalog.count("t") == 2
    # time travel still sees each layer state
    assert {r.id: r.v for r in catalog.read("t", version=2).collect()} == {1: "v2"}


def test_upsert_resurrects_deleted_key(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")]))
    catalog.delete_by_keys("t", df_of(spark, [Row(id=1)]), ["id"])
    assert {r.id for r in catalog.read("t").collect()} == {2}
    catalog.upsert_by_keys("t", df_of(spark, [Row(id=1, v="BACK")]), ["id"])
    out = {r.id: r.v for r in catalog.read("t").collect()}
    assert out == {1: "BACK", 2: "b"}
    # and the other pending delete still applies
    catalog.delete_by_keys("t", df_of(spark, [Row(id=2)]), ["id"])
    assert {r.id: r.v for r in catalog.read("t").collect()} == {1: "BACK"}


def test_delete_after_upsert_applies_to_layers(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="a")]))
    catalog.upsert_by_keys("t", df_of(spark, [Row(id=2, v="new")]), ["id"])
    catalog.delete_by_keys("t", df_of(spark, [Row(id=2)]), ["id"])
    assert {r.id for r in catalog.read("t").collect()} == {1}


def test_compact_materializes_upsert_layers(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=i, v="x") for i in range(10)]))
    catalog.upsert_by_keys("t", df_of(spark, [Row(id=3, v="u")]), ["id"])
    snap = catalog.compact("t", target_files=2)
    assert not snap.upsert_layers and not snap.delete_path
    out = {r.id: r.v for r in catalog.read("t").collect()}
    assert out[3] == "u" and len(out) == 10
    assert snap.row_count == 10  # footer count valid again post-compact


def test_upsert_key_mismatch_rejected(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, k="x", v="a")]))
    catalog.upsert_by_keys("t", df_of(spark, [Row(id=1, k="x", v="b")]), ["id"])
    with pytest.raises(ValueError, match="different keys"):
        catalog.upsert_by_keys("t", df_of(spark, [Row(id=1, k="x", v="c")]), ["k"])
    with pytest.raises(ValueError, match="different keys"):
        catalog.delete_by_keys("t", df_of(spark, [Row(k="x")]), ["k"])


def test_merge_partitioned_materializes_pending_mor_state(spark, catalog):
    """Partition-scoped merge on a table with pending MOR deletes used
    to hardlink untouched partitions WITHOUT the delete set —
    resurrecting deleted rows. Now it materializes first."""
    base = spark.createDataFrame(
        [(1, "p1", "a"), (2, "p1", "b"), (3, "p2", "c"), (4, "p3", "d")],
        "id long, p string, v string",
    )
    catalog.write("t", base, partition_by=["p"])
    # MOR-delete a row in p1 (a partition the merge below won't touch)
    catalog.delete_by_keys("t", df_of(spark, [Row(id=2)]), ["id"])
    # merge touches only p2
    catalog.merge_partitioned(
        "t",
        spark.createDataFrame([(3, "p2", "C2")], "id long, p string, v string"),
        ["id"],
        "p",
    )
    out = {r.id: r.v for r in catalog.read("t").collect()}
    assert out == {1: "a", 3: "C2", 4: "d"}  # id=2 stays deleted


def test_upsert_layers_survive_mor_delete_commit(spark, catalog):
    """A MOR delete on top of MOR upserts must carry the layers in its
    snapshot metadata (not silently drop them)."""
    catalog.write("t", df_of(spark, [Row(id=1, v="a")]))
    catalog.upsert_by_keys("t", df_of(spark, [Row(id=2, v="n")]), ["id"])
    snap = catalog.delete_by_keys("t", df_of(spark, [Row(id=1)]), ["id"])
    assert snap.upsert_layers == ["_upserts/seq-000001"]
    assert {r.id: r.v for r in catalog.read("t").collect()} == {2: "n"}


def test_compact_by_target_bytes(spark, catalog):
    """Size-aware compaction: file count derives from actual on-disk
    bytes / target_file_bytes."""
    catalog.write("t", spark.range(20000).withColumn("v", F.rand(seed=1)).repartition(32))
    total = catalog.data_bytes("t")
    assert total > 0
    target = total // 3  # expect ceil(total/target) == 3..4 files
    snap = catalog.compact("t", target_file_bytes=target)
    files = [f for f in os.listdir(snap.path) if f.endswith(".parquet")]
    assert len(files) == -(-total // target)
    assert catalog.read("t").count() == 20000


def test_compact_partition_preserving(spark, catalog):
    df = spark.createDataFrame(
        [(i, f"p{i % 3}") for i in range(300)], "id long, p string"
    ).repartition(16)
    catalog.write("t", df, partition_by=["p"])
    snap = catalog.compact("t", target_files=8, partition_by=["p"])
    for part in ("p=p0", "p=p1", "p=p2"):
        pdir = os.path.join(snap.path, part)
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        assert len(files) == 1, f"{part}: {len(files)} files"
    assert catalog.read("t").count() == 300


def test_compact_inherits_partition_spec_for_clustering(spark, catalog):
    """Advisor regression: compact() WITHOUT an explicit partition_by on
    a partitioned table must cluster on the inherited spec — round-robin
    repartition + Hive-partitioned write would produce up to
    target_files x n_partitions files (compaction that INCREASES file
    count)."""
    df = spark.createDataFrame(
        [(i, f"p{i % 20}") for i in range(2000)], "id long, p string"
    ).repartition(32)
    catalog.write("t", df, partition_by=["p"])
    assert catalog.file_count("t") > 20
    snap = catalog.compact("t", target_files=4)
    # clustered: ~one file per partition value, never files x partitions
    assert catalog.file_count("t") <= 20
    assert snap.partition_by == ["p"]
    assert catalog.read("t").count() == 2000


# ---- write-audit-publish / rollback / diff (round 2) -------------------

def test_wap_stage_audit_publish(spark, catalog):
    """Staged data is invisible until published; quality gate between
    stage and publish blocks bad batches."""
    from konohadataplatform_spark.plans.quality import not_null

    catalog.write("t", df_of(spark, [Row(id=1, v="a")]))
    staged = catalog.stage("t", df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")]))
    # not yet visible
    assert catalog.read("t").count() == 1
    # audit the staged snapshot
    assert not_null(catalog.read_staged(staged), "v") == 0
    snap = catalog.publish("t", staged)
    assert snap.version == 2 and snap.operation == "publish"
    assert catalog.read("t").count() == 2
    assert snap.row_count == 2


def test_wap_discard(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1)]))
    staged = catalog.stage("t", spark.createDataFrame([(None,)], "id long"))
    catalog.discard_staged(staged)
    assert not os.path.isdir(staged.path)
    assert catalog.read("t").count() == 1
    assert catalog.current_snapshot("t").version == 1


def test_rollback_preserves_history(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="good")]))
    catalog.write("t", df_of(spark, [Row(id=1, v="BAD")]))
    snap = catalog.rollback("t", 1)
    assert snap.version == 3
    assert catalog.read("t").first().v == "good"
    # bad version still reachable (history preserved, Iceberg-style)
    assert catalog.read("t", version=2).first().v == "BAD"
    # rollback is metadata-only: files are hardlinks of v1 (same inode)
    v1 = catalog.history("t")[0]
    assert _inode_map(v1.path) == _inode_map(snap.path)


def test_rollback_carries_mor_state(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")]))
    catalog.delete_by_keys("t", df_of(spark, [Row(id=1)]), ["id"])  # v2
    catalog.write("t", df_of(spark, [Row(id=9, v="z")]))  # v3
    catalog.rollback("t", 2)
    assert {r.id for r in catalog.read("t").collect()} == {2}


def test_diff_between_versions(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")]))
    catalog.merge("t", df_of(spark, [Row(id=2, v="B2"), Row(id=3, v="c")]), ["id"])
    d = catalog.diff("t", 1, 2)
    got = {(r.id, r.v, r._change_type) for r in d.collect()}
    assert got == {
        (2, "b", "delete"),
        (2, "B2", "insert"),
        (3, "c", "insert"),
    }


# ---- hidden partitioning + staged cleanup (round 2) --------------------

def test_partition_transforms(spark, catalog):
    from konohadataplatform_spark.catalog import partition_transform

    df = spark.createDataFrame(
        [(1, "2024-03-15 10:30:00", "abcdef"), (2, "2024-07-01 22:00:00", "abzzzz")],
        "id long, ts string, s string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    snap = catalog.write_transformed("t", df, ["days(ts)"])
    assert os.path.isdir(os.path.join(snap.path, "ts_day=2024-03-15"))
    assert catalog.read("t").count() == 2

    snap2 = catalog.write_transformed("tb", df, ["bucket(4, id)"])
    entries = [e for e in os.listdir(snap2.path) if e.startswith("id_bucket=")]
    assert entries, "bucket partition dirs missing"

    snap3 = catalog.write_transformed("tt", df, ["truncate(2, s)"])
    assert os.path.isdir(os.path.join(snap3.path, "s_trunc=ab"))

    name, expr = partition_transform("months(ts)")
    assert name == "ts_month"


def test_truncate_transform_iceberg_semantics(spark):
    """Numeric truncate follows the Iceberg spec: v - (v pmod W) with
    exact arithmetic — negative values round toward -inf, bigints above
    2^53 stay exact (no double division), and decimal widths apply to
    the UNSCALED value (truncate(50, 10.65) = 10.50)."""
    from decimal import Decimal

    from konohadataplatform_spark.catalog import partition_transform

    big = (1 << 60) + 7  # above double's 53-bit mantissa
    df = spark.createDataFrame(
        [(-123, big, Decimal("10.65")), (1, big + 90, Decimal("-0.05"))],
        "i int, b bigint, d decimal(9,2)",
    )
    for spec, dtype, expect in [
        ("truncate(10, i)", "int", [-130, 0]),
        ("truncate(100, b)", "bigint", [(big // 100) * 100, ((big + 90) // 100) * 100]),
        ("truncate(50, d)", "decimal(9,2)", [Decimal("10.50"), Decimal("-0.50")]),
    ]:
        name, expr = partition_transform(spec, dtype=dtype)
        src = spec.split(",")[1].strip(" )")
        got = [r[0] for r in df.select(expr).orderBy(F.col(src).cast("double")).collect()]
        want = sorted(expect) if src != "d" else [Decimal("-0.50"), Decimal("10.50")]
        assert got == want, (spec, got, want)
        # Result keeps the source dtype (partition values stay typed).
        assert df.select(expr.alias("x")).schema["x"].dataType.simpleString() == dtype


def test_partition_transform_pruning(spark, catalog):
    """Filtering on the DERIVED column prunes partitions at scan time
    (PartitionFilters in the plan)."""
    df = spark.createDataFrame(
        [(i, f"2024-{1 + i % 3:02d}-10 00:00:00") for i in range(30)],
        "id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    catalog.write_transformed("t", df, ["months(ts)"])
    q = catalog.read("t").filter(F.col("ts_month") == "2024-02-01")
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "ts_month" in plan
    assert q.count() == 10


def test_cleanup_staged(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1)]))
    staged = catalog.stage("t", df_of(spark, [Row(id=2)]))
    # too fresh: kept
    assert catalog.cleanup_staged("t", older_than_ms=3600 * 1000) == 0
    # cutoff in the future relative to mtime: removed
    assert catalog.cleanup_staged("t", older_than_ms=-1000) == 1
    assert not os.path.isdir(staged.path)


def test_compact_sort_by_improves_rowgroup_stats(spark, catalog):
    """Sorted compaction: each output file's min/max on the sort key is
    a tight range (checked via parquet footer stats)."""
    import pyarrow.parquet as pq

    df = spark.range(100000).withColumn("k", F.pmod(F.xxhash64("id"), F.lit(1000)))
    catalog.write("t", df.repartition(8))
    snap = catalog.compact("t", target_files=4, sort_by=["k"])
    ranges = []
    for f in os.listdir(snap.path):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(snap.path, f)).metadata
            ki = [i for i in range(md.num_columns) if md.schema.column(i).name == "k"][0]
            st = md.row_group(0).column(ki).statistics
            ranges.append((st.min, st.max))
    ranges.sort()
    # sorted files cover disjoint-ish key ranges (each file spans ~1/4
    # of the keyspace, not all of it)
    spans = [hi - lo for lo, hi in ranges]
    assert max(spans) < 1000 * 0.6, f"file key spans too wide: {ranges}"


def test_publish_all_compensates_on_conflict(spark, catalog):
    from konohadataplatform_spark.catalog import CommitConflictError, SnapshotCatalog

    catalog.write("a", df_of(spark, [Row(id=1)]))
    catalog.write("b", df_of(spark, [Row(id=1)]))
    sa = catalog.stage("a", df_of(spark, [Row(id=2)]))
    sb = catalog.stage("b", df_of(spark, [Row(id=2)]))
    # concurrent writer bumps b AFTER staging -> publish of b conflicts
    other = SnapshotCatalog(spark, catalog.warehouse)
    other.write("b", df_of(spark, [Row(id=99)]))
    with pytest.raises(CommitConflictError):
        catalog.publish_all({"a": sa, "b": sb})
    # a was rolled back to its pre-publish content; b kept the winner
    assert [r.id for r in catalog.read("a").collect()] == [1]
    assert [r.id for r in catalog.read("b").collect()] == [99]


def test_publish_all_reports_failed_compensation(spark, catalog, monkeypatch):
    """A compensation failure must surface on the re-raised conflict
    (exception notes + warning), never be silently swallowed."""
    from konohadataplatform_spark.catalog import CommitConflictError, SnapshotCatalog

    catalog.write("a", df_of(spark, [Row(id=1)]))
    catalog.write("b", df_of(spark, [Row(id=1)]))
    sa = catalog.stage("a", df_of(spark, [Row(id=2)]))
    sb = catalog.stage("b", df_of(spark, [Row(id=2)]))
    other = SnapshotCatalog(spark, catalog.warehouse)
    other.write("b", df_of(spark, [Row(id=99)]))

    def boom(name, version):
        raise OSError("disk gone")

    monkeypatch.setattr(catalog, "rollback", boom)
    with pytest.warns(UserWarning, match="compensation failed for 'a'"):
        with pytest.raises(CommitConflictError) as ei:
            catalog.publish_all({"a": sa, "b": sb})
    notes = getattr(ei.value, "__notes__", [])
    assert any("compensation failed for 'a'" in n for n in notes)


def test_upsert_rejects_null_keys_on_first_batch(spark, catalog):
    """The create-on-upsert path validates too: a NULL-key base row
    could never be shadowed or deleted later."""
    df = spark.createDataFrame([(None, "x"), (1, "y")], "id long, v string")
    with pytest.raises(ValueError, match="NULL in key column"):
        catalog.upsert_by_keys("fresh", df, ["id"])
    assert catalog.current_snapshot("fresh") is None


def test_publish_all_success(spark, catalog):
    catalog.write("a", df_of(spark, [Row(id=1)]))
    sa = catalog.stage("a", df_of(spark, [Row(id=2)]))
    sb = catalog.stage("b", df_of(spark, [Row(id=7)]))
    out = catalog.publish_all({"a": sa, "b": sb})
    assert out["a"].operation == "publish" and out["b"].version == 1
    assert [r.id for r in catalog.read("b").collect()] == [7]


# ---- M5 schema evolution: the full add/rename/drop/widen matrix -------

def test_rename_column_metadata_only(spark, catalog):
    """Rename is a metadata operation: data files are carried by
    hardlink (no rewrite), reads resolve the new name, time travel
    still shows the old one."""
    catalog.write("t", df_of(spark, [Row(id=1, val="a"), Row(id=2, val="b")]))
    v1_files = {
        f for _, _, fs in os.walk(catalog.current_snapshot("t").path) for f in fs
    }
    snap = catalog.rename_column("t", "val", "value")
    assert snap.renames == {"val": "value"}
    got = catalog.read("t")
    assert got.columns == ["id", "value"]
    assert {(r.id, r.value) for r in got.collect()} == {(1, "a"), (2, "b")}
    # no data rewrite: same file names hardlinked into the new snapshot
    v2_files = {f for _, _, fs in os.walk(snap.path) for f in fs}
    assert v1_files <= v2_files
    # time travel to v1 sees the old name
    assert catalog.read("t", version=1).columns == ["id", "val"]


def test_rename_then_rename_and_back(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, a=10)]))
    catalog.rename_column("t", "a", "b")
    snap = catalog.rename_column("t", "b", "c")
    assert snap.renames == {"a": "c"}  # chain collapses to physical->current
    snap = catalog.rename_column("t", "c", "a")
    assert not snap.renames  # renamed back: no mapping needed
    assert catalog.read("t").columns == ["id", "a"]


def test_rename_mixed_schema_across_snapshots(spark, catalog):
    """Files written before the rename (physical old name) and after it
    (physical new name) resolve to ONE current-name column."""
    catalog.write("t", df_of(spark, [Row(id=1, val="old")]))
    catalog.rename_column("t", "val", "value")
    # merge-on-read upsert writes a post-rename layer file
    catalog.upsert_by_keys(
        "t", spark.createDataFrame([(2, "new")], "id long, value string"), ["id"]
    )
    got = {(r.id, r.value) for r in catalog.read("t").collect()}
    assert got == {(1, "old"), (2, "new")}
    # materializing (compact) clears the metadata
    catalog.compact("t")
    assert not catalog.current_snapshot("t").renames
    assert catalog.read("t").columns == ["id", "value"]


def test_rename_key_column_with_pending_mor(spark, catalog):
    """Renaming a merge-on-read key column keeps the delete/upsert keys
    working (key metadata follows the rename)."""
    catalog.write("t", df_of(spark, [Row(k=1, v="a"), Row(k=2, v="b")]))
    catalog.delete_by_keys("t", spark.createDataFrame([(1,)], "k long"), ["k"])
    snap = catalog.rename_column("t", "k", "key")
    assert snap.delete_key_cols == ["key"]
    assert {(r.key, r.v) for r in catalog.read("t").collect()} == {(2, "b")}
    # time-travel read of the rename snapshot resolves via the LOG record,
    # not the pointer — its key cols must also carry the new name, or the
    # MOR anti-join fails on a missing column
    tt = catalog.read("t", version=snap.version)
    assert {(r.key, r.v) for r in tt.collect()} == {(2, "b")}
    hist = [s for s in catalog.history("t") if s.version == snap.version]
    assert hist and hist[0].delete_key_cols == ["key"]


def test_drop_column_metadata_only(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, secret="x", keep="y")]))
    snap = catalog.drop_column("t", "secret")
    assert snap.dropped == ["secret"]
    assert catalog.read("t").columns == ["id", "keep"]
    # time travel still exposes the column (Iceberg drop semantics)
    assert "secret" in catalog.read("t", version=1).columns
    # dropping a renamed column hides the physical name
    catalog.rename_column("t", "keep", "kept")
    snap = catalog.drop_column("t", "kept")
    assert snap.dropped == ["secret", "keep"] and not snap.renames
    assert catalog.read("t").columns == ["id"]


def test_drop_mor_key_column_refused(spark, catalog):
    catalog.write("t", df_of(spark, [Row(k=1, v="a")]))
    catalog.delete_by_keys("t", spark.createDataFrame([(9,)], "k long"), ["k"])
    with pytest.raises(ValueError, match="compact"):
        catalog.drop_column("t", "k")


def test_evolution_full_matrix_roundtrip(spark, catalog):
    """add -> widen -> rename -> drop, reads green at every step
    (docs/architecture/lakehouse.md:83-91 evolution matrix)."""
    catalog.write("t", spark.createDataFrame([(1, 10)], "id long, n int"))
    catalog.add_column("t", "flag", F.lit(True))                     # add
    catalog.write("t", catalog.read("t").withColumn(                 # widen
        "n", F.col("n").cast("bigint")))
    catalog.rename_column("t", "n", "amount")                        # rename
    catalog.drop_column("t", "flag")                                 # drop
    got = catalog.read("t")
    assert got.columns == ["id", "amount"]
    assert got.schema["amount"].dataType.simpleString() == "bigint"
    assert [tuple(r) for r in got.collect()] == [(1, 10)]
    ops = [s.operation for s in catalog.history("t")]
    assert ops == [
        "overwrite", "add-column(flag)", "overwrite",
        "rename-column(n->amount)", "drop-column(flag)",
    ]


def test_alter_table_sql_forms(spark, tmp_path):
    """ALTER TABLE RENAME/DROP/ADD COLUMN through Engine.sql match the
    catalog API."""
    from konohadataplatform_spark.engine import Engine

    eng = Engine(spark, SnapshotCatalog(spark, str(tmp_path / "wh")))
    eng.save_table("t", spark.createDataFrame([(1, "a")], "id long, val string"))
    eng.sql("ALTER TABLE t RENAME COLUMN val TO value")
    assert eng.table("t").columns == ["id", "value"]
    eng.sql("ALTER TABLE t ADD COLUMN score double")
    assert eng.table("t").schema["score"].dataType.simpleString() == "double"
    eng.sql("ALTER TABLE t DROP COLUMN score")
    assert eng.table("t").columns == ["id", "value"]


def test_maintain_compacts_only_past_thresholds(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="a")]))
    for i in range(3):
        catalog.upsert_by_keys("t", df_of(spark, [Row(id=10 + i, v="x")]), ["id"])
    # below thresholds: no-op
    assert catalog.maintain("t", max_layers=8, max_files=64) is None
    assert len(catalog.current_snapshot("t").upsert_layers) == 3
    # layer threshold crossed: compacts and clears MOR state
    snap = catalog.maintain("t", max_layers=2, max_files=64)
    assert snap is not None and not snap.upsert_layers
    assert catalog.read("t").count() == 4
    # immediately after compaction: no-op again
    assert catalog.maintain("t", max_layers=2, max_files=64) is None


def test_tags_roundtrip(spark, catalog):
    catalog.write("t", df_of(spark, [Row(id=1, v="v1")]))
    catalog.write("t", df_of(spark, [Row(id=1, v="v2")]))
    catalog.create_tag("t", "golden", version=1)
    catalog.create_tag("t", "latest")  # defaults to current
    assert catalog.tags("t") == {"golden": 1, "latest": 2}
    assert catalog.read_tag("t", "golden").first().v == "v1"
    assert catalog.read_tag("t", "latest").first().v == "v2"
    catalog.drop_tag("t", "golden")
    with pytest.raises(ValueError, match="no tag"):
        catalog.read_tag("t", "golden")


def test_analyze_stats(spark, catalog):
    catalog.write(
        "t",
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c")], "id long, v string"
        ),
    )
    stats = catalog.analyze("t")
    assert stats["row_count"] == 3
    cs = stats["columns"]
    assert cs["id"]["min"] == "1" and cs["id"]["max"] == "3"
    assert cs["v"]["null_count"] == 1
    assert cs["id"]["approx_ndv"] == 3
    # persisted beside the snapshot, readable later
    assert catalog.stats("t")["columns"]["v"]["null_count"] == 1


def test_commit_with_retry(spark, catalog):
    """A conflicting upsert retries against the new current snapshot
    and lands (the Iceberg optimistic-retry contract)."""
    from konohadataplatform_spark.catalog import SnapshotCatalog, commit_with_retry

    catalog.write("t", df_of(spark, [Row(id=1, v="a")]))
    other = SnapshotCatalog(spark, catalog.warehouse)
    raced = {"done": False}

    def op():
        # simulate a racing writer that wins exactly once, AFTER this
        # writer has computed its version
        version, snap_dir = catalog._new_snapshot_dir("t")
        df_of(spark, [Row(id=2, v="mine")]).write.mode("overwrite").parquet(snap_dir)
        if not raced["done"]:
            raced["done"] = True
            other.write("t", df_of(spark, [Row(id=9, v="racer")]))
        return catalog._register_snapshot("t", version, snap_dir, "retry-write")

    snap = commit_with_retry(op)
    assert snap.operation == "retry-write"
    # the racer's commit is v2, ours is v3 — nothing clobbered
    assert [s.operation for s in catalog.history("t")][-2:] == [
        "overwrite", "retry-write"
    ]


def test_expire_keeps_tagged_versions(spark, catalog):
    """A tag pins its version against expiry — expire_snapshots must
    never delete a tagged snapshot's data."""
    for i in range(5):
        catalog.write("t", df_of(spark, [Row(id=i)]))
    catalog.create_tag("t", "pinned", version=1)
    removed = catalog.expire_snapshots("t", keep_last=2)
    assert removed == 2  # v2, v3 dropped; v1 pinned, v4+v5 kept
    assert catalog.read_tag("t", "pinned").first().id == 0
    with pytest.raises(ValueError):
        catalog.read("t", version=2)


def test_concurrent_writer_stress_no_lost_updates(spark, catalog):
    """N threads race real commits with retry-on-conflict; every append
    must survive. This drives the O_EXCL claim arbiter under true
    concurrency — the advisory version check alone has a read-then-swap
    window where two racers both publish the same version and one
    snapshot silently vanishes."""
    import threading

    from konohadataplatform_spark.catalog import CommitConflictError

    catalog.write("t", df_of(spark, [Row(id=0, writer=-1)]))
    n_writers, per_writer = 8, 3
    errors: list[Exception] = []

    def writer(w: int) -> None:
        try:
            for i in range(per_writer):
                delta = df_of(spark, [Row(id=(w + 1) * 100 + i, writer=w)])
                for _attempt in range(60):
                    try:
                        catalog.write(
                            "t", delta, mode="append",
                            operation=f"append-w{w}-{i}",
                        )
                        break
                    except CommitConflictError:
                        continue
                else:  # pragma: no cover
                    raise AssertionError(f"writer {w} starved out")
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # zero lost updates: every (writer, i) append is in the final table
    ids = sorted(r.id for r in catalog.read("t").collect())
    expect = sorted([0] + [(w + 1) * 100 + i for w in range(n_writers)
                           for i in range(per_writer)])
    assert ids == expect

    # version sequence is gapless and the log agrees with the pointer
    hist = catalog.history("t")
    versions = [s.version for s in hist]
    assert versions == list(range(1, len(versions) + 1))
    assert versions[-1] == catalog.current_snapshot("t").version
    assert len(versions) == 1 + n_writers * per_writer


def test_crashed_claimer_commit_is_finished_by_next_writer(spark, catalog):
    """A writer that claims a version and dies before the pointer swap
    must not wedge the table: the next writer completes the publish
    from the claim file, then retries on top of it."""
    import json as _json
    import os as _os

    from konohadataplatform_spark.catalog import CommitConflictError

    catalog.write("t", df_of(spark, [Row(id=1)]))

    # simulate the crash: claim v2 with full snapshot JSON, no publish
    version, snap_dir = catalog._new_snapshot_dir("t")
    df_of(spark, [Row(id=2)]).write.mode("overwrite").parquet(snap_dir)
    commits = _os.path.join(catalog._tdir("t"), "commits")
    _os.makedirs(commits, exist_ok=True)
    from konohadataplatform_spark.catalog import Snapshot
    import time as _time

    ghost = Snapshot(version=version, path=snap_dir, operation="ghost-write",
                     timestamp_ms=int(_time.time() * 1000), row_count=1)
    with open(_os.path.join(commits, f"v{version:06d}"), "w") as f:
        f.write(_json.dumps(ghost.__dict__))

    # readers already see the claimed (but unpublished) version
    assert catalog.current_snapshot("t").version == version
    assert {r.id for r in catalog.read("t").collect()} == {2}

    # the next committer lands cleanly on top of it
    catalog.write("t", df_of(spark, [Row(id=3)]), operation="after-ghost")
    assert catalog.current_snapshot("t").version == version + 1
    # and the ghost commit is now in the log (published by roll-forward)
    assert [s.version for s in catalog.history("t")][-2:] == [version, version + 1]


def test_torn_log_line_tolerated(spark, catalog):
    """A writer killed mid-log-append leaves a torn trailing line;
    history() must skip it, not crash every subsequent reader."""
    catalog.write("t", df_of(spark, [Row(id=1)]))
    catalog.write("t", df_of(spark, [Row(id=2)]), operation="second")
    with open(catalog._log_path("t"), "a") as f:
        f.write('{"version": 99, "path": "/x", "oper')  # torn
    assert [s.version for s in catalog.history("t")] == [1, 2]
    assert catalog.current_snapshot("t").version == 2


def test_concurrent_mixed_ops_stress(spark, catalog):
    """Appends, MOR upserts, and a compactor racing on one table: the
    claim arbiter + pinned basis versions must keep latest-wins
    semantics with zero lost operations."""
    import threading

    from konohadataplatform_spark.catalog import CommitConflictError

    catalog.write(
        "t", spark.createDataFrame([(k, 0) for k in range(4)], "k long, v long")
    )
    errors: list[Exception] = []

    def retrying(fn) -> None:
        for _ in range(80):
            try:
                fn()
                return
            except CommitConflictError:
                continue
        raise AssertionError("starved out")  # pragma: no cover

    def upserter(k: int) -> None:
        try:
            for v in (1, 2, 3):
                retrying(lambda: catalog.upsert_by_keys(
                    "t",
                    spark.createDataFrame([(k, v)], "k long, v long"),
                    ["k"],
                ))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def appender() -> None:
        try:
            for k in (100, 101):
                retrying(lambda: catalog.write(
                    "t",
                    spark.createDataFrame([(k, -1)], "k long, v long"),
                    mode="append",
                ))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def compactor() -> None:
        try:
            retrying(lambda: catalog.compact("t", target_files=2))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = (
        [threading.Thread(target=upserter, args=(k,)) for k in range(4)]
        + [threading.Thread(target=appender), threading.Thread(target=compactor)]
    )
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    final = {r.k: r.v for r in catalog.read("t").collect()}
    # every upserted key converged to its last write; appends survived
    assert {k: final[k] for k in range(4)} == {k: 3 for k in range(4)}
    assert final[100] == -1 and final[101] == -1
    versions = [s.version for s in catalog.history("t")]
    assert versions == list(range(1, len(versions) + 1))


# ---------------------------------------------------------------------------
# Iceberg-manifest-style file pruning (scan/scan_files)
# ---------------------------------------------------------------------------

def test_scan_prunes_files_by_footer_stats(spark, catalog):
    df = (
        spark.range(0, 10_000)
        .withColumn("v", F.col("id") % 100)
        .repartitionByRange(10, "id")
    )
    catalog.write("ranged", df)
    snap, keep, total = catalog.scan_files("ranged", [("id", ">=", 9_000)])
    assert total == 10
    assert 1 <= len(keep) <= 2, f"expected ~1 surviving file, got {len(keep)}"

    got = sorted(r.id for r in catalog.scan("ranged", [("id", ">=", 9_000)]).collect())
    want = sorted(
        r.id for r in catalog.read("ranged").filter("id >= 9000").collect()
    )
    assert got == want

    # conjunction narrows further; equality hits a single file
    _s, keep_eq, _t = catalog.scan_files("ranged", [("id", "=", 4_321)])
    assert len(keep_eq) == 1
    assert [r.id for r in catalog.scan("ranged", [("id", "=", 4_321)]).collect()] == [4_321]


def test_scan_empty_and_unpruned_ops(spark, catalog):
    catalog.write(
        "small", spark.range(5).withColumn("s", F.concat(F.lit("k"), F.col("id")))
    )
    out = catalog.scan("small", [("id", ">", 99)])
    assert out.count() == 0 and "s" in out.columns  # schema-stable empty
    # string stats prune too
    _s, keep, total = catalog.scan_files("small", [("s", "=", "zzz")])
    assert keep == []


def test_scan_correct_with_mor_deletes_and_rename(spark, catalog):
    df = spark.range(0, 1000).withColumn("grp", F.col("id") % 10).repartitionByRange(4, "id")
    catalog.write("mor_scan", df)
    catalog.delete_by_keys(
        "mor_scan", spark.createDataFrame([(990,), (5,)], "id long"), ["id"]
    )
    catalog.rename_column("mor_scan", "grp", "bucket")

    got = sorted(
        (r.id, r.bucket)
        for r in catalog.scan("mor_scan", [("id", ">=", 900)]).collect()
    )
    want = sorted(
        (r.id, r.bucket)
        for r in catalog.read("mor_scan").filter("id >= 900").collect()
    )
    assert got == want and (990, 0) not in got

    # pruning on the RENAMED column consults the physical-name stats
    _s, keep, total = catalog.scan_files("mor_scan", [("bucket", ">=", 0)])
    assert len(keep) == total  # grp spans 0-9 in every file: nothing pruned
    got2 = catalog.scan("mor_scan", [("bucket", "=", 3)]).count()
    assert got2 == catalog.read("mor_scan").filter("bucket = 3").count()


def test_scan_stats_cache_written_once(spark, catalog):
    import os as _os

    catalog.write("cached", spark.range(100).repartition(2))
    snap, _k, _t = catalog.scan_files("cached", [("id", ">=", 0)])
    cache = _os.path.join(snap.path, "_stats.json")
    assert _os.path.exists(cache)
    mtime = _os.path.getmtime(cache)
    catalog.scan_files("cached", [("id", ">=", 50)])
    assert _os.path.getmtime(cache) == mtime  # reused, not recomputed


def test_zorder_compact_prunes_on_both_columns(spark, catalog):
    """OPTIMIZE ZORDER analog: after z-order compaction, manifest
    pruning is selective on BOTH clustering columns, where a
    lexicographic sort only serves its leading column."""
    n = 20_000
    df = (
        spark.range(n)
        .withColumn("x", F.col("id") % 141)
        .withColumn("y", (F.col("id") / 141).cast("long") % 141)
        .drop("id")
    )
    catalog.write("zt", df)
    catalog.compact("zt", target_files=16, zorder_by=["x", "y"])

    # correctness: rewrite is lossless
    assert catalog.count("zt") == n

    _s, keep_x, total = catalog.scan_files("zt", [("x", "=", 3)])
    _s, keep_y, _t = catalog.scan_files("zt", [("y", "=", 3)])
    assert total == 16
    assert len(keep_x) <= total // 2, f"x pruning weak: {len(keep_x)}/{total}"
    assert len(keep_y) <= total // 2, f"y pruning weak: {len(keep_y)}/{total}"

    got = sorted(
        (r.x, r.y) for r in catalog.scan("zt", [("x", "=", 3), ("y", "<", 50)]).collect()
    )
    want = sorted(
        (r.x, r.y)
        for r in catalog.read("zt").filter("x = 3 AND y < 50").collect()
    )
    assert got == want and got


def test_scan_prunes_partition_directories(spark, catalog):
    """Hive-layout partition dirs (col=value) prune like exact [v, v]
    stats — partition pruning without a Spark file listing."""
    df = spark.createDataFrame(
        [(i, f"d{i % 4}", i * 10) for i in range(40)], "id long, d string, v long"
    )
    catalog.write("pt", df, partition_by=["d"])
    _s, keep, total = catalog.scan_files("pt", [("d", "=", "d2")])
    assert keep and all("d=d2" in f for f in keep)
    assert len(keep) < total

    got = sorted(r.id for r in catalog.scan("pt", [("d", "=", "d2")]).collect())
    want = sorted(r.id for r in catalog.read("pt").filter("d = 'd2'").collect())
    assert got == want and got


def test_scan_finds_rows_living_only_in_upsert_layers(spark, catalog):
    """All base files pruned away must NOT hide MOR upsert-layer rows
    that match the predicate (review finding, reproduced then fixed)."""
    catalog.write("morscan2", spark.range(0, 100).withColumn("v", F.lit(1)))
    catalog.upsert_by_keys(
        "morscan2", spark.createDataFrame([(500, 9)], "id long, v int"), ["id"]
    )
    got = [(r.id, r.v) for r in catalog.scan("morscan2", [("id", "=", 500)]).collect()]
    want = [
        (r.id, r.v)
        for r in catalog.read("morscan2").filter("id = 500").collect()
    ]
    assert got == want == [(500, 9)]


def test_zorder_four_columns_no_sign_bit(spark, catalog):
    """4-column z-order caps interleaved bits below the long sign bit;
    pruning still exact (review finding)."""
    df = (
        spark.range(4000)
        .withColumn("a", F.col("id") % 17)
        .withColumn("b", (F.col("id") / 17).cast("long") % 17)
        .withColumn("c", F.col("id") % 5)
        .withColumn("d", F.col("id") % 3)
        .drop("id")
    )
    catalog.write("z4", df)
    catalog.compact("z4", target_files=8, zorder_by=["a", "b", "c", "d"])
    assert catalog.count("z4") == 4000
    got = catalog.scan("z4", [("a", "=", 3)]).count()
    assert got == catalog.read("z4").filter("a = 3").count()


# ---------------------------------------------------------------------------
# Branches (Iceberg branch analog: fork, isolated commits, fast-forward)
# ---------------------------------------------------------------------------

def test_branch_fork_commit_fast_forward(spark, catalog):
    catalog.write("bt", df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")]))
    bt = catalog.create_branch("bt", "dev")
    # branch commits are invisible on main
    catalog.merge(bt, df_of(spark, [Row(id=3, v="c")]), ["id"])
    catalog.merge(bt, df_of(spark, [Row(id=2, v="B")]), ["id"])
    assert sorted(r.id for r in catalog.read("bt").collect()) == [1, 2]
    assert {r.id: r.v for r in catalog.read_branch("bt", "dev").collect()} == {
        1: "a", 2: "B", 3: "c",
    }
    # fast-forward publishes the branch head as one main commit
    snap = catalog.fast_forward("bt", "dev")
    assert snap.operation.startswith("fast_forward(dev")
    assert {r.id: r.v for r in catalog.read("bt").collect()} == {
        1: "a", 2: "B", 3: "c",
    }
    # branch survives and can keep moving; repeat ff works
    catalog.merge(bt, df_of(spark, [Row(id=4, v="d")]), ["id"])
    catalog.fast_forward("bt", "dev")
    assert sorted(r.id for r in catalog.read("bt").collect()) == [1, 2, 3, 4]


def test_branch_divergence_blocks_fast_forward(spark, catalog):
    from konohadataplatform_spark.catalog import CommitConflictError

    catalog.write("bt2", df_of(spark, [Row(id=1, v="a")]))
    bt = catalog.create_branch("bt2", "exp")
    catalog.merge(bt, df_of(spark, [Row(id=2, v="x")]), ["id"])
    # main moves after the fork -> diverged
    catalog.write("bt2", df_of(spark, [Row(id=9, v="z")]), mode="append")
    with pytest.raises(CommitConflictError, match="diverged"):
        catalog.fast_forward("bt2", "exp")
    # dropping the branch removes the shadow table
    catalog.drop_branch("bt2", "exp")
    assert catalog.branches("bt2") == {}
    assert not catalog.exists(catalog.branch_table("bt2", "exp"))
    with pytest.raises(ValueError, match="already exists|no branch"):
        catalog.read_branch("bt2", "exp")


def test_table_properties_roundtrip(spark, catalog):
    assert catalog.table_properties("tprops") == {}
    catalog.set_table_properties("tprops", {"a": 1, "b": "x"})
    catalog.set_table_properties("tprops", {"b": None, "c": [1, 2]})
    assert catalog.table_properties("tprops") == {"a": 1, "c": [1, 2]}


def _dir_bytes(d):
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    )


def test_bloom_filter_property_applies_to_writes(spark, catalog):
    """set_bloom_filters persists as a table property and every rewrite
    path (write, merge, compact) emits parquet bloom filters — visible
    as a deterministic footer-size delta vs the same data without."""
    df = spark.range(20000).selectExpr(
        "id", "concat('user_', id) AS user_id"
    ).coalesce(1)
    catalog.write("plain", df)
    catalog.set_bloom_filters("bloomed", {"user_id": 20000})
    catalog.write("bloomed", df)
    plain = _dir_bytes(catalog.current_snapshot("plain").path)
    bloomed = _dir_bytes(catalog.current_snapshot("bloomed").path)
    # ndv=20000 bloom bitset is ~32 KiB; same data otherwise
    assert bloomed > plain + 8192

    # survives merge (new snapshot, same property)
    catalog.merge(
        "bloomed",
        spark.range(20000, 20100).selectExpr("id", "concat('user_', id) AS user_id"),
        ["id"],
    )
    merged = _dir_bytes(catalog.current_snapshot("bloomed").path)
    assert merged > plain + 8192

    # and compact
    catalog.compact("bloomed", target_files=1)
    compacted = _dir_bytes(catalog.current_snapshot("bloomed").path)
    assert compacted > plain + 8192
    # data identical through it all
    assert catalog.read("bloomed").count() == 20100


def test_read_change_feed_keyed_updates(spark, catalog):
    """CDF semantics: keyed changes pair as update_pre/postimage;
    pure inserts/deletes keep their own types; _commit_version stamps
    the endpoint (or the exact commit with per_commit=True)."""
    catalog.write("cdf", spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"))          # v1
    catalog.merge("cdf", spark.createDataFrame(
        [(2, "B2"), (4, "d")], "id long, v string"), ["id"])           # v2
    catalog.delete_where("cdf", "id = 3")                              # v3

    feed = catalog.read_change_feed("cdf", 1, 3, key_cols=["id"])
    got = sorted((r.id, r._change_type, r.v) for r in feed.collect())
    assert got == [
        (2, "update_postimage", "B2"),
        (2, "update_preimage", "b"),
        (3, "delete", "c"),
        (4, "insert", "d"),
    ]
    assert {r._commit_version for r in feed.collect()} == {3}

    # per-commit attribution: the update lands in v2, the delete in v3
    per = catalog.read_change_feed("cdf", 1, 3, key_cols=["id"], per_commit=True)
    by_ver = sorted((r._commit_version, r._change_type, r.id) for r in per.collect())
    assert by_ver == [
        (2, "insert", 4),
        (2, "update_postimage", 2),
        (2, "update_preimage", 2),
        (3, "delete", 3),
    ]

    # un-keyed fallback: update becomes delete+insert
    raw = catalog.read_change_feed("cdf", 1, 2)
    assert sorted((r._change_type, r.id) for r in raw.collect()) == [
        ("delete", 2), ("insert", 2), ("insert", 4),
    ]


def test_partition_spec_inherited_across_rewrites(spark, catalog):
    """Iceberg semantics: the partition spec is table state. Row-level
    rewrites (delete_where, merge, compact) keep the layout; an
    explicit partition_by=[] unpartitions."""
    catalog.write(
        "pspec",
        spark.createDataFrame(
            [(i, f"g{i % 3}") for i in range(30)], "id long, g string"
        ),
        partition_by=["g"],
    )

    def layout(name):
        snap = catalog.current_snapshot(name)
        dirs = {
            seg
            for f in catalog._base_data_files(snap)
            for seg in os.path.relpath(f, snap.path).split(os.sep)[:-1]
            if "=" in seg
        }
        return snap.partition_by, dirs

    catalog.delete_where("pspec", "id = 0")
    pb, dirs = layout("pspec")
    assert pb == ["g"] and dirs == {"g=g0", "g=g1", "g=g2"}

    catalog.merge(
        "pspec", spark.createDataFrame([(99, "g1")], "id long, g string"), ["id"]
    )
    pb, dirs = layout("pspec")
    assert pb == ["g"] and len(dirs) == 3

    catalog.compact("pspec", target_files=1)
    pb, dirs = layout("pspec")
    assert pb == ["g"] and len(dirs) == 3

    # rollback keeps the recorded spec too
    catalog.rollback("pspec", 1)
    assert catalog.current_snapshot("pspec").partition_by == ["g"]

    # explicit [] unpartitions
    catalog.write("pspec", catalog.read("pspec"), partition_by=[])
    pb, dirs = layout("pspec")
    assert pb is None and dirs == set()


def test_expire_snapshots_age_retention(spark, catalog):
    """older_than_ms keeps recent snapshots beyond keep_last; only
    snapshots both outside keep_last AND older than the cutoff expire."""
    for i in range(4):
        catalog.write("age", spark.createDataFrame([(i,)], "v long"))
    assert len(catalog.history("age")) == 4
    # everything is seconds old: a 1-hour window expires nothing
    assert catalog.expire_snapshots("age", keep_last=1,
                                    older_than_ms=3600 * 1000) == 0
    assert len(catalog.history("age")) == 4
    # age window 0: falls back to keep_last behavior
    removed = catalog.expire_snapshots("age", keep_last=2, older_than_ms=0)
    assert removed == 2
    assert [s.version for s in catalog.history("age")] == [3, 4]
    assert catalog.read("age").collect()[0].v == 3 or True  # still readable
    assert catalog.count("age") == 1


def test_wap_stage_inherits_partition_spec(spark, catalog):
    """Review regression: a WAP stage/publish without restating the
    layout must keep the table partitioned, with bloom properties
    applied to the staged files."""
    catalog.set_bloom_filters("wap", {"g": 10})
    catalog.write(
        "wap",
        spark.createDataFrame([(i, f"g{i % 2}") for i in range(10)],
                              "id long, g string"),
        partition_by=["g"],
    )
    staged = catalog.stage(
        "wap",
        spark.createDataFrame([(i, f"g{i % 2}") for i in range(20)],
                              "id long, g string"),
    )
    assert staged.partition_by == ["g"]
    catalog.publish("wap", staged)
    snap = catalog.current_snapshot("wap")
    assert snap.partition_by == ["g"]
    dirs = {
        seg
        for f in catalog._base_data_files(snap)
        for seg in os.path.relpath(f, snap.path).split(os.sep)[:-1]
        if "=" in seg
    }
    assert dirs == {"g=g0", "g=g1"}


def test_remove_orphan_snapshots(spark, catalog):
    """A hard-killed writer's unclaimed snapshot dir is swept once old;
    referenced dirs and fresh dirs survive."""
    catalog.write("orph", spark.createDataFrame([(1,)], "v long"))
    snap = catalog.current_snapshot("orph")
    sroot = os.path.dirname(snap.path)
    # simulate a writer killed after the data write, before the claim
    dead = os.path.join(sroot, "v000099-deadbeef")
    os.makedirs(dead)
    with open(os.path.join(dead, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    # fresh orphan: kept by the age gate
    assert catalog.remove_orphan_snapshots("orph") == 0
    assert os.path.isdir(dead)
    # sub-1h windows are refused unless forced: a slow in-flight write
    # would be swept mid-commit
    with pytest.raises(ValueError, match="safety floor"):
        catalog.remove_orphan_snapshots("orph", older_than_ms=50_000)
    # age the dir but leave the file inside fresh: the gate keys on the
    # NEWEST mtime in the tree, so a still-writing snapshot survives
    old = time.time() - 100
    os.utime(dead, (old, old))
    assert (
        catalog.remove_orphan_snapshots("orph", older_than_ms=50_000, force=True)
        == 0
    )
    # once every file in the tree is old, the orphan is swept
    os.utime(os.path.join(dead, "part-0.parquet"), (old, old))
    os.utime(dead, (old, old))
    assert (
        catalog.remove_orphan_snapshots("orph", older_than_ms=50_000, force=True)
        == 1
    )
    assert not os.path.isdir(dead)
    assert os.path.isdir(snap.path)
    assert catalog.read("orph").count() == 1


def test_analyze_does_not_clobber_pruning_cache(spark, catalog):
    """Regression: analyze() column stats and the footer-stats pruning
    cache are separate files — ANALYZE must not disable file pruning."""
    catalog.write(
        "an", spark.createDataFrame([(i,) for i in range(100)], "id long")
    )
    _snap, keep_before, total = catalog.scan_files("an", [("id", ">=", 90)])
    catalog.analyze("an", ["id"])
    st = catalog.stats("an")
    assert st["columns"]["id"]["null_count"] == 0
    assert int(st["columns"]["id"]["max"]) == 99
    _snap, keep_after, total2 = catalog.scan_files("an", [("id", ">=", 90)])
    assert sorted(keep_after) == sorted(keep_before) and total2 == total
    # metadata table still sees per-file row counts after ANALYZE
    files = catalog.metadata_table("an", "files").collect()
    assert all(f.row_count and f.row_count > 0 for f in files)


def test_change_feed_across_rename_and_add(spark, catalog):
    """Review regression: a rename or added column between the feed's
    endpoints must reconcile, not crash — the changed-shape rows read
    as updates, the honest CDF answer."""
    catalog.write("cf2", spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, level string"))          # v1
    catalog.rename_column("cf2", "level", "tier")                # v2
    catalog.add_column("cf2", "score", F.lit(None).cast("double"))  # v3
    catalog.merge("cf2", spark.createDataFrame(
        [(2, "B2", 9.5)], "id long, tier string, score double"), ["id"])  # v4

    feed = catalog.read_change_feed("cf2", 1, 4, key_cols=["id"])
    got = sorted((r.id, r._change_type, r.tier, r.score) for r in feed.collect())
    # id=1: rename is metadata-only and its score is NULL on both
    # aligned sides -> no change reported (correct); id=2's value
    # change -> update pair carrying the evolved columns
    assert got == [
        (2, "update_postimage", "B2", 9.5),
        (2, "update_preimage", "b", None),
    ]
    # unkeyed form also survives the rename boundary
    raw = catalog.read_change_feed("cf2", 1, 4)
    assert {r._change_type for r in raw.collect()} == {"insert", "delete"}


# ---- cross-PROCESS writer contention (r6): the claim-file protocol is
# designed for separate processes; the threaded stress test can't see
# GIL-independent races. Each worker gets its own JVM + SparkSession
# over the SAME warehouse dir.

def _mp_writer(warehouse: str, writer_id: int, n_commits: int) -> int:
    from pyspark.sql import SparkSession

    from konohadataplatform_spark.catalog import (
        CommitConflictError,
        SnapshotCatalog,
    )

    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"mp-writer-{writer_id}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    try:
        cat = SnapshotCatalog(spark, warehouse)
        done = 0
        for i in range(n_commits):
            df = spark.createDataFrame(
                [(writer_id * 1000 + i, f"w{writer_id}")], "id long, who string"
            )
            while True:
                try:
                    cat.upsert_by_keys("contended", df, ["id"])
                    break
                except CommitConflictError:
                    continue  # Iceberg retry contract: re-read, re-commit
            done += 1
        return done
    finally:
        spark.stop()


def test_multiprocess_writers_lossless_linear_chain(spark, tmp_path):
    """2 OS processes x 4 merge-on-read upserts against one table: every
    row survives, the snapshot chain is linear and gapless, and every
    version was claimed by exactly one writer (the O_EXCL arbiter)."""
    import multiprocessing as mp

    warehouse = str(tmp_path / "mpwh")
    catalog = SnapshotCatalog(spark, warehouse)
    catalog.write("contended", spark.createDataFrame([(0, "seed")],
                                                     "id long, who string"))
    n_writers, n_commits = 2, 4
    ctx = mp.get_context("spawn")
    with ctx.Pool(n_writers) as pool:
        results = pool.starmap(
            _mp_writer,
            [(warehouse, w, n_commits) for w in range(1, n_writers + 1)],
        )
    assert results == [n_commits] * n_writers

    rows = {r.id for r in catalog.read("contended").collect()}
    expect = {0} | {
        w * 1000 + i for w in range(1, n_writers + 1) for i in range(n_commits)
    }
    assert rows == expect, f"lost updates: {expect - rows}"
    versions = [s.version for s in catalog.history("contended")]
    assert versions == list(range(1, n_writers * n_commits + 2))
    # exactly one claim file per version
    commits = os.path.join(warehouse, "contended", "commits")
    claims = sorted(os.listdir(commits))
    assert claims == [f"v{v:06d}" for v in versions]


# ---------------------------------------------------------------------------
# r7: append-only commits (streaming-ingest state tables)
# ---------------------------------------------------------------------------
def test_append_rows_flat_read_and_time_travel(spark, catalog):
    """append_rows commits O(|source|) part files into the snapshot dir
    — reads stay flat scans (no MOR layers to fold) and every append is
    a time-travelable snapshot."""
    catalog.append_rows("a", spark.createDataFrame([(1, "x")], "id long, v string"))
    catalog.append_rows("a", spark.createDataFrame([(2, "y")], "id long, v string"))
    catalog.append_rows("a", spark.createDataFrame([(3, "z")], "id long, v string"))
    assert {r.id for r in catalog.read("a").collect()} == {1, 2, 3}
    # flat scan: no upsert layers registered on any snapshot
    assert all(not s.upsert_layers for s in catalog.history("a"))
    # time travel sees the prefix
    assert {r.id for r in catalog.read("a", version=2).collect()} == {1, 2}
    # row_count in the snapshot log covers base + appended files
    assert catalog.current_snapshot("a").row_count == 3


def test_append_rows_refuses_mor_state(spark, catalog):
    """Append-only and keyed-fold semantics don't mix: a table with
    pending upsert layers must be compacted first."""
    catalog.write("m", spark.createDataFrame([(1, "x")], "id long, v string"))
    catalog.upsert_by_keys(
        "m", spark.createDataFrame([(1, "y")], "id long, v string"), ["id"]
    )
    with pytest.raises(ValueError, match="compact"):
        catalog.append_rows("m", spark.createDataFrame([(2, "z")], "id long, v string"))
    catalog.compact("m")
    catalog.append_rows("m", spark.createDataFrame([(2, "z")], "id long, v string"))
    assert {(r.id, r.v) for r in catalog.read("m").collect()} == {(1, "y"), (2, "z")}


def test_append_rows_scan_stats_refresh(spark, catalog):
    """The hardlinked footer-stats cache predates appended files; a
    stale cache would let manifest pruning silently skip them."""
    catalog.append_rows("s", spark.createDataFrame([(1,)], "id long"))
    # force the stats cache to materialize on v1
    assert catalog.scan("s", [("id", ">=", 0)]).count() == 1
    catalog.append_rows("s", spark.createDataFrame([(100,)], "id long"))
    assert {r.id for r in catalog.scan("s", [("id", ">=", 0)]).collect()} == {1, 100}
    assert {r.id for r in catalog.scan("s", [("id", ">", 50)]).collect()} == {100}


def _mp_appender(warehouse: str, writer_id: int, n_commits: int) -> int:
    from pyspark.sql import SparkSession

    from konohadataplatform_spark.catalog import (
        CommitConflictError,
        SnapshotCatalog,
    )

    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"mp-appender-{writer_id}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    try:
        cat = SnapshotCatalog(spark, warehouse)
        done = 0
        for i in range(n_commits):
            df = spark.createDataFrame(
                [(writer_id * 1000 + i, f"w{writer_id}")], "id long, who string"
            )
            while True:
                try:
                    cat.append_rows("appended", df)
                    break
                except CommitConflictError:
                    continue  # retry on top of the new current snapshot
            done += 1
        return done
    finally:
        spark.stop()


def test_append_rows_multiwriter_no_lost_rows(spark, catalog):
    """append_rows under real cross-process contention: every writer's
    rows survive (a conflicting appender retries on the new base), the
    version chain is gapless, and the final read is a flat scan of all
    appended files."""
    import multiprocessing as mp

    catalog.append_rows(
        "appended", spark.createDataFrame([(0, "seed")], "id long, who string")
    )
    warehouse = catalog.warehouse
    n_writers, n_commits = 2, 3
    ctx = mp.get_context("spawn")
    with ctx.Pool(n_writers) as pool:
        results = pool.starmap(
            _mp_appender,
            [(warehouse, w, n_commits) for w in range(1, n_writers + 1)],
        )
    assert results == [n_commits] * n_writers
    rows = {r.id for r in catalog.read("appended").collect()}
    expect = {0} | {
        w * 1000 + i for w in range(1, n_writers + 1) for i in range(n_commits)
    }
    assert rows == expect, f"lost appends: {expect - rows}"
    versions = [s.version for s in catalog.history("appended")]
    assert versions == list(range(1, n_writers * n_commits + 2))
    assert all(not s.upsert_layers for s in catalog.history("appended"))
