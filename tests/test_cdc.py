"""CDC apply engine tests — replays the reference's manual end-to-end
test (``infrastructure/apps/kafka/README.md:99-110``: update a customer,
insert a product, delete an order) as scripted Debezium-style envelopes,
plus ordering/idempotency properties and a real Structured Streaming run.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from konohadataplatform_spark.catalog import SnapshotCatalog
from konohadataplatform_spark.streaming.cdc import (
    ENVELOPE_SCHEMA,
    CdcPipeline,
    apply_cdc_batch,
    latest_per_key,
    parse_envelopes,
)

CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.StringType(), False),
        T.StructField("company_name", T.StringType(), True),
        T.StructField("contact_name", T.StringType(), True),
    ]
)

ORDER_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.IntegerType(), False),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("freight", T.DoubleType(), True),
    ]
)


def env(op, table, after=None, before=None, ts_ms=0, lsn=0):
    return Row(
        op=op,
        before=json.dumps(before) if before else None,
        after=json.dumps(after) if after else None,
        ts_ms=ts_ms,
        lsn=lsn,
        table=table,
    )


@pytest.fixture()
def catalog(spark, tmp_path):
    return SnapshotCatalog(spark, str(tmp_path / "wh"))


def test_first_batch_creates_table_in_one_commit(spark, catalog):
    """A batch that creates its table commits once: after the latest-wins
    dedupe no upserted key is also a delete key, so there is nothing
    left to delete."""
    changes = spark.createDataFrame(
        [(1, "a", "c", 1, 1), (2, None, "d", 2, 2)],
        "id long, v string, op string, ts_ms long, lsn long",
    )
    assert apply_cdc_batch(catalog, "t", changes, ["id"])
    assert [(s.version, s.operation) for s in catalog.history("t")] == [
        (1, "overwrite")
    ]
    assert [tuple(r) for r in catalog.read("t").collect()] == [(1, "a")]


def test_snapshot_then_changes(spark, catalog):
    """C1/C2: bootstrap snapshot, then insert+update+delete envelopes."""
    pipe = CdcPipeline(
        spark,
        catalog,
        {"customers": (CUSTOMER_SCHEMA, ["customer_id"])},
    )
    pipe.bootstrap(
        "customers",
        spark.createDataFrame(
            [
                Row(customer_id="ALFKI", company_name="Alfreds", contact_name="Maria"),
                Row(customer_id="ANATR", company_name="Ana Trujillo", contact_name="Ana"),
            ]
        ),
    )
    raw = spark.createDataFrame(
        [
            env("u", "customers", {"customer_id": "ALFKI", "company_name": "Alfreds", "contact_name": "UPDATED"}, ts_ms=10, lsn=1),
            env("c", "customers", {"customer_id": "BERGS", "company_name": "Berglunds", "contact_name": "Christina"}, ts_ms=11, lsn=2),
            env("d", "customers", before={"customer_id": "ANATR", "company_name": "Ana Trujillo", "contact_name": "Ana"}, ts_ms=12, lsn=3),
        ],
        ENVELOPE_SCHEMA,
    )
    pipe.apply_envelopes(raw)
    out = {r.customer_id: r.contact_name for r in catalog.read("customers").collect()}
    assert out == {"ALFKI": "UPDATED", "BERGS": "Christina"}


def test_latest_wins_within_batch(spark, catalog):
    """C2: out-of-order delivery inside one batch — ts/lsn order wins."""
    raw = spark.createDataFrame(
        [
            env("u", "customers", {"customer_id": "X", "company_name": "v2", "contact_name": "b"}, ts_ms=20, lsn=5),
            env("c", "customers", {"customer_id": "X", "company_name": "v1", "contact_name": "a"}, ts_ms=10, lsn=1),
            env("u", "customers", {"customer_id": "X", "company_name": "v3", "contact_name": "c"}, ts_ms=20, lsn=6),
        ],
        ENVELOPE_SCHEMA,
    )
    typed = parse_envelopes(raw, CUSTOMER_SCHEMA)
    apply_cdc_batch(catalog, "customers", typed, ["customer_id"])
    out = catalog.read("customers").collect()
    assert len(out) == 1
    assert out[0].company_name == "v3"


def test_idempotent_redelivery(spark, catalog):
    """At-least-once delivery: applying the same batch twice converges."""
    raw = spark.createDataFrame(
        [
            env("c", "customers", {"customer_id": "A", "company_name": "co", "contact_name": "x"}, ts_ms=1, lsn=1),
            env("u", "customers", {"customer_id": "A", "company_name": "co2", "contact_name": "x"}, ts_ms=2, lsn=2),
        ],
        ENVELOPE_SCHEMA,
    )
    typed = parse_envelopes(raw, CUSTOMER_SCHEMA)
    apply_cdc_batch(catalog, "customers", typed, ["customer_id"])
    v1 = {r.customer_id: r.company_name for r in catalog.read("customers").collect()}
    apply_cdc_batch(catalog, "customers", typed, ["customer_id"])
    v2 = {r.customer_id: r.company_name for r in catalog.read("customers").collect()}
    assert v1 == v2 == {"A": "co2"}


def test_multi_table_routing(spark, catalog):
    """C4: one envelope stream fans out to per-table targets."""
    pipe = CdcPipeline(
        spark,
        catalog,
        {
            "customers": (CUSTOMER_SCHEMA, ["customer_id"]),
            "orders": (ORDER_SCHEMA, ["order_id"]),
        },
    )
    raw = spark.createDataFrame(
        [
            env("c", "customers", {"customer_id": "A", "company_name": "co", "contact_name": "x"}, ts_ms=1, lsn=1),
            env("c", "orders", {"order_id": 1, "customer_id": "A", "freight": 12.5}, ts_ms=1, lsn=2),
            env("c", "orders", {"order_id": 2, "customer_id": "A", "freight": 3.25}, ts_ms=2, lsn=3),
            env("d", "orders", before={"order_id": 1, "customer_id": "A", "freight": 12.5}, ts_ms=3, lsn=4),
        ],
        ENVELOPE_SCHEMA,
    )
    pipe.apply_envelopes(raw)
    assert catalog.read("customers").count() == 1
    orders = catalog.read("orders").collect()
    assert [r.order_id for r in orders] == [2]


def test_streaming_end_to_end(spark, catalog, tmp_path):
    """A real Structured Streaming run over JSON envelope files."""
    src = tmp_path / "stream_src"
    ckpt = tmp_path / "ckpt"
    os.makedirs(src)
    events = [
        {"op": "c", "before": None, "after": json.dumps({"customer_id": "A", "company_name": "co", "contact_name": "x"}), "ts_ms": 1, "lsn": 1, "table": "customers"},
        {"op": "u", "before": None, "after": json.dumps({"customer_id": "A", "company_name": "co9", "contact_name": "x"}), "ts_ms": 2, "lsn": 2, "table": "customers"},
        {"op": "c", "before": None, "after": json.dumps({"customer_id": "B", "company_name": "bee", "contact_name": "y"}), "ts_ms": 3, "lsn": 3, "table": "customers"},
    ]
    with open(src / "batch1.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    pipe = CdcPipeline(spark, catalog, {"customers": (CUSTOMER_SCHEMA, ["customer_id"])})
    q = pipe.start_stream(str(src), str(ckpt))
    q.awaitTermination(60)
    out = {r.customer_id: r.company_name for r in catalog.read("customers").collect()}
    assert out == {"A": "co9", "B": "bee"}

    # second file -> restart stream (availableNow) -> incremental apply
    with open(src / "batch2.json", "w") as f:
        f.write(json.dumps({"op": "d", "before": json.dumps({"customer_id": "B", "company_name": "bee", "contact_name": "y"}), "after": None, "ts_ms": 4, "lsn": 4, "table": "customers"}) + "\n")
    q2 = pipe.start_stream(str(src), str(ckpt))
    q2.awaitTermination(60)
    out2 = {r.customer_id: r.company_name for r in catalog.read("customers").collect()}
    assert out2 == {"A": "co9"}


def test_latest_per_key_unit(spark):
    df = spark.createDataFrame(
        [
            Row(k=1, ts_ms=1, lsn=1, v="old"),
            Row(k=1, ts_ms=2, lsn=2, v="new"),
            Row(k=2, ts_ms=1, lsn=1, v="only"),
        ]
    )
    out = {r.k: r.v for r in latest_per_key(df, ["k"]).collect()}
    assert out == {1: "new", 2: "only"}


def test_schema_evolution_mid_stream(spark, catalog):
    """The reference's evolve-schema-enabled: a new column appearing in
    later change batches widens the target; old rows read NULL."""
    v1_schema = CUSTOMER_SCHEMA
    raw1 = spark.createDataFrame(
        [env("c", "customers", {"customer_id": "A", "company_name": "co", "contact_name": "x"}, ts_ms=1, lsn=1)],
        ENVELOPE_SCHEMA,
    )
    apply_cdc_batch(catalog, "customers", parse_envelopes(raw1, v1_schema), ["customer_id"])

    v2_schema = T.StructType(
        list(CUSTOMER_SCHEMA.fields) + [T.StructField("country", T.StringType(), True)]
    )
    raw2 = spark.createDataFrame(
        [
            env("c", "customers", {"customer_id": "B", "company_name": "bee", "contact_name": "y", "country": "DE"}, ts_ms=2, lsn=2),
            env("u", "customers", {"customer_id": "A", "company_name": "co2", "contact_name": "x", "country": "VN"}, ts_ms=3, lsn=3),
        ],
        ENVELOPE_SCHEMA,
    )
    apply_cdc_batch(catalog, "customers", parse_envelopes(raw2, v2_schema), ["customer_id"])
    out = {r.customer_id: (r.company_name, r.country) for r in catalog.read("customers").collect()}
    assert out == {"A": ("co2", "VN"), "B": ("bee", "DE")}

    # and a batch with the OLD schema still applies (missing col -> NULL)
    raw3 = spark.createDataFrame(
        [env("c", "customers", {"customer_id": "C", "company_name": "sea", "contact_name": "z"}, ts_ms=4, lsn=4)],
        ENVELOPE_SCHEMA,
    )
    apply_cdc_batch(catalog, "customers", parse_envelopes(raw3, v1_schema), ["customer_id"])
    out2 = {r.customer_id: r.country for r in catalog.read("customers").collect()}
    assert out2 == {"A": "VN", "B": "DE", "C": None}


def test_northwind_priority_tables_replay(spark, catalog):
    """FIXTURES.md §2: the three reference CDC tables (customers,
    orders, products) with their Northwind schemas, replaying the
    reference's manual test sequence (kafka/README.md:99-110):
    UPDATE a customer's contact, INSERT a product, DELETE an order."""
    nw_customers = T.StructType([
        T.StructField("customer_id", T.StringType(), False),   # VARCHAR(5) PK
        T.StructField("company_name", T.StringType(), False),
        T.StructField("contact_name", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
    ])
    nw_orders = T.StructType([
        T.StructField("order_id", T.IntegerType(), False),     # SMALLINT PK
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("order_date", T.StringType(), True),
        T.StructField("freight", T.DoubleType(), True),        # REAL
    ])
    nw_products = T.StructType([
        T.StructField("product_id", T.IntegerType(), False),   # SMALLINT PK
        T.StructField("product_name", T.StringType(), False),
        T.StructField("unit_price", T.DoubleType(), True),
        T.StructField("discontinued", T.IntegerType(), False),
    ])
    pipe = CdcPipeline(spark, catalog, {
        "customers": (nw_customers, ["customer_id"]),
        "orders": (nw_orders, ["order_id"]),
        "products": (nw_products, ["product_id"]),
    })
    # C1: initial snapshots
    pipe.bootstrap("customers", spark.createDataFrame(
        [("ALFKI", "Alfreds Futterkiste", "Maria Anders", "Germany"),
         ("ANATR", "Ana Trujillo", "Ana Trujillo", "Mexico")], nw_customers))
    pipe.bootstrap("orders", spark.createDataFrame(
        [(10248, "ALFKI", "1996-07-04", 32.38),
         (10249, "ANATR", "1996-07-05", 11.61)], nw_orders))
    pipe.bootstrap("products", spark.createDataFrame(
        [(1, "Chai", 18.0, 0)], nw_products))

    # the reference's manual sequence as one change stream
    raw = spark.createDataFrame([
        env("u", "customers",
            {"customer_id": "ALFKI", "company_name": "Alfreds Futterkiste",
             "contact_name": "Maria Anders-Updated", "country": "Germany"},
            ts_ms=1, lsn=1),
        env("c", "products",
            {"product_id": 78, "product_name": "Test Product",
             "unit_price": 9.99, "discontinued": 0}, ts_ms=2, lsn=2),
        env("d", "orders",
            before={"order_id": 10249, "customer_id": "ANATR",
                    "order_date": "1996-07-05", "freight": 11.61},
            ts_ms=3, lsn=3),
    ], ENVELOPE_SCHEMA)
    pipe.apply_envelopes(raw)

    cust = {r.customer_id: r.contact_name for r in catalog.read("customers").collect()}
    assert cust["ALFKI"] == "Maria Anders-Updated"
    assert [r.order_id for r in catalog.read("orders").collect()] == [10248]
    prods = {r.product_id: r.product_name for r in catalog.read("products").collect()}
    assert prods == {1: "Chai", 78: "Test Product"}


def test_apply_cdc_batch_unpersists_cache(spark, catalog):
    """Long-running streams apply thousands of batches; each must
    release its micro-batch cache (no storage-memory leak)."""
    from konohadataplatform_spark.streaming.cdc import apply_cdc_batch

    changes = spark.createDataFrame(
        [Row(id=1, v="a", op="c", ts_ms=1, lsn=1, _topic="t")]
    )
    jsc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in jsc.getRDDStorageInfo()}
    apply_cdc_batch(catalog, "t_leak", changes, ["id"])
    leaked = [i for i in jsc.getRDDStorageInfo() if i.id() not in before]
    assert not leaked


def test_apply_cdc_batch_merge_on_read(spark, catalog):
    """MOR apply: a CDC batch commits only its own rows (layer +
    delete files); the fold at read time matches the COW result."""
    from konohadataplatform_spark.streaming.cdc import apply_cdc_batch

    b1 = spark.createDataFrame(
        [
            Row(id=1, v="a", op="c", ts_ms=1, lsn=1, _topic="t"),
            Row(id=2, v="b", op="c", ts_ms=1, lsn=2, _topic="t"),
        ]
    )
    apply_cdc_batch(catalog, "t_mor", b1, ["id"], merge_on_read=True)
    b2 = spark.createDataFrame(
        [
            Row(id=2, v="B2", op="u", ts_ms=2, lsn=3, _topic="t"),
            Row(id=1, v=None, op="d", ts_ms=2, lsn=4, _topic="t"),
            Row(id=3, v="c", op="c", ts_ms=2, lsn=5, _topic="t"),
        ]
    )
    apply_cdc_batch(catalog, "t_mor", b2, ["id"], merge_on_read=True)
    out = {r.id: r.v for r in catalog.read("t_mor").collect()}
    assert out == {2: "B2", 3: "c"}
    snap = catalog.current_snapshot("t_mor")
    assert snap.upsert_layers and snap.delete_path
    # re-insert a deleted key in a later batch -> resurrects
    b3 = spark.createDataFrame(
        [Row(id=1, v="BACK", op="c", ts_ms=3, lsn=6, _topic="t")]
    )
    apply_cdc_batch(catalog, "t_mor", b3, ["id"], merge_on_read=True)
    out = {r.id: r.v for r in catalog.read("t_mor").collect()}
    assert out == {1: "BACK", 2: "B2", 3: "c"}
    # compaction flattens and preserves the fold
    catalog.compact("t_mor", target_files=1)
    out2 = {r.id: r.v for r in catalog.read("t_mor").collect()}
    assert out2 == out


def test_batch_id_high_water_mark_skips_replay(spark, catalog):
    """Checkpoint replay after a crash re-delivers committed batch ids;
    the apply skips them without touching the table."""
    from konohadataplatform_spark.streaming.cdc import (
        apply_cdc_batch,
        last_applied_batch,
    )

    b1 = spark.createDataFrame(
        [Row(id=1, v="a", op="c", ts_ms=1, lsn=1, _topic="t")]
    )
    apply_cdc_batch(catalog, "t_hwm", b1, ["id"], batch_id=0)
    v1 = catalog.current_snapshot("t_hwm").version
    assert last_applied_batch(catalog, "t_hwm") == 0

    # replayed batch 0 (same id, possibly same content) -> no-op
    apply_cdc_batch(catalog, "t_hwm", b1, ["id"], batch_id=0)
    assert catalog.current_snapshot("t_hwm").version == v1

    # next batch applies normally
    b2 = spark.createDataFrame(
        [Row(id=2, v="b", op="c", ts_ms=2, lsn=2, _topic="t")]
    )
    apply_cdc_batch(catalog, "t_hwm", b2, ["id"], batch_id=1)
    assert catalog.current_snapshot("t_hwm").version > v1
    assert last_applied_batch(catalog, "t_hwm") == 1
    assert {r.id for r in catalog.read("t_hwm").collect()} == {1, 2}


def test_kafka_source_path(spark):
    """The production format('kafka') path exists and fails loud-and-
    clear in this container (no spark-sql-kafka package); the option
    wiring itself is exercised up to the datasource lookup."""
    from konohadataplatform_spark.streaming.cdc import (
        KafkaSourceUnavailable,
        kafka_envelope_stream,
    )

    with pytest.raises(ValueError, match="bootstrap_servers"):
        kafka_envelope_stream(spark, None, ["orders"])
    with pytest.raises(KafkaSourceUnavailable, match="spark-sql-kafka"):
        kafka_envelope_stream(spark, "broker:9092", ["orders", "customers"])


# --------------------------------------------------------------------------
# Confluent Schema-Registry wire format (AvroConverter framing)
# --------------------------------------------------------------------------
DEBEZIUM_ROW = {
    "type": "record",
    "name": "row",
    "fields": [
        {"name": "customer_id", "type": "string"},
        {"name": "company_name", "type": ["null", "string"]},
    ],
}

DEBEZIUM_VALUE_SCHEMA = {
    "type": "record",
    "name": "Envelope",
    "fields": [
        {"name": "op", "type": "string"},
        {"name": "before", "type": ["null", DEBEZIUM_ROW]},
        {"name": "after", "type": ["null", DEBEZIUM_ROW]},
        {
            "name": "source",
            "type": {
                "type": "record",
                "name": "source",
                "fields": [
                    {"name": "ts_ms", "type": "long"},
                    {"name": "lsn", "type": "long"},
                    {"name": "table", "type": "string"},
                ],
            },
        },
    ],
}


def test_confluent_wire_roundtrip():
    from konohadataplatform_spark.sources import avro_py

    rec = {
        "op": "u",
        "before": {"customer_id": "A", "company_name": None},
        "after": {"customer_id": "A", "company_name": "Acme"},
        "source": {"ts_ms": 42, "lsn": 7, "table": "customers"},
    }
    payload = avro_py.encode_confluent(rec, DEBEZIUM_VALUE_SCHEMA, 101)
    assert payload[0] == 0  # magic byte
    assert avro_py.confluent_schema_id(payload) == 101
    sid, back = avro_py.decode_confluent(payload, {101: DEBEZIUM_VALUE_SCHEMA})
    assert sid == 101
    assert back == rec

    # unknown schema id: loud, never guesses
    with pytest.raises(ValueError, match="not in registry"):
        avro_py.decode_confluent(payload, {7: DEBEZIUM_VALUE_SCHEMA})
    # non-wire-format bytes: loud on the magic byte
    with pytest.raises(ValueError, match="magic"):
        avro_py.confluent_schema_id(b"\x01\x00\x00\x00e rest")
    # truncated/mismatched body: loud on trailing bytes
    with pytest.raises(ValueError, match="trailing"):
        avro_py.decode_confluent(payload + b"x", {101: DEBEZIUM_VALUE_SCHEMA})


def test_decode_confluent_envelopes_to_cdc_apply(spark, catalog):
    """Wire-format Kafka rows -> ENVELOPE_SCHEMA -> the normal CDC apply
    path: nested before/after become canonical JSON row images, source
    block supplies ts_ms/lsn/table."""
    from konohadataplatform_spark.sources import avro_py
    from konohadataplatform_spark.streaming.cdc import decode_confluent_envelopes

    recs = [
        {"op": "c", "before": None,
         "after": {"customer_id": "A", "company_name": "Acme"},
         "source": {"ts_ms": 1, "lsn": 1, "table": "customers"}},
        {"op": "u", "before": {"customer_id": "A", "company_name": "Acme"},
         "after": {"customer_id": "A", "company_name": "Acme 2"},
         "source": {"ts_ms": 2, "lsn": 2, "table": "customers"}},
        {"op": "c", "before": None,
         "after": {"customer_id": "B", "company_name": None},
         "source": {"ts_ms": 3, "lsn": 3, "table": "customers"}},
    ]
    kafka_rows = [
        ("srv1.public.customers", avro_py.encode_confluent(r, DEBEZIUM_VALUE_SCHEMA, 5))
        for r in recs
    ]
    raw = spark.createDataFrame(kafka_rows, "topic string, value binary")
    env_df = decode_confluent_envelopes(raw, {5: DEBEZIUM_VALUE_SCHEMA})
    assert env_df.schema == ENVELOPE_SCHEMA
    got = {(r.op, r.lsn, r.table) for r in env_df.collect()}
    assert got == {("c", 1, "customers"), ("u", 2, "customers"), ("c", 3, "customers")}

    # feed the decoded envelopes through the standard apply path
    schema = T.StructType([
        T.StructField("customer_id", T.StringType(), False),
        T.StructField("company_name", T.StringType(), True),
    ])
    typed = parse_envelopes(env_df, schema)
    apply_cdc_batch(catalog, "customers", typed, ["customer_id"], None)
    final = {(r.customer_id, r.company_name)
             for r in catalog.read("customers").collect()}
    assert final == {("A", "Acme 2"), ("B", None)}


def test_decode_confluent_envelopes_table_from_topic(spark):
    """Without a table in the record or source, the topic's last
    dot-segment routes (RegexRouter analog)."""
    from konohadataplatform_spark.sources import avro_py
    from konohadataplatform_spark.streaming.cdc import decode_confluent_envelopes

    flat = {
        "type": "record",
        "name": "Envelope",
        "fields": [
            {"name": "op", "type": "string"},
            {"name": "before", "type": ["null", "string"]},
            {"name": "after", "type": ["null", "string"]},
            {"name": "ts_ms", "type": "long"},
            {"name": "lsn", "type": "long"},
        ],
    }
    rec = {"op": "c", "before": None, "after": "{}", "ts_ms": 9, "lsn": 9}
    raw = spark.createDataFrame(
        [("srv1.public.orders", avro_py.encode_confluent(rec, flat, 3))],
        "topic string, value binary",
    )
    out = decode_confluent_envelopes(raw, {3: flat}).collect()
    assert out[0].table == "orders"
    assert out[0].after == "{}"


def test_kafka_stream_confluent_avro_validation(spark):
    from konohadataplatform_spark.streaming.cdc import kafka_envelope_stream

    with pytest.raises(ValueError, match="schema_registry"):
        kafka_envelope_stream(
            spark, "broker:9092", ["t"], value_format="confluent-avro"
        )
    with pytest.raises(ValueError, match="value_format"):
        kafka_envelope_stream(spark, "broker:9092", ["t"], value_format="xml")


def test_parse_envelopes_dlq_reasons(spark):
    """Bad envelopes route to the dead-letter side with a reason; good
    rows parse normally. One bad record must never stall the stream."""
    from konohadataplatform_spark.streaming.cdc import parse_envelopes_dlq

    raw = spark.createDataFrame(
        [
            env("c", "customers", {"customer_id": "A", "company_name": "co", "contact_name": "x"}, ts_ms=1, lsn=1),
            # unknown op code (connector upgrade artifact)
            env("x", "customers", {"customer_id": "B", "company_name": "b", "contact_name": "y"}, ts_ms=2, lsn=2),
            # delete with no before-image
            env("d", "customers", ts_ms=3, lsn=3),
            # truncated JSON from a producer crash
            Row(op="c", before=None, after='{"customer_id": "C", "company_', ts_ms=4, lsn=4, table="customers"),
            # NULL primary key
            env("c", "customers", {"customer_id": None, "company_name": "n", "contact_name": "z"}, ts_ms=5, lsn=5),
        ],
        ENVELOPE_SCHEMA,
    )
    good, bad = parse_envelopes_dlq(raw, CUSTOMER_SCHEMA, required=["customer_id"])
    assert [r.customer_id for r in good.collect()] == ["A"]
    reasons = {r.lsn: r._error for r in bad.collect()}
    assert reasons == {
        2: "unknown_op",
        3: "null_row_image",
        4: "malformed_json",
        5: "null_key",
    }
    # the raw payload is preserved for replay
    payloads = {r.lsn: r.payload for r in bad.collect()}
    assert payloads[4] == '{"customer_id": "C", "company_'


def test_envelope_drift_reports_new_keys(spark):
    from konohadataplatform_spark.streaming.cdc import envelope_drift

    raw = spark.createDataFrame(
        [
            env("c", "customers", {"customer_id": "A", "company_name": "co", "contact_name": "x"}, ts_ms=1, lsn=1),
            env("u", "customers", {"customer_id": "A", "company_name": "co", "contact_name": "x", "country": "VN"}, ts_ms=2, lsn=2),
            env("c", "customers", {"customer_id": "B", "company_name": "b", "contact_name": "y", "country": "DE", "vat_id": "123"}, ts_ms=3, lsn=3),
        ],
        ENVELOPE_SCHEMA,
    )
    drift = {r.key: r.n_envelopes for r in envelope_drift(raw, CUSTOMER_SCHEMA).collect()}
    assert drift == {"country": 2, "vat_id": 1}


def test_pipeline_dlq_and_auto_evolve(spark, catalog):
    """End-to-end: the pipeline quarantines bad envelopes into the DLQ
    table and auto-widens the row schema when the source gains a column
    (the Debezium schema-change analog), without any manual schema
    update between batches."""
    pipe = CdcPipeline(
        spark,
        catalog,
        {"customers": (CUSTOMER_SCHEMA, ["customer_id"])},
        dlq_table="_cdc_dlq",
        evolve_schema=True,
    )
    batch1 = spark.createDataFrame(
        [
            env("c", "customers", {"customer_id": "A", "company_name": "co", "contact_name": "x"}, ts_ms=1, lsn=1),
            Row(op="c", before=None, after="{broken", ts_ms=2, lsn=2, table="customers"),
        ],
        ENVELOPE_SCHEMA,
    )
    pipe.apply_envelopes(batch1, batch_id=1)
    assert {r.customer_id for r in catalog.read("customers").collect()} == {"A"}
    dlq = catalog.read("_cdc_dlq").collect()
    assert len(dlq) == 1 and dlq[0]._error == "malformed_json"

    # source table gained `country` upstream: envelopes carry a new key
    batch2 = spark.createDataFrame(
        [
            env("c", "customers", {"customer_id": "B", "company_name": "bee", "contact_name": "y", "country": "DE"}, ts_ms=3, lsn=3),
        ],
        ENVELOPE_SCHEMA,
    )
    pipe.apply_envelopes(batch2, batch_id=2)
    out = {r.customer_id: getattr(r, "country", None) for r in catalog.read("customers").collect()}
    assert out == {"A": None, "B": "DE"}
    # the widened schema is persistent pipeline state for later batches
    assert "country" in [f.name for f in pipe.tables["customers"][0].fields]

    # redelivery of the bad record does not duplicate the DLQ row
    pipe.apply_envelopes(batch1, batch_id=3)
    assert catalog.read("_cdc_dlq").count() == 1


def test_pipeline_dlq_merge_on_read_path(spark, catalog):
    """DLQ + auto-evolve also hold on the O(batch) MOR apply path."""
    pipe = CdcPipeline(
        spark,
        catalog,
        {"customers": (CUSTOMER_SCHEMA, ["customer_id"])},
        merge_on_read=True,
        dlq_table="_cdc_dlq",
        evolve_schema=True,
    )
    pipe.apply_envelopes(
        spark.createDataFrame(
            [env("c", "customers", {"customer_id": "A", "company_name": "co", "contact_name": "x"}, ts_ms=1, lsn=1)],
            ENVELOPE_SCHEMA,
        ),
        batch_id=1,
    )
    pipe.apply_envelopes(
        spark.createDataFrame(
            [
                env("u", "customers", {"customer_id": "A", "company_name": "co2", "contact_name": "x", "country": "VN"}, ts_ms=2, lsn=2),
                env("c", "customers", {"customer_id": None, "company_name": "bad", "contact_name": "q"}, ts_ms=3, lsn=3),
            ],
            ENVELOPE_SCHEMA,
        ),
        batch_id=2,
    )
    out = {r.customer_id: r.country for r in catalog.read("customers").collect()}
    assert out == {"A": "VN"}
    assert [r._error for r in catalog.read("_cdc_dlq").collect()] == ["null_key"]


def test_dlq_null_lsn_does_not_crash(spark, catalog):
    """Review regression: garbage with a NULL lsn must quarantine, not
    crash the upsert on a NULL key (content-digest DLQ key)."""
    pipe = CdcPipeline(
        spark,
        catalog,
        {"customers": (CUSTOMER_SCHEMA, ["customer_id"])},
        dlq_table="_cdc_dlq",
    )
    batch = spark.createDataFrame(
        [
            Row(op="c", before=None, after="{broken", ts_ms=None, lsn=None,
                table="customers"),
            Row(op=None, before=None, after="{}", ts_ms=1, lsn=1,
                table="customers"),
            env("c", "customers", {"customer_id": "A", "company_name": "x",
                                   "contact_name": "y"}, ts_ms=2, lsn=2),
        ],
        T.StructType([
            T.StructField("op", T.StringType(), True),
            T.StructField("before", T.StringType(), True),
            T.StructField("after", T.StringType(), True),
            T.StructField("ts_ms", T.LongType(), True),
            T.StructField("lsn", T.LongType(), True),
            T.StructField("table", T.StringType(), False),
        ]),
    )
    pipe.apply_envelopes(batch, batch_id=1)
    assert catalog.read("customers").count() == 1
    dlq = catalog.read("_cdc_dlq")
    assert sorted(r._error for r in dlq.collect()) == [
        "malformed_json", "unknown_op",
    ]
    # redelivery still dedupes on the content digest
    pipe.apply_envelopes(batch, batch_id=2)
    assert catalog.read("_cdc_dlq").count() == 2


def test_quarantined_garbage_does_not_evolve_schema(spark, catalog):
    """Review regression: a junk field on a record headed to the DLQ
    must not widen the table schema."""
    pipe = CdcPipeline(
        spark,
        catalog,
        {"customers": (CUSTOMER_SCHEMA, ["customer_id"])},
        dlq_table="_cdc_dlq",
        evolve_schema=True,
    )
    pipe.apply_envelopes(
        spark.createDataFrame(
            [
                env("c", "customers", {"customer_id": "A", "company_name": "x",
                                       "contact_name": "y"}, ts_ms=1, lsn=1),
                # unknown op carrying a junk key: quarantined, no evolution
                env("x", "customers", {"customer_id": "B", "company_name": "z",
                                       "contact_name": "w", "__debug": "1"},
                    ts_ms=2, lsn=2),
                # NULL key carrying a junk key: quarantined, no evolution
                env("c", "customers", {"customer_id": None, "company_name": "q",
                                       "contact_name": "r", "__trace": "1"},
                    ts_ms=3, lsn=3),
            ],
            ENVELOPE_SCHEMA,
        ),
        batch_id=1,
    )
    cols = set(catalog.read("customers").columns)
    assert "__debug" not in cols and "__trace" not in cols
    assert catalog.read("_cdc_dlq").count() == 2


def test_streaming_end_to_end_with_dlq(spark, catalog, tmp_path):
    """A real Structured Streaming run where the batch carries garbage:
    the good rows land, the garbage quarantines, the stream finishes."""
    src = tmp_path / "dlq_src"
    ckpt = tmp_path / "dlq_ckpt"
    os.makedirs(src)
    with open(src / "batch1.json", "w") as f:
        f.write(json.dumps({"op": "c", "before": None,
                            "after": json.dumps({"customer_id": "A", "company_name": "co", "contact_name": "x"}),
                            "ts_ms": 1, "lsn": 1, "table": "customers"}) + "\n")
        f.write('{"op": "c", "before": null, "after": "{torn", "ts_ms": 2, "lsn": 2, "table": "customers"}\n')
        f.write(json.dumps({"op": "c", "before": None,
                            "after": json.dumps({"customer_id": "B", "company_name": "b", "contact_name": "y", "country": "DE"}),
                            "ts_ms": 3, "lsn": 3, "table": "customers"}) + "\n")

    pipe = CdcPipeline(
        spark, catalog,
        {"customers": (CUSTOMER_SCHEMA, ["customer_id"])},
        dlq_table="_stream_dlq", evolve_schema=True,
    )
    q = pipe.start_stream(str(src), str(ckpt))
    q.awaitTermination(60)
    out = {r.customer_id: getattr(r, "country", None)
           for r in catalog.read("customers").collect()}
    assert out == {"A": None, "B": "DE"}
    dlq = catalog.read("_stream_dlq").collect()
    assert len(dlq) == 1 and dlq[0]._error == "malformed_json"


def test_replay_dlq_after_schema_fix(spark, catalog):
    """DLQ lifecycle: a record quarantined as null_key under a wrong
    schema applies cleanly after the config is fixed and drains from
    the DLQ; still-broken records stay quarantined."""
    wrong = T.StructType([
        T.StructField("customer_id", T.StringType(), True),  # producer sends "id"
        T.StructField("company_name", T.StringType(), True),
    ])
    pipe = CdcPipeline(
        spark, catalog, {"customers": (wrong, ["customer_id"])},
        dlq_table="_cdc_dlq",
    )
    pipe.apply_envelopes(
        spark.createDataFrame(
            [
                env("c", "customers", {"id": "A", "company_name": "co"},
                    ts_ms=1, lsn=1),  # null_key under the wrong schema
                Row(op="c", before=None, after="{torn", ts_ms=2, lsn=2,
                    table="customers"),  # permanently malformed
            ],
            ENVELOPE_SCHEMA,
        ),
        batch_id=1,
    )
    assert not catalog.exists("customers")  # nothing applied yet
    assert catalog.read("_cdc_dlq").count() == 2

    # operator fixes the schema + key, then replays
    right = T.StructType([
        T.StructField("id", T.StringType(), True),
        T.StructField("company_name", T.StringType(), True),
    ])
    pipe.tables["customers"] = (right, ["id"], None)
    applied = pipe.replay_dlq()
    assert applied == {"customers": 1}
    assert {r.id: r.company_name for r in catalog.read("customers").collect()} \
        == {"A": "co"}
    left = catalog.read("_cdc_dlq").collect()
    assert len(left) == 1 and left[0]._error == "malformed_json"
    # idempotent: nothing left to replay
    assert pipe.replay_dlq() == {"customers": 0}


def test_replay_dlq_never_regresses_newer_changes(spark, catalog):
    """Ordering guard: a record quarantined at ts=5 must NOT overwrite a
    ts=10 update for the same key applied after quarantine — replay
    drops the superseded record but still drains it from the DLQ."""
    wrong = T.StructType([
        T.StructField("customer_id", T.StringType(), True),  # producer sends "id"
        T.StructField("company_name", T.StringType(), True),
    ])
    right = T.StructType([
        T.StructField("id", T.StringType(), True),
        T.StructField("company_name", T.StringType(), True),
    ])
    pipe = CdcPipeline(
        spark, catalog, {"customers": (wrong, ["customer_id"])},
        dlq_table="_cdc_dlq",
    )
    # ts=5 change quarantined as null_key under the wrong schema
    pipe.apply_envelopes(
        spark.createDataFrame(
            [env("u", "customers", {"id": "A", "company_name": "old"},
                 ts_ms=5, lsn=5)],
            ENVELOPE_SCHEMA,
        ),
        batch_id=1,
    )
    assert catalog.read("_cdc_dlq").count() == 1
    # operator fixes the schema; a NEWER ts=10 change applies cleanly
    pipe.tables["customers"] = (right, ["id"], None)
    pipe.apply_envelopes(
        spark.createDataFrame(
            [env("u", "customers", {"id": "A", "company_name": "new"},
                 ts_ms=10, lsn=10)],
            ENVELOPE_SCHEMA,
        ),
        batch_id=2,
    )
    assert catalog.read("customers").collect()[0].company_name == "new"
    # replay: the stale ts=5 record is dropped, NOT applied...
    assert pipe.replay_dlq() == {"customers": 0}
    assert catalog.read("customers").collect()[0].company_name == "new"
    # ...but it still drains — it is resolved (superseded), not pending
    assert catalog.read("_cdc_dlq").count() == 0


def test_replay_dlq_applies_when_strictly_newer(spark, catalog):
    """The guard only blocks stale records: a quarantined change NEWER
    than everything applied for its key replays normally, and a NULL-ts
    quarantined record counts as oldest (never beats a recorded mark)."""
    wrong = T.StructType([
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("company_name", T.StringType(), True),
    ])
    right = T.StructType([
        T.StructField("id", T.StringType(), True),
        T.StructField("company_name", T.StringType(), True),
    ])
    pipe = CdcPipeline(
        spark, catalog, {"customers": (wrong, ["customer_id"])},
        dlq_table="_cdc_dlq",
    )
    pipe.apply_envelopes(
        spark.createDataFrame(
            [
                # ts=20: newer than anything applied -> must replay
                env("u", "customers", {"id": "A", "company_name": "newest"},
                    ts_ms=20, lsn=20),
                # NULL ts/lsn: unknown age -> must NOT beat B's mark
                Row(op="u", before=None,
                    after=json.dumps({"id": "B", "company_name": "stale?"}),
                    ts_ms=None, lsn=None, table="customers"),
            ],
            T.StructType([
                T.StructField("op", T.StringType(), True),
                T.StructField("before", T.StringType(), True),
                T.StructField("after", T.StringType(), True),
                T.StructField("ts_ms", T.LongType(), True),
                T.StructField("lsn", T.LongType(), True),
                T.StructField("table", T.StringType(), False),
            ]),
        ),
        batch_id=1,
    )
    pipe.tables["customers"] = (right, ["id"], None)
    pipe.apply_envelopes(
        spark.createDataFrame(
            [
                env("u", "customers", {"id": "A", "company_name": "mid"},
                    ts_ms=10, lsn=10),
                env("u", "customers", {"id": "B", "company_name": "bval"},
                    ts_ms=10, lsn=10),
            ],
            ENVELOPE_SCHEMA,
        ),
        batch_id=2,
    )
    assert pipe.replay_dlq() == {"customers": 1}
    rows = {r.id: r.company_name for r in catalog.read("customers").collect()}
    assert rows == {"A": "newest", "B": "bval"}
    assert catalog.read("_cdc_dlq").count() == 0


# ---- Schema-Registry REST client ----------------------------------------

class _StubRegistry:
    """In-process Confluent-REST stub: POST /subjects/x/versions assigns
    ids; GET /schemas/ids/{id} serves them; counts GETs so tests can
    assert the client caches."""

    def __init__(self):
        import http.server
        import threading

        stub = self
        stub.schemas = {}
        stub.next_id = 1
        stub.get_count = 0

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def _json(self, code, obj):
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                parts = self.path.strip("/").split("/")
                if parts[:2] == ["schemas", "ids"]:
                    stub.get_count += 1
                    sid = int(parts[2])
                    if sid in stub.schemas:
                        self._json(200, {"schema": stub.schemas[sid]})
                    else:
                        self._json(404, {"error_code": 40403})
                elif len(parts) == 4 and parts[0] == "subjects" \
                        and parts[2] == "versions" and parts[3] == "latest":
                    ids = [i for i, (subj, _) in stub.by_subject.items()
                           if subj == parts[1]]
                    if ids:
                        sid = max(ids)
                        self._json(200, {"id": sid, "version": 1,
                                         "subject": parts[1],
                                         "schema": stub.schemas[sid]})
                    else:
                        self._json(404, {"error_code": 40401})
                else:
                    self._json(404, {"error_code": 404})

            def do_POST(self):
                parts = self.path.strip("/").split("/")
                n = int(self.headers["Content-Length"])
                payload = json.loads(self.rfile.read(n))
                sid = stub.next_id
                stub.next_id += 1
                stub.schemas[sid] = payload["schema"]
                stub.by_subject[sid] = (parts[1], payload["schema"])
                self._json(200, {"id": sid})

        stub.by_subject = {}
        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )
        self.thread.start()

    def close(self):
        self.server.shutdown()
        self.server.server_close()


def test_schema_registry_client_resolves_and_caches():
    from konohadataplatform_spark.sources.schema_registry import (
        SchemaRegistryClient,
        SchemaRegistryError,
    )

    reg = _StubRegistry()
    try:
        client = SchemaRegistryClient(reg.url)
        sid = client.register("customers-value", DEBEZIUM_VALUE_SCHEMA)
        # register warms the cache: no GET needed for the id we created
        assert client.get(sid) == DEBEZIUM_VALUE_SCHEMA
        assert reg.get_count == 0
        # a cold client resolves over HTTP exactly once, then caches
        cold = SchemaRegistryClient(reg.url)
        assert cold[sid]["name"] == "Envelope"
        assert cold.get(sid) is cold.get(sid)
        assert reg.get_count == 1
        assert sid in cold and list(iter(cold)) == [sid]
        # unknown id -> None / KeyError, never a guessed schema
        assert cold.get(999999) is None
        with pytest.raises(KeyError):
            cold[999999]
        # latest() resolves by subject
        lsid, lschema = SchemaRegistryClient(reg.url).latest("customers-value")
        assert lsid == sid and lschema == DEBEZIUM_VALUE_SCHEMA
        with pytest.raises(SchemaRegistryError, match="unknown subject"):
            SchemaRegistryClient(reg.url).latest("nope-value")
    finally:
        reg.close()
    # registry down -> loud SchemaRegistryError, not a silent miss
    from konohadataplatform_spark.sources.schema_registry import (
        SchemaRegistryError as SRE,
    )
    with pytest.raises(SRE):
        SchemaRegistryClient(reg.url).get(1)


def test_confluent_envelopes_via_rest_registry(spark, catalog):
    """End-to-end Debezium AvroConverter path: wire-framed envelopes on
    a Kafka-shaped frame resolve their writer schema via the REST
    registry client (executor-side, cached) and land byte-identical to
    the dict-registry path."""
    from konohadataplatform_spark.sources import avro_py
    from konohadataplatform_spark.sources.schema_registry import (
        SchemaRegistryClient,
    )
    from konohadataplatform_spark.streaming.cdc import (
        decode_confluent_envelopes,
    )

    reg = _StubRegistry()
    try:
        writer = SchemaRegistryClient(reg.url)
        sid = writer.register("srv1.public.customers-value",
                              DEBEZIUM_VALUE_SCHEMA)
        recs = [
            {"op": "c", "before": None,
             "after": {"customer_id": "A", "company_name": "Acme"},
             "source": {"ts_ms": 1, "lsn": 1, "table": "customers"}},
            {"op": "d",
             "before": {"customer_id": "A", "company_name": "Acme"},
             "after": None,
             "source": {"ts_ms": 2, "lsn": 2, "table": "customers"}},
        ]
        raw = spark.createDataFrame(
            [("srv1.public.customers",
              avro_py.encode_confluent(r, DEBEZIUM_VALUE_SCHEMA, sid))
             for r in recs],
            "topic string, value binary",
        )
        # a COLD client pickles into the task closure and resolves on
        # the executors
        via_rest = decode_confluent_envelopes(
            raw, SchemaRegistryClient(reg.url)
        ).collect()
        via_dict = decode_confluent_envelopes(
            raw, {sid: DEBEZIUM_VALUE_SCHEMA}
        ).collect()
        assert sorted(map(tuple, via_rest)) == sorted(map(tuple, via_dict))
        assert {r.op for r in via_rest} == {"c", "d"}
    finally:
        reg.close()


def test_hwm_not_regressed_by_redelivered_old_batch(spark, catalog):
    """Review regression: a checkpoint-redelivered OLD batch is skipped
    by the batch-id gate and must not regress the high-water mark — or
    a later replay of a mid-age quarantined record would overwrite the
    newest row."""
    wrong = T.StructType([
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("company_name", T.StringType(), True),
    ])
    right = T.StructType([
        T.StructField("id", T.StringType(), True),
        T.StructField("company_name", T.StringType(), True),
    ])
    pipe = CdcPipeline(
        spark, catalog, {"customers": (right, ["id"])},
        dlq_table="_cdc_dlq",
    )
    b1 = spark.createDataFrame(
        [env("u", "customers", {"id": "A", "company_name": "v5"},
             ts_ms=5, lsn=5)], ENVELOPE_SCHEMA)
    pipe.apply_envelopes(b1, batch_id=1)
    # ts=7 for A quarantined (wrong schema window)
    pipe.tables["customers"] = (wrong, ["customer_id"], None)
    pipe.apply_envelopes(
        spark.createDataFrame(
            [env("u", "customers", {"id": "A", "company_name": "v7"},
                 ts_ms=7, lsn=7)], ENVELOPE_SCHEMA),
        batch_id=2,
    )
    pipe.tables["customers"] = (right, ["id"], None)
    # ts=10 applies
    pipe.apply_envelopes(
        spark.createDataFrame(
            [env("u", "customers", {"id": "A", "company_name": "v10"},
                 ts_ms=10, lsn=10)], ENVELOPE_SCHEMA),
        batch_id=3,
    )
    # checkpoint redelivery of OLD batch 1: skipped by the gate, must
    # NOT pull the high-water mark back to ts=5
    pipe.apply_envelopes(b1, batch_id=1)
    hwm = {r.id: r._hwm_ts_ms
           for r in catalog.read("customers__cdc_hwm").collect()}
    assert hwm == {"A": 10}
    # so the ts=7 quarantined record is (correctly) dropped on replay
    assert pipe.replay_dlq() == {"customers": 0}
    assert catalog.read("customers").collect()[0].company_name == "v10"


def test_replay_dlq_strict_holds_preguard_keys(spark, catalog):
    """r6 advice: keys applied before the hwm guard existed have no
    mark, so a stale quarantined record could regress them. strict=True
    holds the undecidable records (no mark + key in target) in the DLQ
    — neither applied nor drained — while keys absent from the target
    still replay."""
    wrong = T.StructType([
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("company_name", T.StringType(), True),
    ])
    right = T.StructType([
        T.StructField("id", T.StringType(), True),
        T.StructField("company_name", T.StringType(), True),
    ])
    pipe = CdcPipeline(
        spark, catalog, {"customers": (wrong, ["customer_id"])},
        dlq_table="_cdc_dlq",
    )
    # simulate a pre-guard deployment: key A applied WITHOUT a mark
    # (direct apply, not via the pipeline's hwm-recording path)
    catalog.write(
        "customers",
        spark.createDataFrame([("A", "applied-earlier")],
                              "id string, company_name string"),
    )
    # two quarantined records: key A (stale? unknowable) and key B (new)
    pipe.apply_envelopes(
        spark.createDataFrame(
            [env("u", "customers", {"id": "A", "company_name": "stale?"},
                 ts_ms=5, lsn=5),
             env("u", "customers", {"id": "B", "company_name": "bval"},
                 ts_ms=5, lsn=5)],
            ENVELOPE_SCHEMA,
        ),
        batch_id=1,
    )
    assert catalog.read("_cdc_dlq").count() == 2
    pipe.tables["customers"] = (right, ["id"], None)
    # strict replay: B applies (nothing to regress), A is held
    assert pipe.replay_dlq(strict=True) == {"customers": 1}
    rows = {r.id: r.company_name for r in catalog.read("customers").collect()}
    assert rows == {"A": "applied-earlier", "B": "bval"}
    held = catalog.read("_cdc_dlq").collect()
    assert len(held) == 1
    # the held record is A's, inspectable by the operator
    assert '"A"' in held[0].payload
    # default (non-strict) replay applies it — the documented gap
    assert pipe.replay_dlq() == {"customers": 1}
    assert catalog.read("_cdc_dlq").count() == 0
    rows = {r.id: r.company_name for r in catalog.read("customers").collect()}
    assert rows == {"A": "stale?", "B": "bval"}


def test_cdc_maintain_every_bounds_hwm_layers(spark, catalog):
    """r6 advice: the per-batch hwm upsert adds a MOR layer per
    micro-batch; maintain_every must fold the hwm table (and target +
    DLQ) periodically so long-running streams don't accumulate
    unbounded layer depth."""
    schema = T.StructType([
        T.StructField("id", T.StringType(), True),
        T.StructField("v", T.StringType(), True),
    ])
    pipe = CdcPipeline(
        spark, catalog, {"t": (schema, ["id"])},
        merge_on_read=True, dlq_table="_dlq", maintain_every=4,
    )
    n_batches = 14
    for b in range(1, n_batches + 1):
        pipe.apply_envelopes(
            spark.createDataFrame(
                [env("u", "t", {"id": f"k{b % 3}", "v": f"v{b}"},
                     ts_ms=b, lsn=b)],
                ENVELOPE_SCHEMA,
            ),
            batch_id=b,
        )
    hwm_snap = catalog.current_snapshot("t__cdc_hwm")
    # without maintenance there would be 13 pending layers; the check
    # at batch 12 crossed maintain()'s max_layers=8 gate and compacted,
    # so depth is bounded by ~maintain_every + threshold, not by stream
    # length
    assert len(hwm_snap.upsert_layers or []) < n_batches - 1, (
        hwm_snap.upsert_layers
    )
    assert any(
        s.operation.startswith("compact") for s in catalog.history("t__cdc_hwm")
    )
    # marks are intact after compaction
    hwm = {r.id: r._hwm_ts_ms for r in catalog.read("t__cdc_hwm").collect()}
    assert hwm == {"k0": 12, "k1": 13, "k2": 14}
