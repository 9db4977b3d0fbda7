"""Kafka/bus contract, pinned via the file-backed wire shim (no broker in
the sandbox): encode -> wire schema -> decode round trip."""

from pyspark.sql import functions as F

KAFKA_WIRE_COLUMNS = ["key", "value", "topic", "partition", "offset", "timestamp"]


def test_kafka_roundtrip_via_wire_shim(spark):
    from logstash_spark.sources.bus import (
        decode_kafka_records,
        encode_kafka_records,
        kafka_wire_shim,
    )

    events = spark.createDataFrame(
        [("h1", "GET", 200), ("h2", "POST", 500), ("h1", "PUT", 404)],
        "host string, verb string, status int",
    ).withColumn("_meta_secret", F.lit("hidden"))

    enc = encode_kafka_records(events, topic="logs", key_template="%{host}")
    assert enc.columns == ["key", "value", "topic"]
    rows = enc.collect()
    assert all(r["topic"] == "logs" for r in rows)
    assert {r["key"] for r in rows} == {"h1", "h2"}
    # internal/_meta columns must NOT leak onto the bus
    assert all("hidden" not in r["value"] for r in rows)

    wire = kafka_wire_shim(enc, partitions=4)
    assert wire.columns == KAFKA_WIRE_COLUMNS
    dtypes = dict(wire.dtypes)
    assert dtypes["key"] == "binary" and dtypes["value"] == "binary"
    # same key -> same partition (keyed ordering contract)
    wire_rows = wire.collect()
    h1_parts = {r["partition"] for r in wire_rows if r["key"] is not None and bytes(r["key"]) == b"h1"}
    assert len(h1_parts) == 1
    # offsets are dense per partition starting at 0
    p0 = h1_parts.pop()
    offs = sorted(r["offset"] for r in wire_rows if r["partition"] == p0)
    assert offs[0] == 0

    dec = decode_kafka_records(wire, "host string, verb string, status int")
    got = {(r["host"], r["verb"], r["status"]) for r in dec.collect()}
    assert got == {("h1", "GET", 200), ("h2", "POST", 500), ("h1", "PUT", 404)}
    # provenance columns present (the [@metadata][kafka] analog)
    assert {"kafka_key", "kafka_topic", "kafka_partition", "kafka_offset", "kafka_ts"} <= set(dec.columns)


def test_kafka_null_key_roundtrip(spark):
    from logstash_spark.sources.bus import (
        decode_kafka_records,
        encode_kafka_records,
        kafka_wire_shim,
    )

    events = spark.createDataFrame([(1,), (2,)], "n int")
    wire = kafka_wire_shim(encode_kafka_records(events, topic="t"))
    dec = decode_kafka_records(wire, "n int")
    assert {r["n"] for r in dec.collect()} == {1, 2}
    assert all(r["kafka_key"] is None for r in dec.collect())
