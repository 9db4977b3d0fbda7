"""Kafka/bus source + sink mapping — and a file-backed wire shim so the
contract is TESTED even though no broker runs in this sandbox.

Reference: the kafka/rabbitmq/redis bus plugins (manifest
rakelib/default_plugins.rb:49-76) move serialized events over a keyed
topic. Spark-first mapping:

- source: ``spark.readStream.format('kafka')`` yields the fixed wire
  schema (key/value binary, topic, partition, offset, timestamp);
  :func:`decode_kafka_records` turns it into typed events (json codec by
  default — same decode path as codecs.json_lines).
- sink: :func:`encode_kafka_records` produces (key, value, topic) —
  exactly what ``df.write.format('kafka')`` consumes; keys come from a
  sprintf template so partitioning-by-key matches the reference's
  ``message_key`` option.
- shim: :func:`kafka_wire_shim` re-wraps any event frame in the wire
  schema (as if it had been read back from a broker), so the round-trip
  encode -> wire -> decode is pinned by tests with no broker present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_source(
    spark: SparkSession,
    *,
    brokers: str,
    topic: str,
    value_schema: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """readStream from a kafka topic -> typed events (needs a broker; the
    sandbox tests exercise decode_kafka_records via kafka_wire_shim)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return decode_kafka_records(raw, value_schema)


def decode_kafka_records(raw: DataFrame, value_schema: str) -> DataFrame:
    """Kafka wire schema -> events: value decodes as JSON into
    ``value_schema`` columns; key + provenance columns ride along under
    kafka_* names (the reference's [@metadata][kafka] fields)."""
    ev = raw.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.col("topic").alias("kafka_topic"),
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
        F.col("timestamp").alias("kafka_ts"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("_v"),
    )
    return ev.select(
        "kafka_key", "kafka_topic", "kafka_partition", "kafka_offset", "kafka_ts", "_v.*"
    )


def encode_kafka_records(
    df: DataFrame,
    *,
    topic: str,
    key_template: str | None = None,
    fields: list[str] | None = None,
) -> DataFrame:
    """Events -> (key, value, topic), the frame ``.write.format('kafka')``
    consumes. value = JSON-serialized event (internal columns stripped);
    key from a sprintf template (``message_key``) or null."""
    from logstash_spark.event import sprintf_col
    from logstash_spark.sinks import strip_internal

    clean = strip_internal(df)
    cols = fields or clean.columns
    value = F.to_json(F.struct(*[F.col(c) for c in cols]))
    key = sprintf_col(key_template, df) if key_template else F.lit(None).cast("string")
    return df.select(
        key.alias("key"), value.alias("value"), F.lit(topic).alias("topic")
    )


def kafka_wire_shim(encoded: DataFrame, *, partitions: int = 4) -> DataFrame:
    """Wrap an encode_kafka_records frame in the FULL kafka wire schema —
    what readStream.format('kafka') would deliver after a broker round
    trip. Partition = hash(key) % N (null keys -> partition 0, standing in
    for round-robin deterministically); offset = row_number per partition.
    """
    from pyspark.sql import Window as W

    part = F.when(
        F.col("key").isNull(), F.lit(0)
    ).otherwise(F.pmod(F.xxhash64(F.col("key")), F.lit(partitions))).cast("int")
    w = W.partitionBy("partition").orderBy("value")
    return (
        encoded.select(
            F.col("key").cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
            "topic",
            part.alias("partition"),
        )
        .withColumn("offset", F.row_number().over(w).cast("long") - 1)
        .withColumn("timestamp", F.current_timestamp())
    )


# ---------------------------------------------------------------------------
# redis broker (default_plugins.rb redis input/output) — the reference's
# canonical shipper -> redis list -> indexer architecture (its getting-
# started docs stage every multi-box deployment through a redis list).
# Wire contract: the output json-serializes each event and RPUSHes it to
# a sprintf-able list key; the input BLPOPs and json-decodes. Same
# file-backed shim stance as the kafka contract above.
# ---------------------------------------------------------------------------


def encode_redis_records(
    df: DataFrame,
    *,
    key: str,
    fields: list[str] | None = None,
) -> DataFrame:
    """Events -> (key, value): value = JSON-serialized event (internal
    columns stripped), key from a sprintf template (``key =>
    "logstash-%{type}"``). This is the frame an RPUSH pipeline consumes;
    one shuffle-free projection."""
    from logstash_spark.event import sprintf_col
    from logstash_spark.sinks import strip_internal

    clean = strip_internal(df)
    cols = fields or clean.columns
    value = F.to_json(F.struct(*[F.col(c) for c in cols]))
    return df.select(sprintf_col(key, df).alias("key"), value.alias("value"))


def redis_wire_shim(encoded: DataFrame) -> DataFrame:
    """Wrap an encode_redis_records frame in the full list wire schema —
    what a consumer sees popping the list: per-key list_index in push
    order (deterministic stand-in: ordered by value, as a batch capture
    has no arrival clock)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("key").orderBy("value")
    return encoded.select(
        "key",
        (F.row_number().over(w).cast("long") - 1).alias("list_index"),
        "value",
    )


def decode_redis_records(raw: DataFrame, value_schema: str) -> DataFrame:
    """Redis list wire schema -> events: value decodes as JSON into
    ``value_schema`` columns; the list key + position ride along under
    redis_* names."""
    ev = raw.select(
        F.col("key").alias("redis_key"),
        F.col("list_index").alias("redis_index"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("_v"),
    )
    return ev.select("redis_key", "redis_index", "_v.*")


# ---------------------------------------------------------------------------
# zeromq (default_plugins.rb:75 input, :7 output; docs/tutorials/zeromq.md)
# — brokerless socket pairs in three topologies: pushpull (load-balanced
# workers), pubsub (broadcast + subscriber-side TOPIC PREFIX filter), pair
# (one-to-one). The documented wire shape for pubsub is a MULTIPART
# message: first part = sprintf'd topic, second part = json event; the SUB
# side compares the first bytes of the message against its topic (prefix
# match, not equality). Same file-backed wire-contract stance as the
# kafka/redis shims above — live sockets are a deployment concern.
# ---------------------------------------------------------------------------

_ZMQ_TOPOLOGIES = ("pushpull", "pubsub", "pair")


def encode_zeromq_records(
    df: DataFrame,
    *,
    topology: str = "pushpull",
    topic: str | None = None,
    fields: list[str] | None = None,
) -> DataFrame:
    """Events -> zeromq frames. pubsub emits the multipart (topic, value)
    with a sprintf-able topic (``topic => "logs.production.%{host}"``);
    pushpull/pair emit a single-part message (topic = null). One
    shuffle-free projection."""
    from logstash_spark.event import sprintf_col
    from logstash_spark.sinks import strip_internal

    if topology not in _ZMQ_TOPOLOGIES:
        raise ValueError(f"zeromq topology must be one of {_ZMQ_TOPOLOGIES}")
    clean = strip_internal(df)
    cols = fields or clean.columns
    value = F.to_json(F.struct(*[F.col(c) for c in cols]))
    if topology == "pubsub":
        t = sprintf_col(topic or "", df)
    else:
        t = F.lit(None).cast("string")
    return df.select(t.alias("topic"), value.alias("value"))


def zeromq_wire_shim(
    encoded: DataFrame, *, topology: str = "pushpull", peers: int = 1
) -> DataFrame:
    """Wrap an encode_zeromq_records frame in the delivered wire schema.
    pushpull load-balances across connected peers (deterministic stand-in:
    hash(value) % peers — 0mq's fair-queuing has no arrival clock in a
    batch capture, and a hash spread avoids a global-order window);
    pubsub/pair deliver every message to the one captured socket (peer 0).
    seq = delivery position per peer (per-peer window, same bounded shape
    as the kafka shim's per-partition offsets)."""
    from pyspark.sql import Window as W

    if topology not in _ZMQ_TOPOLOGIES:
        raise ValueError(f"zeromq topology must be one of {_ZMQ_TOPOLOGIES}")
    if topology == "pushpull" and peers > 1:
        peer = F.pmod(F.xxhash64(F.col("value")), F.lit(peers)).cast("int")
    else:
        peer = F.lit(0)
    with_peer = encoded.select("topic", "value", peer.alias("peer"))
    w_peer = W.partitionBy("peer").orderBy("value")
    return with_peer.withColumn(
        "seq", F.row_number().over(w_peer).cast("long") - 1
    )


def decode_zeromq_records(
    raw: DataFrame, value_schema: str, *, topic_filter: str | None = None
) -> DataFrame:
    """zeromq wire schema -> events. topic_filter applies the documented
    SUB-side semantics: the subscriber receives ALL messages and keeps
    those whose topic's FIRST BYTES match (prefix, not equality). Topic +
    delivery metadata ride along under zmq_* names."""
    ev = raw
    if topic_filter is not None:
        ev = ev.filter(F.col("topic").startswith(topic_filter))
    ev = ev.select(
        F.col("topic").alias("zmq_topic"),
        F.col("peer").alias("zmq_peer"),
        F.col("seq").alias("zmq_seq"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("_v"),
    )
    return ev.select("zmq_topic", "zmq_peer", "zmq_seq", "_v.*")
