"""Source readers — the engine's input surface.

The reference's input plugins (manifest rakelib/default_plugins.rb:49-76)
reduce, in a Spark-first design, to table scans + record-oriented parsing:

- file/s3       -> spark.read / readStream over parquet, Iceberg, text, json
- kafka/bus     -> spark.readStream.format('kafka') (streaming module)
- generator     -> sources.pages.synthetic_pages
- tcp/udp/syslog -> sources.sockets (Spark socket stream + bounded capture)
- exec/pipe/elasticsearch -> sources.pull (driver-side control-plane pulls)
- daemon inputs (irc, xmpp, imap...) are deployment concerns; out of scope
  (SURVEY §2.2).

Iceberg is the designated table format in the north rule; the runtime here
has plain parquet, so Iceberg is gated: same call sites, format string
switches when a catalog is configured.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated table; registers a same-named temp view."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    df.createOrReplaceTempView(name)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def read_pages(spark: SparkSession, location: str, *, streaming: bool = False) -> DataFrame:
    """The production entry: scan the web-pages table.

    On a real deployment ``location`` is an Iceberg table name
    (catalog.db.pages) and this becomes ``spark.read.table(...)`` /
    ``spark.readStream.format('iceberg')`` — partition pruning on
    warc_ts-derived partitions and column pruning of `html` when untouched
    both come from the format's metadata. Here: parquet path fallback.
    """
    if "." in location and "/" not in location:
        # catalog table name — Iceberg path
        return (spark.readStream if streaming else spark.read).table(location)
    if streaming:
        return spark.readStream.format("parquet").load(location)
    return spark.read.parquet(location)


def write_pages(df: DataFrame, location: str, *, mode: str = "overwrite") -> None:
    """Write the pages table partitioned for the pipeline's access pattern:
    day(warc_ts) partitions + url-hash bucketing would apply on Iceberg
    (`PARTITIONED BY (days(warc_ts), bucket(256, url))`); parquet fallback
    partitions by date only."""
    from pyspark.sql import functions as F

    (
        df.withColumn("warc_date", F.to_date("warc_ts"))
        .write.mode(mode)
        .partitionBy("warc_date")
        .parquet(location)
    )


def heartbeat_stream(spark: SparkSession, *, interval_seconds: int = 1, host: str = "heartbeat"):
    """`heartbeat` input (manifest logstash-input-heartbeat): periodic
    liveness events. Streaming: the rate source (one row per tick) mapped
    onto the plugin's event shape (host, @timestamp, clock sequence)."""
    from pyspark.sql import functions as F

    # the rate source cannot tick slower than 1 row/sec: generate at 1/sec
    # and keep every interval-th row (value is the monotonically increasing
    # tick counter), so interval => 10 really means one beat per 10s
    rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    iv = max(1, int(interval_seconds))
    beats = rate.filter(F.pmod(F.col("value"), F.lit(iv)) == 0)
    return beats.select(
        F.lit(host).alias("host"),
        F.col("timestamp").alias("@timestamp"),
        (F.col("value") / iv).cast("long").alias("clock"),
        F.lit("ok").alias("message"),
    )
