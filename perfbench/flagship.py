"""The flagship_agg workload's plan, built from the public pipeline API.

scan -> grok -> date -> mutate.convert -> translate -> geoip -> route ->
per-sink groupBy. The stages come from ``Pipeline``/``Stage`` and the
operator registry; the routes are ``Output`` predicates. ``stages()`` also
yields every cumulative prefix of that chain, which the traced run forces
one after another (the layer ladder).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.conditions import Cmp, Field, Not, Rx
from logstash_spark.pipeline import Output, Pipeline, Stage, output_predicate
from logstash_spark.sinks import NullSink


SINKS = ("errors", "unparsed", "ok")


def dims(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(response-class dictionary, /16 geo ranges: every even block index
    in [256, 224*256), the blocks ``gen.expected_counts`` counts as hits).
    Both are plain JVM relations, so forcing the plan runs no Python for
    them."""
    resp = spark.sql(
        "SELECT * FROM VALUES ('200', 'ok'), ('301', 'redirect'), ('404', 'miss'), "
        "('500', 'server_error'), ('503', 'server_error') AS t(key, value)"
    )
    block = F.col("id")
    geo = spark.range(256, 224 * 256, 2).select(
        (block * 65536).alias("ip_lo"),
        (block * 65536 + 65535).alias("ip_hi"),
        F.concat(F.lit("C"), (block % 249).cast("string")).alias("country"),
    )
    return resp, geo


def pipeline(spark: SparkSession) -> Pipeline:
    resp, geo = dims(spark)
    five = Rx(Field("[response]"), "^5")
    return Pipeline(
        filters=[
            Stage(op="grok", params={"source": "text", "patterns": "%{COMBINEDAPACHELOG}"}),
            Stage(op="date", params={"source": "timestamp", "formats": ["dd/MMM/yyyy:HH:mm:ss Z"]}),
            Stage(op="mutate.convert", params={"mapping": {"bytes": "integer"}}),
            Stage(op="translate", params={"dim": resp, "source": "response", "target": "resp_class",
                                          "fallback": "unknown"}),
            Stage(op="geoip", params={"geo_dim": geo, "source": "clientip", "fields": ["country"]}),
        ],
        outputs=[
            Output("errors", NullSink(), when=five),
            Output("unparsed", NullSink(), when=Not(Cmp(Field("[_grok_matched]"), "==", True))),
            Output("ok", NullSink()),
        ],
    )


def route(pipe: Pipeline, df: DataFrame) -> DataFrame:
    """First matching output names the row's sink (outputs in order)."""
    sink = None
    for o in pipe.outputs:
        cond = output_predicate(df, o)
        sink = F.when(cond, o.name) if sink is None else sink.when(cond, o.name)
    return df.withColumn("sink", sink)


def aggregate(df: DataFrame) -> DataFrame:
    return df.groupBy("sink", "lang", "geoip_country").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bytes").alias("total_bytes"),
        F.min("@timestamp").alias("first_ts"),
        F.max("@timestamp").alias("last_ts"),
    )


def build(spark: SparkSession, pages: DataFrame) -> DataFrame:
    pipe = pipeline(spark)
    return aggregate(route(pipe, pipe.transform(pages)))


def ladder(spark: SparkSession, pages: DataFrame) -> list[tuple[str, DataFrame]]:
    """Cumulative rungs: scan, each stage prefix, route, aggregate."""
    pipe = pipeline(spark)
    rungs = [("scan", pages)]
    df = pages
    for st in pipe.filters:
        df = Pipeline(filters=[st]).transform(df)
        rungs.append((st.op.split(".")[0], df))
    df = route(pipe, df)
    rungs.append(("route", df))
    rungs.append(("agg", aggregate(df)))
    return rungs
