"""The flagship end-to-end benchmark pipeline: parse -> enrich -> route -> aggregate.

This is the north-star job (BASELINE.json): Common-Crawl-style pages,
grok-equivalent vectorized parse of the embedded combined-log line, date
parse, mutate, two broadcast enrichments (translate dictionary + geoip
IP-range), conditional routing, per-sink aggregates. Input is the
deterministic ``synthetic_pages`` generator (scale-free: linear in n, no
data movement at generation), so docs/sec measures the ENGINE, not IO.

Equivalent reference pipeline: file input -> grok -> date -> mutate ->
geoip/translate -> conditional outputs with statsd counts (docs/tutorials/
10-minute-walkthrough/apache-parse.conf + metrics-from-logs.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.sources.pages import synthetic_pages

APACHE_PATTERN = "%{COMBINEDAPACHELOG}"


def resp_class_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [("200", "ok"), ("301", "redirect"), ("404", "miss"),
         ("500", "server_error"), ("503", "server_error")],
        "key string, value string",
    )


def geo_dim(spark: SparkSession, n_ranges: int = 4096) -> DataFrame:
    """Synthetic /16-aligned geo ranges covering the generator's IP space."""
    return spark.range(n_ranges).select(
        (F.col("id") * 65536).alias("ip_lo"),
        (F.col("id") * 65536 + 65535).alias("ip_hi"),
        F.concat(F.lit("C"), (F.col("id") % 249).cast("string")).alias("country"),
    )


def build_e2e(
    spark: SparkSession, n_docs: int, *, backend: str = "auto",
    from_html: bool = False, input_df: DataFrame | None = None,
) -> DataFrame:
    """Full pipeline plan over n synthetic docs; returns the per-sink
    aggregate frame (small — forcing it executes the whole DAG once).

    ``from_html=True`` runs the north star's full shape: the parse input
    is EXTRACTED from the html binary column (decode + tag strip) instead
    of the pre-extracted text column — one more regex cascade per doc.

    ``input_df`` replaces the in-job generator with a pre-materialized
    pages frame (e.g. a parquet scan) — the bench's generator-excluded
    metric, and the production shape (scan -> pipeline).
    """
    from logstash_spark.operators.date import date
    from logstash_spark.operators.grok import grok
    from logstash_spark.operators import mutate as M
    from logstash_spark.operators.enrich import geoip, translate

    pages = input_df if input_df is not None else synthetic_pages(spark, n_docs, include_junk=True)

    text_col = "text"
    if from_html:
        from logstash_spark.functions.text import html_to_text

        pages = html_to_text(pages, source="html", target="text_x")
        text_col = "text_x"

    g = grok(pages, text_col, APACHE_PATTERN, backend=backend)
    g = date(g, "timestamp", ["dd/MMM/yyyy:HH:mm:ss Z"])
    g = M.convert(g, {"bytes": "integer"})
    g = translate(g, resp_class_dim(spark), source="response",
                  target="resp_class", fallback="unknown")
    g = geoip(g, geo_dim(spark), source="clientip", fields=["country"])

    route = (
        F.when(F.col("response").rlike("^5"), "errors")
        .when(F.col("_grok_matched") == False, "unparsed")  # noqa: E712
        .otherwise("ok")
    )
    return (
        g.withColumn("sink", route)
        .groupBy("sink", "lang", "geoip_country")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bytes").alias("total_bytes"),
            F.min("@timestamp").alias("first_ts"),
            F.max("@timestamp").alias("last_ts"),
        )
    )
