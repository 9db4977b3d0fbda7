"""Physical-plan shape assertions — the scale guarantees as CI checks."""

from pyspark.sql import functions as F

from logstash_spark.plans.checks import assert_no_python_udf, physical_plan


def _flagship(spark, grok_params=None):
    """The flagship chain (grok -> date -> mutate.convert -> translate ->
    geoip), first-match routed and aggregated per (sink, lang, country)."""
    from logstash_spark.pipeline import Pipeline, Stage
    from logstash_spark.sources.pages import synthetic_pages

    resp = spark.createDataFrame([("200", "ok"), ("404", "miss"), ("500", "server_error")],
                                 "key string, value string")
    geo = spark.range(64).select((F.col("id") * 65536).alias("ip_lo"),
                                 (F.col("id") * 65536 + 65535).alias("ip_hi"),
                                 F.concat(F.lit("C"), F.col("id").cast("string")).alias("country"))
    pipe = Pipeline(filters=[
        Stage(op="grok", params={"source": "text", "patterns": "%{COMBINEDAPACHELOG}", **(grok_params or {})}),
        Stage(op="date", params={"source": "timestamp", "formats": ["dd/MMM/yyyy:HH:mm:ss Z"]}),
        Stage(op="mutate.convert", params={"mapping": {"bytes": "integer"}}),
        Stage(op="translate", params={"dim": resp, "source": "response", "target": "resp_class",
                                      "fallback": "unknown"}),
        Stage(op="geoip", params={"geo_dim": geo, "source": "clientip", "fields": ["country"]}),
    ])
    g = pipe.transform(synthetic_pages(spark, 1000, include_junk=True))
    sink = (F.when(F.col("response").rlike("^5"), "errors")
            .when(~F.col("_grok_matched"), "unparsed")
            .otherwise("ok"))
    return (g.withColumn("sink", sink).groupBy("sink", "lang", "geoip_country")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("bytes").alias("total_bytes")))


def test_e2e_plan_shape(spark):
    """The flagship pipeline: broadcast enrichments, no row-Python, no
    sort-merge join anywhere."""
    plan = physical_plan(_flagship(spark))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan  # RE2 engine => ArrowEvalPython only
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan


def test_e2e_expr_backend_fully_jvm(spark):
    """A pattern RE2 rejects (here a lookbehind) runs on Java regex, and
    the whole flagship chain stays in the JVM."""
    plan = physical_plan(_flagship(spark, {"patterns": r"(?<!\S)%{COMBINEDAPACHELOG}"}))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_parquet_scan_prunes_columns(spark, sf_dir):
    """Column pruning + predicate pushdown reach the parquet scan."""
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .select("l_returnflag", "l_quantity")
    )
    plan = physical_plan(df)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # ReadSchema should not include unprojected wide columns
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_comment" not in read_schema


def test_mutate_chain_stays_in_codegen(spark):
    from logstash_spark.operators import mutate as M
    from logstash_spark.sources.pages import synthetic_pages

    p = synthetic_pages(spark, 10)
    p = M.uppercase(p, "lang")
    p = M.gsub(p, [("url", "https", "http")])
    assert_no_python_udf(p)
    # single codegen'd Project over the Range — no exchanges, no UDF nodes
    plan = physical_plan(p)
    assert "Exchange" not in plan


def test_shipped_job_plan_shape(spark, tmp_path):
    """The shipped job's own spec (``jobs/run_pipeline.py`` build_pipeline),
    transformed and routed: no row-at-a-time Python, no sort-merge or
    cartesian join."""
    import os
    import runpy

    from logstash_spark.pipeline import output_predicate
    from logstash_spark.sources.pages import synthetic_pages

    job = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs", "run_pipeline.py")
    pipe = runpy.run_path(job)["build_pipeline"](str(tmp_path))
    df = pipe.transform(synthetic_pages(spark, 100))
    for o in pipe.outputs:
        df = df.withColumn(f"_route_{o.name}", output_predicate(df, o))
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # every stage compiles: with the fallback off, a generated method over
    # the 64 KB limit fails the query instead of running interpreted
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert len(df.limit(5).collect()) == 5
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
