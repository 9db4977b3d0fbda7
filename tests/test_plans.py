"""Physical-plan shape assertions — the scale guarantees as CI checks."""

from pyspark.sql import functions as F

from logstash_spark.plans.checks import assert_no_python_udf, physical_plan


def test_e2e_plan_shape(spark):
    """The flagship pipeline: broadcast enrichments, no row-Python, no
    sort-merge join anywhere."""
    from logstash_spark.bench_pipeline import build_e2e

    df = build_e2e(spark, 1000)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan  # arrow backend => ArrowEvalPython only
    assert "CartesianProduct" not in plan


def test_e2e_expr_backend_fully_jvm(spark):
    from logstash_spark.bench_pipeline import build_e2e

    df = build_e2e(spark, 1000, backend="expr")
    plan = physical_plan(df)
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
