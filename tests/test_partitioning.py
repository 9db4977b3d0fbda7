"""Explicit partitioning + skew salting (north-rule scale machinery)."""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_spark.partitioning import salt_hot_keys, salted_agg
from logstash_spark.sources.pages import synthetic_pages


def bucket_expr(url: Column, buckets: int) -> Column:
    return F.pmod(F.xxhash64(url), F.lit(buckets))


def bucket_pages(df: DataFrame, *, buckets: int = 256, url: str = "url", ts: str = "warc_ts") -> DataFrame:
    """Repartition to the canonical (day, url-bucket) layout."""
    return df.repartition(F.to_date(F.col(ts)), bucket_expr(F.col(url), buckets))


def hot_keys(
    df: DataFrame, key: str, *, threshold: float = 0.01, sample_fraction: float = 0.01, seed: int = 42
) -> list:
    """Keys holding more than ``threshold`` of rows, estimated on a sample."""
    sample = df.sample(fraction=sample_fraction, seed=seed) if sample_fraction < 1.0 else df
    total = sample.count()
    if total == 0:
        return []
    rows = (
        sample.groupBy(key).count().filter(F.col("count") > total * threshold).select(key).collect()
    )
    return [r[0] for r in rows]


def test_bucket_pages_layout(spark):
    p = synthetic_pages(spark, 1000)
    out = bucket_pages(p, buckets=8)
    # repartition is an exchange on (day, bucket): same data, new layout
    assert out.count() == 1000
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "simple")
    assert "Exchange hashpartitioning" in plan


def test_hot_key_detection_and_salting(spark):
    # 20% of synthetic pages hit host0 by construction (hot_host_fraction)
    p = synthetic_pages(spark, 4000).withColumn(
        "host", F.regexp_extract("url", r"https://([^.]+)\.", 1)
    )
    hot = hot_keys(p, "host", threshold=0.05, sample_fraction=1.0)
    assert hot == ["host0"]

    salted = salt_hot_keys(p, "host", hot, salts=8)
    dist = salted.filter(F.col("host") == "host0").select("_salt").distinct().count()
    assert dist > 1  # hot key spread over multiple salt buckets
    cold = salted.filter(F.col("host") != "host0").select("_salt").distinct().collect()
    assert [r["_salt"] for r in cold] == [0]


def test_salted_agg_matches_plain_agg(spark):
    p = synthetic_pages(spark, 2000).withColumn(
        "host", F.regexp_extract("url", r"https://([^.]+)\.", 1)
    ).withColumn("one", F.lit(1))
    hot = ["host0"]
    out = salted_agg(p, "host", {"one": "sum", "url": "count"}, hot=hot, salts=8)
    got = {r["host"]: (r["sum_one"], r["count_url"]) for r in out.collect()}
    plain = {
        r["host"]: (r["s"], r["c"])
        for r in p.groupBy("host").agg(F.sum("one").alias("s"), F.count("url").alias("c")).collect()
    }
    assert got == plain


class TestBucketedWrites:
    def test_bucketed_join_no_exchange(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from logstash_spark.partitioning import write_bucketed

        df = spark.range(1000).select(
            F.concat(F.lit("u"), F.col("id")).alias("url"),
            (F.col("id") % 7).alias("v"),
        )
        write_bucketed(df, "tb_left", key="url", buckets=4)
        write_bucketed(df.withColumnRenamed("v", "w"), "tb_right", key="url", buckets=4)
        # disable broadcast so the plan shows the big-x-big shape this
        # feature exists for (at bench scale AQE would broadcast instead)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("tb_left").join(spark.table("tb_right"), "url")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # the whole point: co-located bucket scans, NO shuffle at all
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            assert joined.count() == 1000

            # control: the same join over plain parquet DOES shuffle
            p1, p2 = str(tmp_path / "p1"), str(tmp_path / "p2")
            df.write.parquet(p1)
            df.withColumnRenamed("v", "w").write.parquet(p2)
            plain = spark.read.parquet(p1).join(spark.read.parquet(p2), "url")
            plain_plan = plain._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in plain_plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def test_bucketed_values_match_plain_join(self, spark):
        from pyspark.sql import functions as F

        from logstash_spark.partitioning import write_bucketed

        df = spark.range(200).select(
            F.concat(F.lit("k"), (F.col("id") % 50)).alias("url"),
            F.col("id").alias("v"),
        )
        write_bucketed(df, "tb_a", key="url", buckets=4)
        write_bucketed(df.select("url", F.col("v").alias("w")), "tb_b", key="url", buckets=4)
        got = (
            spark.table("tb_a").join(spark.table("tb_b"), "url")
            .groupBy().agg(F.sum(F.col("v") * F.col("w")).alias("s")).collect()[0].s
        )
        want = (
            df.join(df.select("url", F.col("v").alias("w")), "url")
            .groupBy().agg(F.sum(F.col("v") * F.col("w")).alias("s")).collect()[0].s
        )
        assert got == want
