"""Sketch guarantees: the oracle gate proves engine/DuckDB equality; these
tests pin the mathematical properties that make the sketches USEFUL — the
one-sided CM error, the HLL error envelope, the MG sandwich — plus the
plan shapes that make them scale (bounded shuffles, broadcast probes)."""

import pytest
from pyspark.sql import functions as F

from logstash_spark.functions.sketch import (
    cms_build,
    cms_probe,
    heavy_hitters_mg,
    hll_estimate,
    hll_registers,
    tokens,
)
from logstash_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def toks(spark, sf_dir):
    df = tokens(load_table(spark, sf_dir, "documents")).cache()
    df.count()
    yield df
    df.unpersist()


def test_cms_overcounts_only(spark, toks):
    cms = cms_build(toks, d=4, w=16)
    vocab = toks.distinct()
    est = cms_probe(cms, vocab, d=4, w=16)
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact"))
    rows = est.join(exact, "tok").collect()
    assert rows
    # CM is one-sided: est >= exact for EVERY key, and with w=16 over a
    # 31-token vocab at least one collision must actually overcount
    assert all(r["est"] >= r["exact"] for r in rows)
    assert any(r["est"] > r["exact"] for r in rows)


def test_cms_error_bound(spark, toks):
    # standard CM guarantee with d rows: P[err > e*N] <= (1/2)^d-ish for
    # w >= 2/e; here w=16 -> e = 2/16, so err <= N/8 must hold for the
    # min-estimate on this corpus (deterministic given the fixed hash)
    n = toks.count()
    cms = cms_build(toks, d=4, w=16)
    est = cms_probe(cms, toks.distinct(), d=4, w=16)
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact"))
    worst = (
        est.join(exact, "tok")
        .select(F.max(F.col("est") - F.col("exact")).alias("w"))
        .collect()[0]["w"]
    )
    assert worst <= n / 8


def test_cms_absent_key_is_pure_collision_mass(spark, toks):
    cms = cms_build(toks, d=4, w=512)
    # with w=512 and 31 tokens, an absent probe should usually hit empty
    # cells in at least one of 4 rows -> estimate 0
    probes = spark.createDataFrame([("qqabsentqq",)], "tok string")
    est = cms_probe(cms, probes, d=4, w=512).collect()[0]["est"]
    assert est == 0


def test_cms_sketch_size_bounded(spark, toks):
    cms = cms_build(toks, d=4, w=16)
    assert cms.count() <= 4 * 16


def test_cms_probe_broadcasts_sketch(spark, toks):
    cms = cms_build(toks, d=4, w=16)
    probes = spark.createDataFrame([("the",)], "tok string")
    plan = cms_probe(cms, probes, d=4, w=16)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hll_error_envelope(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    regs = hll_registers(e, ["event_type"], "user_id")
    est = hll_estimate(regs, ["event_type"])
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact")
    )
    rows = est.join(exact, "event_type").collect()
    assert rows
    for r in rows:
        # p=12 -> 1.04/sqrt(4096) ~ 1.6% std error; linear counting at
        # small n is tighter still. 5% is a hard cushion, not the target.
        assert r["exact"] > 0
        assert abs(r["est_hll"] - r["exact"]) / r["exact"] < 0.05


def test_hll_register_table_bounded(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    regs = hll_registers(e, ["event_type"], "user_id")
    per_group = regs.groupBy("event_type").count().collect()
    assert all(r["count"] <= 4096 for r in per_group)
    # rho is 1..33 by construction
    mm = regs.select(F.min("mrho").alias("lo"), F.max("mrho").alias("hi")).collect()[0]
    assert mm["lo"] >= 1 and mm["hi"] <= 33


def test_hll_merge_equals_rebuild(spark, sf_dir):
    """Mergeability: registers built on two halves, unioned and re-maxed,
    must equal registers built on the whole — the property that lets a
    1000-executor cluster combine per-partition sketches."""
    e = load_table(spark, sf_dir, "events")
    a = hll_registers(e.filter(F.col("event_id") % 2 == 0), ["event_type"], "user_id")
    b = hll_registers(e.filter(F.col("event_id") % 2 == 1), ["event_type"], "user_id")
    merged = (
        a.unionByName(b)
        .groupBy("event_type", "reg")
        .agg(F.max("mrho").alias("mrho"))
    )
    whole = hll_registers(e, ["event_type"], "user_id")
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_mg_sandwich_and_size(spark, toks):
    hh = heavy_hitters_mg(toks, k=8, local_k=5, shards=4)
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact"))
    rows = hh.join(exact, "tok").collect()
    assert 0 < len(rows) <= 8
    for r in rows:
        assert r["est"] <= r["exact"] <= r["est"] + r["err_bound"]


def test_mg_finds_a_planted_heavy_hitter(spark, toks):
    # plant a token at ~20% of the stream: MG with k=8 MUST surface any
    # key above n/(k+1) of the mass
    n = toks.count()
    planted = spark.range(n // 5).select(F.lit("plantedheavy").alias("tok"))
    stream = toks.unionByName(planted)
    hh = heavy_hitters_mg(stream, k=8, local_k=5, shards=4)
    found = [r["tok"] for r in hh.collect()]
    assert "plantedheavy" in found


def test_mg_deterministic_across_partitionings(spark, toks):
    a = sorted(map(tuple, heavy_hitters_mg(toks, k=8, local_k=5, shards=4).collect()))
    b = sorted(
        map(
            tuple,
            heavy_hitters_mg(toks.repartition(13), k=8, local_k=5, shards=4).collect(),
        )
    )
    assert a == b


def test_hll_streaming_registers_match_batch(spark, sf_dir, tmp_path):
    """The register build is a plain groupBy/max, so the SAME function runs
    under Structured Streaming unchanged — per-micro-batch partial sketches
    merge in the state store exactly like executors merge partials in
    batch. Streamed registers (complete mode over a file source) must
    equal the batch registers, and therefore so must the estimates."""
    import time as _t

    from logstash_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    e.write.mode("overwrite").parquet(str(tmp_path / "ev"))
    batch = {
        (r["event_type"], r["reg"]): r["mrho"]
        for r in hll_registers(
            spark.read.parquet(str(tmp_path / "ev")), ["event_type"], "user_id"
        ).collect()
    }

    stream = spark.readStream.schema(e.schema).parquet(str(tmp_path / "ev"))
    q = (
        hll_registers(stream, ["event_type"], "user_id")
        .writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = _t.time() + 90
        got = {}
        while _t.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            got = {
                (r["event_type"], r["reg"]): r["mrho"]
                for r in spark.sql("select * from hll_regs").collect()
            }
            if got == batch:
                break
            _t.sleep(0.5)
    finally:
        q.stop()
    assert got == batch


def test_histogram_quantiles_error_bound(spark, sf_dir):
    """The sketch's guarantee is NEAREST-RANK: the returned bucket edge
    must be the bucket CONTAINING the ceil(q*n)-th order statistic, i.e.
    edge <= stat < edge + width. (Interpolating percentiles — Spark's
    `percentile` — can sit more than a bucket away in sparse tails; that
    is a different estimator, not an error.)"""
    import math

    from logstash_spark.functions.sketch import histogram_quantiles

    e = load_table(spark, sf_dir, "events")
    est = histogram_quantiles(
        e, "value", [0.5, 0.9, 0.99], lo=0.0, hi=1000.0, buckets=1000,
        group_cols=["event_type"],
    )
    vals: dict[str, list[float]] = {}
    for r in e.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for v in vals.values():
        v.sort()
    for r in est.collect():
        v = vals[r["event_type"]]
        stat = v[math.ceil(r["q"] * len(v)) - 1]
        assert r["est"] <= stat < r["est"] + 1.0, (r, stat)


def test_histogram_quantiles_state_bounded_and_mergeable(spark, sf_dir):
    from logstash_spark.functions.sketch import histogram_quantiles

    e = load_table(spark, sf_dir, "events")
    out = histogram_quantiles(
        e, "value", [0.5], lo=0.0, hi=1000.0, buckets=64, group_cols=["event_type"]
    )
    # coarse buckets still answer, and per-group state never exceeds `buckets`
    assert out.count() == e.select("event_type").distinct().count()
    # mergeability is addition: two halves' histograms summed == whole —
    # implicitly exercised by Spark's partial aggregation, asserted here
    # by equality of results across a repartition
    a = sorted(map(tuple, out.collect()))
    b = sorted(
        map(
            tuple,
            histogram_quantiles(
                e.repartition(17), "value", [0.5], lo=0.0, hi=1000.0,
                buckets=64, group_cols=["event_type"],
            ).collect(),
        )
    )
    assert a == b


def test_histogram_quantiles_out_of_domain_clamps(spark):
    from logstash_spark.functions.sketch import histogram_quantiles

    df = spark.createDataFrame(
        [(-5.0,), (0.5,), (1.5,), (99.0,)], "v double"
    )
    r = {
        r["q"]: r["est"]
        for r in histogram_quantiles(
            df, "v", [0.25, 1.0], lo=0.0, hi=10.0, buckets=10
        ).collect()
    }
    # -5 clamps into bucket 0, 99 into the top bucket (edge 9.0)
    assert r[0.25] == 0.0
    assert r[1.0] == 9.0
