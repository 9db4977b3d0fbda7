"""Checkpoint/resume (per-partition lineage manifest) + pipeline metrics."""

from pyspark.sql import functions as F


def test_lineage_resume(spark, tmp_path):
    """run_partitioned skips completed partitions on restart — the batch
    checkpoint/resume contract of the north rule."""
    from logstash_spark.lineage import LineageManifest, run_partitioned

    manifest_path = str(tmp_path / "manifest.jsonl")
    processed = []

    def job(p):
        processed.append(p)
        return 10, {"sink": 10}

    parts = ["2013-01-01", "2013-01-02", "2013-01-03"]
    m = run_partitioned(spark, parts, job, manifest_path)
    assert processed == parts
    assert all(m.is_done(p) for p in parts)

    # restart: nothing reruns; a new partition runs
    processed.clear()
    m2 = run_partitioned(spark, parts + ["2013-01-04"], job, manifest_path)
    assert processed == ["2013-01-04"]
    assert m2.entries["2013-01-01"]["rows_out"] == {"sink": 10}

    # manifest survives reload
    m3 = LineageManifest.load(manifest_path)
    assert len(m3.entries) == 4


def test_metrics_observe_single_pass(spark):
    """Observation metrics collect during the SAME job (no extra scan) and
    report rows + failure-tag counts."""
    from logstash_spark.metrics import PipelineMetrics
    from logstash_spark.operators.grok import grok
    from logstash_spark.sources.pages import synthetic_pages

    pm = PipelineMetrics()
    p = synthetic_pages(spark, 100, include_junk=True)
    g = grok(p, "text", "%{COMBINEDAPACHELOG}")
    g = pm.observe(g, "parse", failure_tags=["_grokparsefailure"])
    g.write.format("noop").mode("overwrite").save()
    rep = pm.report()
    assert rep["stages"]["parse"]["rows"] == 100
    assert 0 < rep["stages"]["parse"]["_grokparsefailure"] < 100


def test_lineage_manifest_tolerates_truncated_tail(tmp_path):
    """A crash mid-write can leave a truncated trailing JSON line — load()
    must skip it (that partition re-runs) instead of raising and blocking
    resume forever."""
    from logstash_spark.lineage import LineageManifest

    p = str(tmp_path / "m.jsonl")
    m = LineageManifest.load(p)
    m.record("2024-01-01", rows_in=10, rows_out={"ok": 10}, wall_s=1.0)
    m.record("2024-01-02", rows_in=20, rows_out={"ok": 20}, wall_s=1.0)
    with open(p, "a") as f:
        f.write('{"partition": "2024-01-03", "status": "do')  # torn write
    m2 = LineageManifest.load(p)
    assert m2.is_done("2024-01-01") and m2.is_done("2024-01-02")
    assert not m2.is_done("2024-01-03")
