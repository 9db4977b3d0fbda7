"""Checkpoint/resume (per-partition lineage manifest) + pipeline metrics."""


def test_lineage_resume(tmp_path):
    """A restart skips the partitions the manifest lists as done, a new
    partition runs, and the manifest survives reload — the batch
    checkpoint/resume contract of the north rule."""
    from logstash_spark.lineage import LineageManifest

    manifest_path = str(tmp_path / "manifest.jsonl")
    parts = ["2013-01-01", "2013-01-02", "2013-01-03"]
    m = LineageManifest.load(manifest_path)
    assert not any(m.is_done(p) for p in parts)
    m.commit({p: (10, {"sink": 10}) for p in parts}, wall_s=1.0)
    assert all(m.is_done(p) for p in parts)

    # restart: done partitions are skipped; a new one runs
    m2 = LineageManifest.load(manifest_path)
    pending = [p for p in parts + ["2013-01-04"] if not m2.is_done(p)]
    assert pending == ["2013-01-04"]
    m2.commit({"2013-01-04": (5, {"sink": 5})}, wall_s=1.0)
    assert m2.entries["2013-01-01"]["rows_out"] == {"sink": 10}
    assert m2.entries["2013-01-04"]["rows_in"] == 5

    # manifest survives reload
    m3 = LineageManifest.load(manifest_path)
    assert len(m3.entries) == 4
    assert m3.entries == m2.entries


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
    LineageManifest.load(p).commit({"2024-01-01": (10, {"ok": 10}), "2024-01-02": (20, {"ok": 20})},
                                   wall_s=1.0)
    with open(p, "a") as f:
        f.write('{"partition": "2024-01-03", "status": "do')  # torn write
    m2 = LineageManifest.load(p)
    assert m2.is_done("2024-01-01") and m2.is_done("2024-01-02")
    assert not m2.is_done("2024-01-03")
