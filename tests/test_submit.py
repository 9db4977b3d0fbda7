"""The spark-submit --py-files packaging contract (north rule) — runs the
real spark-submit binary against the zipped package."""

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_make_pyfiles_zip(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_pyfiles import build

    out = build(str(tmp_path))
    import zipfile

    names = zipfile.ZipFile(out).namelist()
    assert "logstash_spark/__init__.py" in names
    assert "logstash_spark/operators/grok.py" in names
    assert not any("__pycache__" in n for n in names)


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit on PATH")
def test_spark_submit_end_to_end(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_pyfiles import build

    zip_path = build(str(tmp_path / "dist"))
    out_dir = str(tmp_path / "out")
    r = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "run_pipeline.py"),
            "--input", "synthetic:2000",
            "--out", out_dir,
        ],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path),  # NOT the repo root: the zip must provide the package
    )
    assert r.returncode == 0, r.stderr[-4000:]
    line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    report = json.loads(line)
    assert report["sinks"]["errors"] + report["sinks"]["ok"] == 2000
    stage = next(iter(report["metrics"]["stages"].values()))
    assert stage["rows"] == 2000


def _multi_day_pages(spark, path: str, n: int = 3000, days: int = 3) -> str:
    """Synthetic pages are one second apart (one day); spread them over
    ``days`` and write them to parquet for ``--input``."""
    from logstash_spark.sources.pages import synthetic_pages

    synthetic_pages(spark, n).withColumn(
        "warc_ts", F.expr(f"warc_ts + make_dt_interval(CAST(pmod(xxhash64(url), {days}) AS INT))")
    ).write.parquet(path)
    return path


def test_run_pipeline_by_day_resume(spark, tmp_path):
    """--by-day + --manifest: per-day lineage; a rerun skips completed days."""
    inp = _multi_day_pages(spark, str(tmp_path / "pages"))
    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "lineage.jsonl")
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--input", inp, "--out", out_dir,
        "--manifest", manifest, "--by-day",
    ]
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="4")
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)
    assert r1.returncode == 0, r1.stderr[-3000:]
    entries1 = [json.loads(l) for l in open(manifest)]
    assert len(entries1) > 0 and all(e["status"] == "done" for e in entries1)
    assert len(entries1) >= 2  # the resume below skips more than one day
    total = sum(e["rows_in"] for e in entries1)
    assert total == 3000
    ts1 = {e["partition"]: e["ts"] for e in entries1}

    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)
    assert r2.returncode == 0, r2.stderr[-3000:]
    entries2 = [json.loads(l) for l in open(manifest)]
    ts2 = {e["partition"]: e["ts"] for e in entries2}
    assert ts1 == ts2  # nothing re-ran

    # the per-sink aggregate (Output.agg_by) agrees with the sinks and the
    # manifest: one routing decision feeds the writes, agg and counts
    import pyarrow.parquet as pq

    agg = pq.read_table(os.path.join(out_dir, "agg")).to_pydict()
    agg_n = {}
    for sink, n in zip(agg["sink"], agg["n"]):
        agg_n[sink] = agg_n.get(sink, 0) + n
    sink_n = {s: pq.read_table(os.path.join(out_dir, s)).num_rows for s in ("errors", "ok")}
    assert agg_n == sink_n
    for e in entries2:
        assert set(e["rows_out"]) == {"errors", "ok"}
        assert e["rows_in"] == e["rows_out"]["errors"] + e["rows_out"]["ok"]
    assert {s: sum(e["rows_out"][s] for e in entries2) for s in sink_n} == sink_n


def test_run_pipeline_by_day_resume_after_crash_is_exactly_once(spark, tmp_path):
    """A crash after a day's sinks were written but before its manifest
    record leaves the day undone. The resume re-runs it and replaces that
    day's output, so every input row is in the sinks once and the per-day
    aggregate matches each manifest entry."""
    inp = _multi_day_pages(spark, str(tmp_path / "pages"))
    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "lineage.jsonl")
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--input", inp, "--out", out_dir, "--manifest", manifest, "--by-day",
    ]
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="4")
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)
    assert r1.returncode == 0, r1.stderr[-3000:]
    lines = open(manifest).read().splitlines()
    assert len(lines) >= 2
    with open(manifest, "w") as f:
        f.write("\n".join(lines[:-1]) + "\n")

    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)
    assert r2.returncode == 0, r2.stderr[-3000:]
    entries = [json.loads(l) for l in open(manifest)]
    assert len(entries) == len(lines)
    import pyarrow.parquet as pq

    assert sum(pq.read_table(os.path.join(out_dir, s)).num_rows for s in ("errors", "ok")) == 3000
    agg = pq.read_table(os.path.join(out_dir, "agg")).to_pydict()
    agg_n = {}
    for day, sink, n in zip(agg["day"], agg["sink"], agg["n"]):
        agg_n[(str(day), sink)] = agg_n.get((str(day), sink), 0) + n
    assert agg_n == {(e["partition"], s): n for e in entries
                     for s, n in e["rows_out"].items() if n}


def test_run_pipeline_conf_without_grok_by_day(tmp_path):
    """A --conf pipeline that defines none of the built-in pipeline's fields
    (no grok, so no response or lang) runs every day to completion."""
    conf = tmp_path / "tag.conf"
    conf.write_text('filter { mutate { add_tag => ["seen"] } }\n'
                    'output { file { path => "seen" } }\n')
    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "lineage.jsonl")
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--input", "synthetic:1000", "--out", out_dir, "--conf", str(conf),
        "--manifest", manifest, "--by-day",
    ]
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="4")
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)
    assert r.returncode == 0, r.stderr[-3000:]
    entries = [json.loads(l) for l in open(manifest)]
    assert len(entries) > 0 and all(e["status"] == "done" for e in entries)
    assert sum(e["rows_in"] for e in entries) == 1000
    import pyarrow.parquet as pq

    seen = pq.read_table(os.path.join(out_dir, "seen"))
    assert seen.num_rows == 1000
    assert all("seen" in tags for tags in seen.column("tags").to_pylist())


def test_run_pipeline_rejects_pipeline_without_outputs(tmp_path):
    """A pipeline with no outputs has no sink write to run it, so the job
    fails fast instead of waiting on counters nothing would fill."""
    conf = tmp_path / "no_output.conf"
    conf.write_text('filter { mutate { add_tag => ["seen"] } }\n')
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--input", "synthetic:10", "--out", str(tmp_path / "out"), "--conf", str(conf),
    ]
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="2")
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)
    assert r.returncode == 1
    assert "the pipeline has no outputs" in r.stderr


JOB = os.path.join(REPO, "jobs", "run_pipeline.py")


def _run_job_here(spark, monkeypatch, *argv: str) -> None:
    """The job in this process through ``runpy``, as perfbench's
    ``job_invoke`` runs it; its ``getOrCreate`` attaches to ``spark``."""
    import runpy

    monkeypatch.setattr(sys, "argv", [JOB, *argv])
    monkeypatch.setattr(sys, "path", list(sys.path))
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        with pytest.raises(SystemExit) as e:
            runpy.run_path(JOB, run_name="__main__")
        assert e.value.code in (None, 0)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)


def test_run_pipeline_by_day_one_pass_writes_each_sink_once(spark, tmp_path, monkeypatch):
    """A 3-day invocation writes ``errors``, ``ok`` and ``<out>/agg`` once
    each and commits its three manifest entries with one rename."""
    from pyspark.sql.readwriter import DataFrameWriter

    inp = _multi_day_pages(spark, str(tmp_path / "pages"))
    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "lineage.jsonl")
    writes, renames = [], []
    parquet, replace = DataFrameWriter.parquet, os.replace

    def counting_parquet(self, path, *a, **kw):
        writes.append(os.path.relpath(path, out_dir))
        return parquet(self, path, *a, **kw)

    def counting_replace(src, dst):
        renames.append(dst)
        return replace(src, dst)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)
    monkeypatch.setattr(os, "replace", counting_replace)
    _run_job_here(spark, monkeypatch, "--input", inp, "--out", out_dir,
                  "--manifest", manifest, "--by-day")
    assert sorted(writes) == ["agg", "errors", "ok"]
    assert renames.count(manifest) == 1
    entries = [json.loads(l) for l in open(manifest)]
    assert len(entries) == 3
    assert len({(e["ts"], e["wall_s"]) for e in entries}) == 1  # one pass, one commit
    assert sum(e["rows_in"] for e in entries) == 3000
    for e in entries:
        assert e["rows_in"] == e["rows_out"]["errors"] + e["rows_out"]["ok"]


def test_run_pipeline_by_day_null_warc_ts(spark, tmp_path, monkeypatch):
    """Rows without a ``warc_ts`` run under one ``null`` manifest entry and
    land in the sinks' default partition: each row is written once, a
    resume after losing that entry replaces it, and a resume with every
    entry done skips it."""
    from logstash_spark.sources.pages import synthetic_pages

    inp = str(tmp_path / "pages")
    synthetic_pages(spark, 300).withColumn(
        "warc_ts", F.when(F.second("warc_ts") % 10 != 0, F.col("warc_ts"))
    ).write.parquet(inp)
    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "lineage.jsonl")
    argv = ("--input", inp, "--out", out_dir, "--manifest", manifest, "--by-day")

    def sink_days():
        df = spark.read.parquet(os.path.join(out_dir, "errors")).unionByName(
            spark.read.parquet(os.path.join(out_dir, "ok")))
        return {str(r["day"]) if r["day"] else "null": r["n"]
                for r in df.groupBy("day").agg(F.count(F.lit(1)).alias("n")).collect()}

    _run_job_here(spark, monkeypatch, *argv)
    entries = {e["partition"]: e for e in map(json.loads, open(manifest))}
    assert entries["null"]["rows_in"] == 30
    assert {p: e["rows_in"] for p, e in entries.items()} == sink_days()
    assert sum(sink_days().values()) == 300

    # a crash before the null entry's commit: the resume replaces its rows
    lines = open(manifest).read().splitlines()
    with open(manifest, "w") as f:
        f.write("".join(l + "\n" for l in lines if json.loads(l)["partition"] != "null"))
    _run_job_here(spark, monkeypatch, *argv)
    assert sum(sink_days().values()) == 300
    committed = open(manifest, "rb").read()
    assert {json.loads(l)["partition"] for l in committed.splitlines()} == set(entries)

    # nothing pending: no write, the manifest is left byte-identical
    _run_job_here(spark, monkeypatch, *argv)
    assert open(manifest, "rb").read() == committed
    assert sum(sink_days().values()) == 300


def test_run_pipeline_conf_removing_warc_ts_by_day(spark, tmp_path, monkeypatch):
    """The day is keyed before the filters run, so a --conf pipeline that
    removes ``warc_ts`` still resumes by day, and its outputs carry no
    day column of the job's."""
    import pyarrow.parquet as pq

    conf = tmp_path / "rm.conf"
    conf.write_text('filter { mutate { remove_field => ["warc_ts"] } }\n'
                    'output { file { path => "seen" } }\n')
    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "lineage.jsonl")
    _run_job_here(spark, monkeypatch, "--input", "synthetic:200", "--out", out_dir, "--conf", str(conf),
                  "--manifest", manifest, "--by-day")
    assert [(e["partition"], e["rows_in"]) for e in map(json.loads, open(manifest))] == [("2013-01-01", 200)]
    seen = pq.read_table(os.path.join(out_dir, "seen"))
    assert seen.num_rows == 200
    assert sorted(seen.column_names) == ["html", "lang", "text", "url"]


@pytest.mark.parametrize("flag", [("--by-day",), ("--manifest", "lineage.jsonl")],
                         ids=["by_day_without_manifest", "manifest_without_by_day"])
def test_run_pipeline_by_day_flags_go_together(tmp_path, monkeypatch, capsys, flag):
    """``--by-day`` and ``--manifest`` are one switch: either alone is a
    usage error (exit 2), not a run that records nothing."""
    import runpy

    monkeypatch.setattr(sys, "argv", [JOB, "--input", "synthetic:10", "--out", str(tmp_path), *flag])
    monkeypatch.setattr(sys, "path", list(sys.path))
    with pytest.raises(SystemExit) as e:
        runpy.run_path(JOB, run_name="__main__")
    assert e.value.code == 2
    assert "--by-day and --manifest go together" in capsys.readouterr().err
