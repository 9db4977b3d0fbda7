"""The spark-submit --py-files packaging contract (north rule) — runs the
real spark-submit binary against the zipped package."""

import json
import os
import shutil
import subprocess
import sys

import pytest

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


def test_run_pipeline_by_day_resume(tmp_path):
    """--by-day + --manifest: per-day lineage; a rerun skips completed days."""
    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "lineage.jsonl")
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--input", "synthetic:3000", "--out", out_dir,
        "--manifest", manifest, "--by-day",
    ]
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="4")
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)
    assert r1.returncode == 0, r1.stderr[-3000:]
    entries1 = [json.loads(l) for l in open(manifest)]
    assert len(entries1) > 0 and all(e["status"] == "done" for e in entries1)
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
