"""Output checks that decide which benchmark operations failed.

An operation is a job day-slice, a flagship pass or a stream file. Each
check compares what the program wrote against what ``gen`` computed from
its own columns, and returns the problems it found (empty when correct).
Outputs are read with pyarrow, outside the Spark session under test.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow.compute as pc
import pyarrow.dataset as ds


def _rows(path: str, columns: list[str] | None = None):
    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet").to_table(columns=columns)


def read_manifest(path: str) -> dict[str, dict]:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {e["partition"]: e for e in map(json.loads, filter(str.strip, f))}


def check_flagship(totals: dict, expected: dict) -> list[str]:
    """``totals`` maps ``<sink>.<field>`` to the pass's aggregate totals
    (n, total_bytes, geo_hits, first_ts, last_ts per sink)."""
    problems = []
    for sink, exp in expected["flagship"].items():
        for k, v in exp.items():
            got = totals.get(f"{sink}.{k}")
            if got != v:
                problems.append(f"flagship {sink}.{k}: got {got}, expected {v}")
    return problems


def check_job_pass(out_dir: str, manifest_path: str, expected: dict) -> tuple[int, list[str], list[str]]:
    """Check one job invocation. Returns (slices attempted, failed slice
    names, problems). A slice fails when its manifest entry is missing or
    its counts differ; every slice fails when the sinks' or the per-sink
    aggregate's totals differ, because they cannot be told apart by day."""
    man = read_manifest(manifest_path)
    days = expected["days"]
    failed, problems = [], []
    for day, exp in days.items():
        e = man.get(day)
        if e is None or e.get("status") != "done":
            failed.append(day)
            problems.append(f"job {day}: not in manifest")
            continue
        got = {"rows_in": e.get("rows_in"), **{k: e.get("rows_out", {}).get(k) for k in ("errors", "ok")}}
        if got != exp:
            failed.append(day)
            problems.append(f"job {day}: manifest {got}, expected {exp}")
    whole = []
    got_rows = sink_rows(out_dir, expected["sinks"])
    for sink, n in expected["sinks"].items():
        got = got_rows[sink]
        if got != n:
            whole.append(f"job sink {sink}: {got} rows, expected {n}")
    agg = _rows(os.path.join(out_dir, "agg"), ["sink", "lang", "n"])
    got_agg: Counter = Counter()
    if agg is not None:
        for s, lg, n in zip(*(agg.column(c).to_pylist() for c in ("sink", "lang", "n"))):
            got_agg[f"{s}|{lg}"] += n
    if dict(got_agg) != expected["job_agg"]:
        whole.append(f"job agg: {dict(got_agg)}, expected {expected['job_agg']}")
    if whole:
        problems += whole
        failed = list(days)
    return len(days), failed, problems


def sink_rows(out_dir: str, sinks) -> dict[str, int]:
    out = {}
    for s in sinks:
        p = os.path.join(out_dir, s)
        out[s] = ds.dataset(p, format="parquet").count_rows() if os.path.isdir(p) else 0
    return out


def check_resume(before: dict, after: dict, man_before: dict, man_after: dict) -> list[str]:
    """A resume against a completed manifest skips every day: no rows
    added to any output, manifest unchanged."""
    problems = []
    if before != after:
        problems.append(f"resume added rows: {before} -> {after}")
    if man_before != man_after:
        problems.append("resume rewrote the manifest")
    return problems


def check_stream(out_dirs: list[str], files: list[dict]) -> tuple[list[str], list[str]]:
    """Every generated row is in exactly one sink exactly once. Row ids are
    the trailing ``/p/<id>`` of the url. Returns (failed file names,
    problems)."""
    seen: Counter = Counter()
    for d in out_dirs:
        t = _rows(d, ["url"])
        if t is None:
            continue
        ids = pc.cast(pc.struct_field(pc.extract_regex(t.column("url"), r"/p/(?P<id>\d+)$"), [0]), "int64")
        seen.update(ids.to_pylist())
    failed, problems = [], []
    known = 0
    for f in files:
        lo, n = f["first_id"], f["rows"]
        known += n
        bad = sum(1 for i in range(lo, lo + n) if seen.get(i, 0) != 1)
        if bad:
            failed.append(f["name"])
            problems.append(f"stream {f['name']}: {bad} of {n} rows missing or duplicated")
    extra = sum(seen.values()) - known
    if extra > 0 and not problems:
        problems.append(f"stream: {extra} rows not generated by the benchmark")
        failed = [f["name"] for f in files]
    return failed, problems
