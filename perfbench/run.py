"""Benchmark entry point: one workload per call, in its own process.

    python3 perfbench/run.py --workload flagship_agg --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6

Run from the repository root. The workload runs in a child process
(``workloads.py``) with its own Spark session on ``local[<usable cores>]``;
everything it writes stays under ``.perfbench/`` in the root. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, where the metrics are the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0`` and its per-layer metrics with
``--trace 1`` (0 for a layer the workload does not exercise).

``--workload all`` runs every workload untraced and then traced, prints
every metric with its unit, and gives the tracing overhead as traced
docs/s against untraced docs/s.

A run, with every process it starts, ends within ``RUN_LIMIT_S``. A process
that fails, or is stopped at that limit, is counted as a failed operation
and marks the run invalid; the result line is printed all the same.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("job_daily", "flagship_agg", "stream_files")
# a run must end within 180 s; the processes it starts share this budget
RUN_LIMIT_S = 170
KEEP = {"result.json", "spans.json", "driver.log", "job.stdout"}
# per-layer metrics only the shipped job exercises; the traced stream_files
# run reports them from a traced job_daily run
JOB_LAYERS = ("sources.scans_per_slice", "useragent.self_s", "useragent.codegen_fallbacks",
              "job.sql_executions_per_slice", "lineage.slice_s_p50", "lineage.driver_gap_s", "lineage.resume_s")


def spec() -> dict:
    """BENCHMARK.json, or exit when the tree is not a checkout of the
    program (the package, the shipped job and the spec must all exist)."""
    need = [os.path.join(ROOT, "BENCHMARK.json"), os.path.join(ROOT, "logstash_spark", "__init__.py"),
            os.path.join(ROOT, "jobs", "run_pipeline.py")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        sys.exit(f"perfbench: not a checkout of the program, missing {', '.join(missing)}")
    with open(need[0]) as f:
        return json.load(f)


def _run_pids(marker: str) -> list[int]:
    """Processes (other than this one) whose environment carries ``marker``."""
    pids = []
    needle = f"PERFBENCH_RUN={marker}".encode() + b"\0"
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if needle in f.read():
                    pids.append(int(d))
        except OSError:
            continue
    return pids


def reap(marker: str) -> None:
    """Stop every process the run started (the JVM, Python workers) and
    wait until each has ended."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _run_pids(marker)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait
        while _run_pids(marker) and time.monotonic() < end:
            time.sleep(0.1)


def child(rundir: str, args: list[str], deadline: float) -> tuple[dict | None, str | None]:
    """Run ``workloads.py`` with ``args`` in a process of its own, writing
    under ``rundir``, until ``deadline`` (``time.monotonic``). Returns its
    result, or None and the reason it has none."""
    shutil.rmtree(rundir, ignore_errors=True)
    tmp = os.path.join(rundir, "tmp")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(rundir, d))
    env = dict(
        os.environ,
        PERFBENCH_RUN=rundir,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(rundir, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(rundir, "warehouse"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell',
    )
    env.pop("SPARK_GRAFT_CPUS", None)
    budget = deadline - time.monotonic()
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"), *args, "--rundir", rundir, "--budget-s", f"{budget:.1f}"]
    try:
        with open(os.path.join(rundir, "driver.log"), "w") as err:
            proc = subprocess.Popen(cmd, stdout=err, stderr=err, cwd=ROOT, env=env, start_new_session=True)
            try:
                code = proc.wait(timeout=max(1.0, budget))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = None
    finally:
        reap(rundir)
    result_path = os.path.join(rundir, "result.json")
    if code == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
        for name in os.listdir(rundir):  # inputs, outputs, event log: large
            if name not in KEEP:
                p = os.path.join(rundir, name)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        return result, None
    with open(os.path.join(rundir, "driver.log"), errors="replace") as f:
        tail = [line for line in f if not line.startswith("@@perfbench")][-40:]
    sys.stderr.write("".join(tail))
    name = os.path.relpath(rundir, os.path.join(ROOT, ".perfbench"))
    if code is None:
        return None, f"{name}: stopped at the run's {RUN_LIMIT_S} s limit"
    return None, f"{name}: exit {code}, no result; log in {rundir}/driver.log"


def failure(why: str) -> dict:
    """The result of a process that has none: one failed operation, and
    the run is invalid."""
    cores = len(os.sched_getaffinity(0))
    return {"e2e": {}, "layers": {}, "attempted": 1, "failed": 1, "problems": [why],
            "info": {"cores": cores, "master": f"local[{cores}]", "valid": False, "invalid_reasons": [why]}}


def traced_job(res: dict, rundir: str, seed: int, seconds: float, deadline: float) -> None:
    """The shipped job's layers, from a traced job_daily run in a process
    of its own; its operations and validity count in this run's."""
    args = ["--workload", "job_daily", "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    sub, why = child(os.path.join(rundir, "job"), args, deadline)
    sub = sub or failure(why)
    for k in ("attempted", "failed", "problems"):
        res[k] += sub[k]
    if not sub["info"]["valid"]:
        res["info"]["valid"] = False
        res["info"]["invalid_reasons"] = res["info"]["invalid_reasons"] + sub["info"]["invalid_reasons"]
    res["layers"].update({k: sub["layers"].get(k, 0.0) for k in JOB_LAYERS})
    res["info"]["job"] = {"e2e": sub["e2e"], "info": sub["info"]}


def run_workload(workload: str, seed: int, seconds: float, trace: int) -> dict:
    deadline = time.monotonic() + RUN_LIMIT_S
    rundir = os.path.join(ROOT, ".perfbench", f"{workload}-s{seed}-t{trace}")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    res, why = child(rundir, args, deadline)
    if res is None:
        return failure(why)
    if trace and workload == "stream_files":
        traced_job(res, rundir, seed, seconds, deadline)
        with open(os.path.join(rundir, "result.json"), "w") as f:
            json.dump(res, f, indent=1)
    return res


def report(spec_: dict, result: dict, trace: int) -> dict:
    metrics = spec_["per_layer"] if trace else spec_["end_to_end"]
    values = result["layers"] if trace else result["e2e"]
    return {
        "correct": result["failed"] == 0 and result["attempted"] > 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in metrics},
    }


def validity_line(workload: str, result: dict) -> str:
    info = result["info"]
    load = info.get("loadavg", {})
    state = "valid" if info.get("valid") else "INVALID (" + "; ".join(info.get("invalid_reasons", [])) + ")"
    return (f"perfbench: {workload} run {state}; {info['master']}, loadavg before/max/after "
            f"{max(load.get('before') or [0]):.2f}/{max(load.get('during') or [0]):.2f}/"
            f"{max(load.get('after') or [0]):.2f}, fail_frac {result['failed'] / max(result['attempted'], 1):.4f}")


def run_all(spec_: dict, seed: int, seconds: float) -> None:
    rows, overhead = {}, {}
    workloads = [w["name"] for w in spec_["workloads"]]
    for w in workloads:
        for trace in (0, 1):
            res = run_workload(w, seed, seconds, trace)
            print(validity_line(w, res))
            rows[(w, trace)] = report(spec_, res, trace)
        plain = rows[(w, 0)]["metrics"]["docs_per_s"]["value"]
        traced = rows[(w, 1)]["metrics"]["trace.docs_per_s"]["value"]
        overhead[w] = 1.0 - traced / plain if plain else 0.0
    for trace, title in ((0, "end-to-end"), (1, "per-layer (traced run)")):
        print(f"\n{title:<34}" + "".join(f"{w:>16}" for w in workloads))
        for m in spec_["per_layer" if trace else "end_to_end"]:
            vals = "".join(f"{rows[(w, trace)]['metrics'][m['name']]['value']:>16.6g}" for w in workloads)
            print(f"{m['name'] + ' [' + m['unit'] + ']':<34}{vals}")
    print(f"\n{'tracing overhead (1 - traced/untraced docs/s)':<34}" + "".join(f"{overhead[w]:>16.3f}" for w in workloads))
    print(json.dumps({
        "correct": all(r["correct"] for r in rows.values()),
        "attempted": sum(r["attempted"] for r in rows.values()),
        "failed": sum(r["failed"] for r in rows.values()),
        "metrics": {f"{w}.{k}": v for (w, t), r in rows.items() if t == 0 for k, v in r["metrics"].items()},
    }))


def main() -> None:
    ap = argparse.ArgumentParser(description="sparklog benchmark")
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_ = spec()
    if args.workload == "all":
        run_all(spec_, args.seed, args.seconds)
        return
    res = run_workload(args.workload, args.seed, args.seconds, args.trace)
    line = validity_line(args.workload, res)
    print(line, file=sys.stderr)
    for p in res["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(line)
    print(json.dumps(report(spec_, res, args.trace)))


if __name__ == "__main__":
    main()
