"""One benchmark workload, run in this process with its own Spark session.

    python3 perfbench/workloads.py --workload flagship_agg --seed 1 \\
        --seconds 10 --trace 0 --rundir .perfbench/flagship_agg-1-t0

``run.py`` is the entry point: it prepares the environment, starts this
script as a child process with its stderr (the Spark driver log) sent to
``<rundir>/driver.log``, and prints the result. This script writes
``<rundir>/result.json`` and ``<rundir>/spans.json``.

Order of a run: generate inputs from the seed (untimed), start the session
and run the warm-up (``setup_s``), run the timed region for ``--seconds``
while sampling RSS and load, check every operation's output. An operation
that raises counts as failed, like one whose output check fails; a wait
that runs past ``--budget-s`` also makes the run invalid. With
``--trace 1`` the session also writes Spark's event log, a fixed number of
timed passes is made so the counts repeat, and the layer ladder runs after
the timed region; per-layer metrics come from those, the driver log and
streaming progress events.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import runpy
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JOB = os.path.join(ROOT, "jobs", "run_pipeline.py")

FLAGSHIP_DOCS = 150_000
# passes keep speeding up until about the ninth (9.5, 3.4, 2.8, 2.4, 2.2 ...
# 1.9 s on 4 cores, with a 2 GB or the default 8 GB heap); timing from the
# fourth pass on put that trend into the median
FLAGSHIP_WARM_PASSES = 8
JOB_DOCS = 10_000
JOB_DAYS = 2
JOB_WARM_DOCS = 2_000  # one day, untimed: starts the Python workers, JIT
STREAM_ROWS_PER_FILE = 400
STREAM_FILES_PER_S = 10
STREAM_MIN_FILES = 100
STREAM_WARM_BATCHES = 3
# the pipeline's per-batch cost (planning, persist, two sink jobs) is 0.9 to
# 2.4 s on 4 cores, mostly whatever the batch size, depending on the host's
# other load; with a 1 s or 2 s trigger a slow period puts the stream at
# capacity and the lag grows with the backlog; 3 s keeps it below capacity
STREAM_TRIGGER_S = 3
STREAM_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
TRACE_PASSES = 3
# untimed passes in each fresh context of the scaling measurement; the JVM is
# already past its warm-up, only the context's Python workers are new
SCALE_WARM_PASSES = 2
# run validity: 1-minute loadavg above this many times the host's usable
# cores (not local[N]'s: the load is the host's), or a stream generator more
# than LATE_BOUND_S behind schedule, marks the run invalid (the workload
# itself accounts for about one times the core count)
LOAD_BOUND_PER_CORE = 2.0
LATE_BOUND_S = 0.25

FALLBACK_LINE = "Whole-stage codegen disabled"
CODE_TOO_BIG = "Code grows beyond 64 KB"


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    v = sorted(values)
    if not v:
        return 0.0
    x = (len(v) - 1) * q
    lo, hi = math.floor(x), math.ceil(x)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


# ---------------------------------------------------------------- tracing


class Trace:
    """Benchmark-side spans: name, start, end, parent and run id, kept in
    memory and written out when the run ends. Span boundaries are also
    written to stderr, which is the driver log, so log lines can be
    attributed to spans."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1]["name"] if self._stack else None
        s = {"name": name, "start": time.time(), "end": None, "parent": parent, "run_id": self.run_id, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        print(f"@@perfbench begin {name}", file=sys.stderr, flush=True)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            print(f"@@perfbench end {name}", file=sys.stderr, flush=True)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def enclosing(self, start: float, end: float) -> str | None:
        """Innermost span containing [start, end]."""
        best = None
        for s in self.spans:
            if s["start"] <= start and s["end"] is not None and end <= s["end"] + 0.001:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best["name"] if best else None


def log_count(log_path: str, span: str, needle: str) -> int:
    """Driver-log lines containing ``needle`` between a span's markers."""
    n, inside = 0, False
    with open(log_path, errors="replace") as f:
        for line in f:
            if line.startswith("@@perfbench "):
                if line.strip() == f"@@perfbench begin {span}":
                    inside = True
                elif line.strip() == f"@@perfbench end {span}":
                    inside = False
            elif inside and needle in line:
                n += 1
    return n


# ---------------------------------------------------------------- sampling


def _descendants(root_pid: int) -> list[int]:
    """JVM and Python processes descending from ``root_pid`` (the driver
    JVM, the Python worker daemon and its workers), found through /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm == "java" or comm.startswith("python"):
            out.append(pid)  # not a short-lived fork of the JVM, which shares its pages
    return out


def _rss_bytes(pids: list[int]) -> dict[str, int]:
    """RSS of ``pids`` summed per command name."""
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                out[comm] = out.get(comm, 0) + int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return out


class Sampler:
    """Samples the workload's RSS (every 0.25 s; the process list is walked
    every 2 s) and the 1-minute loadavg (every 1 s) while a timed region is
    open. The sampling thread shares the driver's interpreter with the
    workload, so it is kept cheap."""

    def __init__(self):
        self.peak_rss = 0
        self.peak_by_command: dict[str, int] = {}
        self.load = {"before": [], "during": [], "after": []}
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        last_load = last_walk = 0.0
        pids: list[int] = []
        while not self._stop.is_set():
            if self._active.is_set():
                now = time.monotonic()
                if now - last_walk >= 2.0:
                    pids, last_walk = _descendants(os.getpid()), now
                rss = _rss_bytes(pids)
                if sum(rss.values()) > self.peak_rss:
                    self.peak_rss, self.peak_by_command = sum(rss.values()), rss
                if now - last_load >= 1.0:
                    self.load["during"].append(os.getloadavg()[0])
                    last_load = now
            self._stop.wait(0.25)

    @contextlib.contextmanager
    def region(self):
        self.load["before"].append(os.getloadavg()[0])
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self.load["after"].append(os.getloadavg()[0])

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- context


class Run:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace_on = bool(args.trace)
        self.rundir = os.path.abspath(args.rundir)
        self.cores = len(os.sched_getaffinity(0))
        self.deadline = time.monotonic() + args.budget_s
        self.trace = Trace(f"{args.workload}-{args.seed}-t{args.trace}")
        self.sampler = Sampler()
        self.log = os.path.join(self.rundir, "driver.log")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.invalid_reasons: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.info: dict = {"cores": self.cores, "master": f"local[{self.cores}]"}

    def path(self, *parts: str) -> str:
        return os.path.join(self.rundir, *parts)

    def session(self):
        from logstash_spark.session import get_spark

        confs = {}
        if self.trace_on:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            confs = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        with self.trace.span("session") as s:
            spark = get_spark("perfbench", cores=self.cores, extra_confs=confs)
        self.layers["session.start_s"] = s["end"] - s["start"]
        return spark

    def ops(self, attempted: int, failed: int, problems: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        self.problems += problems

    def remaining(self) -> float:
        return self.deadline - time.monotonic()

    def event_log(self):
        import eventlog

        files = [os.path.join(dp, f) for dp, _, fs in os.walk(self.path("eventlog")) for f in fs
                 if not f.startswith(".") and not f.endswith(".crc")]
        lines = []
        for p in sorted(files):
            with open(p) as f:
                lines += f.readlines()
        execs = eventlog.parse(lines)
        self.trace.spans += eventlog.spans(execs, self.trace.run_id, self.trace.enclosing)
        return execs

    def within(self, execs, span_name: str) -> list:
        s = self.trace.get(span_name)
        return [e for e in execs.values() if s["start"] - 0.001 <= e.start_ms / 1000.0 <= s["end"]]

    def validity(self, late_max: float = 0.0) -> None:
        load = self.sampler.load
        peak = max(load["before"] + load["during"] + load["after"] or [0.0])
        bound = LOAD_BOUND_PER_CORE * len(os.sched_getaffinity(0))
        if peak > bound:
            self.invalid_reasons.append(f"loadavg {peak:.2f} > {bound:g}")
        if late_max > LATE_BOUND_S:
            self.invalid_reasons.append(f"generator {late_max:.3f}s late > {LATE_BOUND_S}s")
        self.info.update(loadavg=load, load_bound=bound, late_bound_s=LATE_BOUND_S)


# ---------------------------------------------------------------- layer helpers


def sql_layers(execs: list, docs: int, ops: int) -> dict[str, float]:
    """Per-layer figures read off the SQL metrics of ``execs``, which ran
    ``ops`` operations (passes, micro-batches) over ``docs`` source rows in
    all: times and sizes are per operation."""

    def m(node: str, metric: str) -> float:
        return sum(e.metric(node, metric) for e in execs) / ops

    def writes(metric: str, sinks: tuple[str, ...]) -> float:
        total = 0.0
        for e in execs:
            for n in e.nodes:
                if n.name.startswith("Execute InsertIntoHadoopFsRelationCommand") and \
                        any(f"/{s}," in n.simple for s in sinks):
                    acc = n.metrics.get(metric)
                    total += e.values.get(acc, 0)
        return total / ops

    return {
        "sources.bytes_read": m("Scan parquet", "size of files read"),
        "grok.python_run_s": m("ArrowEvalPython", "time to run Python workers"),
        "grok.python_bytes_sent": m("ArrowEvalPython", "data sent to Python workers"),
        "grok.python_bytes_returned": m("ArrowEvalPython", "data returned from Python workers"),
        "grok.evals_per_doc": m("ArrowEvalPython", "number of output rows") * ops / docs,
        "enrich.broadcast_build_s": m("BroadcastExchange", "time to build"),
        "enrich.broadcast_bytes": m("BroadcastExchange", "data size"),
        "agg.shuffle_bytes": m("Exchange", "shuffle bytes written"),
        "wscg.duration_s": m("WholeStageCodegen", "duration"),
        "sinks.bytes_written": writes("written output", ("errors", "ok")),
        "sinks.files_written": writes("number of written files", ("errors", "ok")),
        "sinks.spill_bytes": sum(e.spill_bytes for e in execs) / ops,
        "sinks.persist_bytes": sum(e.persist_bytes for e in execs) / ops,
    }


def ratio_observer(ratios: dict, key: str, col) -> tuple:
    """Observation exprs and a callback storing, under ``key``, the share
    of rows where the boolean ``col`` holds."""
    from pyspark.sql import functions as F

    exprs = [F.count(F.lit(1)).alias("rows"), F.sum(col.cast("long")).alias("hit")]
    return exprs, lambda v: ratios.__setitem__(key, (v["hit"] or 0) / max(v["rows"], 1))


def python_start_s(execs: list) -> float:
    return sum(e.metric("ArrowEvalPython", "time to start Python workers")
               + e.metric("ArrowEvalPython", "time to initialize Python workers") for e in execs)


def stop_spark() -> None:
    """Stop this process's SparkContext, if one was started."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ladder rung -> the per-layer metric its self time is reported as
LADDER_METRICS = {
    "scan": "sources.scan_s", "grok": "grok.self_s", "date": "date.self_s", "mutate": "mutate.self_s",
    "translate": "translate.self_s", "geoip": "geoip.self_s", "useragent": "useragent.self_s",
    "route": "route.self_s", "agg": "agg.self_s",
}


def run_ladder(run: Run, rungs: list, observers: dict) -> None:
    """Force each cumulative rung once; a layer's self time is its rung's
    time minus the previous rung's. ``observers`` maps a rung name to
    (Observation metric exprs, callback(values)), attached to its forcing."""
    from pyspark.sql import Observation

    prev = 0.0
    with run.trace.span("ladder"):
        for name, df in rungs:
            with run.trace.span(f"ladder:{name}") as s:
                if name in observers:
                    exprs, done = observers[name]
                    obs = Observation(f"rung_{name}")
                    noop(df.observe(obs, *exprs))
                    done(obs.get)
                else:
                    noop(df)
            t = s["end"] - s["start"]
            run.layers[LADDER_METRICS[name]] = t - prev
            prev = t


# ---------------------------------------------------------------- flagship


def flagship_totals(df, name: str):
    """Observation of the aggregate's per-sink totals (read after the noop
    write forced the pass; no extra job)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import flagship

    exprs = []
    for s in flagship.SINKS:
        m = F.col("sink") == s
        exprs += [
            F.coalesce(F.sum(F.when(m, F.col("n"))), F.lit(0)).alias(f"{s}__n"),
            F.sum(F.when(m, F.col("total_bytes"))).alias(f"{s}__total_bytes"),
            F.coalesce(F.sum(F.when(m & F.col("geoip_country").isNotNull(), F.col("n"))), F.lit(0)).alias(f"{s}__geo_hits"),
            F.min(F.when(m, F.col("first_ts"))).cast("long").alias(f"{s}__first_ts"),
            F.max(F.when(m, F.col("last_ts"))).cast("long").alias(f"{s}__last_ts"),
        ]
    obs = Observation(name)
    return df.observe(obs, *exprs), obs


def flagship_pass(run: Run, plan, name: str, expected: dict) -> float | None:
    """Force the flagship plan once (noop write) and check its totals;
    the pass's wall time, or None when it raised."""
    import check

    try:
        with run.trace.span(name) as s:
            df, obs = flagship_totals(plan, name)
            noop(df)
        totals = {k.replace("__", "."): v for k, v in obs.get.items()}
    except Exception as e:
        run.ops(1, 1, [f"{name}: {e!r}"])
        return None
    problems = check.check_flagship(totals, expected)
    run.ops(1, 1 if problems else 0, problems)
    return s["end"] - s["start"]


def run_flagship(run: Run) -> None:
    import flagship
    import gen
    from logstash_spark.sources.readers import read_pages

    docs = FLAGSHIP_DOCS
    path = run.path("in", "pages.parquet")
    expected = gen.write_pages(run.seed, docs, path)
    run.info["input"] = {k: expected[k] for k in ("rows", "grok_match_ratio", "geo_hit_ratio", "distinct_agents",
                                                 "hot_host_share", "line_mix")}
    t0 = time.perf_counter()
    spark = run.session()
    plan = flagship.build(spark, read_pages(spark, path))
    with run.trace.span("warmup"):
        for k in range(FLAGSHIP_WARM_PASSES):
            flagship_pass(run, plan, f"warmup:{k}", expected)
    run.e2e["setup_s"] = time.perf_counter() - t0
    times, n = [], 0
    with run.sampler.region():
        start = time.perf_counter()
        while (n < TRACE_PASSES) if run.trace_on else (time.perf_counter() - start < run.seconds or n < 3):
            t = flagship_pass(run, plan, f"pass:{n}", expected)
            n += 1
            if t is not None:
                times.append(t)
    run.validity()
    if not times:
        raise RuntimeError("flagship_agg: every timed pass raised")
    med = statistics.median(times)
    run.e2e.update(docs_per_s=docs / med, lag_p50_s=med, lag_p90_s=quantile(times, 0.9))
    run.info["passes"] = len(times)
    if not run.trace_on:
        return
    run.layers["trace.docs_per_s"] = docs / med
    _flagship_ladder(run, spark, path)
    spark.stop()
    execs = run.event_log()
    passes = [e for k in range(n) for e in run.within(execs, f"pass:{k}")]
    run.layers.update(sql_layers(passes, docs * len(times), len(times)))
    run.layers["python.worker_start_s"] = python_start_s(run.within(execs, "warmup"))
    run.layers["codegen.fallbacks_total"] = log_count(run.log, "pass:0", FALLBACK_LINE)
    run.layers["scaling_eff"] = _scaling(run, path, docs, expected)


def _scaling(run: Run, path: str, docs: int, expected: dict) -> float:
    """Weak scaling T(local[1], n/N docs) / T(local[N], n docs), each T the
    median of TRACE_PASSES passes in a fresh untraced Spark context, started
    in this process after the traced one stopped: the JVM is past its
    warm-up, and both sides are measured the same way."""
    import flagship
    import gen
    from logstash_spark.session import get_spark
    from logstash_spark.sources.readers import read_pages

    small = run.path("in", "scale1")
    sides = [(run.cores, path, expected), (1, small, gen.write_pages(run.seed, docs // run.cores, small))]
    t = {}
    for cores, inp, expected in sides:
        spark = get_spark("perfbench", cores=cores, extra_confs={"spark.eventLog.enabled": "false"})
        plan = flagship.build(spark, read_pages(spark, inp))
        with run.trace.span(f"scale{cores}"):
            for k in range(SCALE_WARM_PASSES):
                flagship_pass(run, plan, f"scale{cores}:warmup:{k}", expected)
            times = [flagship_pass(run, plan, f"scale{cores}:pass:{k}", expected) for k in range(TRACE_PASSES)]
        spark.stop()
        times = [x for x in times if x is not None]
        if not times:
            raise RuntimeError(f"scaling: every local[{cores}] pass raised")
        t[cores] = statistics.median(times)
    run.info["scaling"] = {"t1_s": t[1], "tN_s": t[run.cores], "docs_1": docs // run.cores, "cores_N": run.cores}
    return t[1] / t[run.cores]


def _flagship_ladder(run: Run, spark, path: str) -> None:
    from pyspark.sql import functions as F

    import flagship
    from logstash_spark.sources.readers import read_pages

    ratios = {}
    observers = {
        "grok": ratio_observer(ratios, "grok.match_ratio", F.col("_grok_matched")),
        "date": ratio_observer(ratios, "date.match_ratio", F.col("_date_matched")),
        "geoip": ratio_observer(ratios, "geoip.hit_ratio", F.col("geoip_country").isNotNull()),
    }
    run_ladder(run, flagship.ladder(spark, read_pages(spark, path)), observers)
    run.layers.update(ratios)


# ---------------------------------------------------------------- job_daily


def job_invoke(run: Run, argv: list[str], name: str) -> float:
    """The shipped CLI, in-process through runpy; its session is this
    workload's (getOrCreate attaches to it)."""
    old = sys.argv
    sys.argv = [JOB, *argv]
    try:
        with run.trace.span(name) as s, open(run.path("job.stdout"), "a") as out, contextlib.redirect_stdout(out):
            try:
                runpy.run_path(JOB, run_name="__main__")
            except SystemExit as e:
                if e.code not in (None, 0):
                    raise RuntimeError(f"{name}: job exited with {e.code}") from e
    finally:
        sys.argv = old
    return s["end"] - s["start"]


def job_argv(inp: str, out: str) -> list[str]:
    return ["--input", inp, "--out", out, "--manifest", os.path.join(out, "lineage.jsonl"), "--by-day"]


def run_job(run: Run) -> None:
    import check
    import gen

    docs = JOB_DOCS
    inp, warm = run.path("in", "pages.parquet"), run.path("in", "warm.parquet")
    expected = gen.write_pages(run.seed, docs, inp, n_days=JOB_DAYS)
    gen.write_pages(run.seed + 1, JOB_WARM_DOCS, warm, n_days=1)
    run.info["input"] = {k: expected[k] for k in ("rows", "grok_match_ratio", "distinct_agents", "hot_host_share",
                                                 "line_mix")} | {"days": len(expected["days"])}
    t0 = time.perf_counter()
    run.session()
    job_invoke(run, job_argv(warm, run.path("out", "warmup")), "warmup")
    run.e2e["setup_s"] = time.perf_counter() - t0
    days = len(expected["days"])
    times, slices, last, k = [], [], None, 0
    with run.sampler.region():
        start = time.perf_counter()
        while (k < 1) if run.trace_on else (time.perf_counter() - start < run.seconds or k < 1):
            out = run.path("out", f"pass{k}")
            try:
                t = job_invoke(run, job_argv(inp, out), f"pass:{k}")
            except Exception as e:  # every day slice of the invocation fails
                run.ops(days, days, [f"pass:{k}: {e!r}"])
                k += 1
                continue
            times.append(t)
            last = out
            n, failed, problems = check.check_job_pass(last, os.path.join(last, "lineage.jsonl"), expected)
            run.ops(n, len(failed), problems)
            man = check.read_manifest(os.path.join(last, "lineage.jsonl"))
            slices += [e["wall_s"] for e in man.values()]
            for day, e in man.items():
                run.trace.spans.append({"name": f"pass:{k}/slice:{day}", "start": e["ts"] - e["wall_s"],
                                        "end": e["ts"], "parent": f"pass:{k}", "run_id": run.trace.run_id})
            k += 1
    run.validity()
    if not times:
        raise RuntimeError("job_daily: every timed invocation raised")
    sinks = ("errors", "ok", "agg")
    before, man_before = check.sink_rows(last, sinks), check.read_manifest(os.path.join(last, "lineage.jsonl"))
    try:
        resume_s = job_invoke(run, job_argv(inp, last), "resume")
        problems = check.check_resume(before, check.sink_rows(last, sinks), man_before,
                                      check.read_manifest(os.path.join(last, "lineage.jsonl")))
    except Exception as e:
        resume_s, problems = 0.0, [f"resume: {e!r}"]
    run.ops(1, 1 if problems else 0, problems)
    med = statistics.median(times)
    run.e2e.update(docs_per_s=docs / med, lag_p50_s=statistics.median(slices), lag_p90_s=quantile(slices, 0.9))
    run.info["passes"] = len(times)
    if not run.trace_on:
        return
    run.layers["lineage.resume_s"] = resume_s
    run.layers["trace.docs_per_s"] = docs / med
    _job_ladder(run, inp)
    stop_spark()
    execs = run.event_log()
    in_pass = run.within(execs, "pass:0")
    in_slices = [e for d in expected["days"] for e in run.within(execs, f"pass:0/slice:{d}")]
    run.layers.update(sql_layers(in_pass, docs, 1))
    run.layers["job.sql_executions_per_slice"] = len(in_slices) / days
    run.layers["sources.scans_per_slice"] = sum(
        e.count_nodes("Scan parquet", nonzero_metric="number of output rows") for e in in_slices) / days
    run.layers["lineage.slice_s_p50"] = statistics.median(slices)
    run.layers["lineage.driver_gap_s"] = times[0] - sum(e.duration_s for e in in_pass)
    run.layers["sinks.write_s"] = sum(e.duration_s for e in in_pass if _writes_to(e, ("errors", "ok")))
    run.layers["agg.self_s"] = sum(e.duration_s for e in in_slices if _writes_to(e, ("agg",)) or
                                   e.description.startswith("collect"))
    run.layers["python.worker_start_s"] = python_start_s(run.within(execs, "warmup"))
    run.layers["codegen.fallbacks_total"] = log_count(run.log, "pass:0", FALLBACK_LINE)


def _writes_to(e, sinks: tuple[str, ...]) -> bool:
    return any(n.name.startswith("Execute InsertIntoHadoopFsRelationCommand") and
               any(f"/{s}," in n.simple for s in sinks) for n in e.nodes)


def _job_ladder(run: Run, inp: str) -> None:
    """The shipped job's own filter chain (``build_pipeline``), forced one
    stage prefix at a time over the whole input, then its route columns."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from logstash_spark.pipeline import Pipeline, output_predicate
    from logstash_spark.sources.readers import read_pages

    spark = SparkSession.getActiveSession()
    pipe = runpy.run_path(JOB)["build_pipeline"](run.path("out", "ladder"))
    df = read_pages(spark, inp)
    rungs = [("scan", df)]
    for st in pipe.filters:
        df = Pipeline(filters=[st]).transform(df)
        rungs.append((st.op.split(".")[0], df))
    for o in pipe.outputs:
        df = df.withColumn(f"_route_{o.name}", output_predicate(df, o))
    rungs.append(("route", df))
    ratios = {}
    observers = {
        "grok": ratio_observer(ratios, "grok.match_ratio", F.col("_grok_matched")),
        "date": ratio_observer(ratios, "date.match_ratio", F.col("_date_matched")),
    }
    run_ladder(run, rungs, observers)
    run.layers.update(ratios)
    run.layers["useragent.codegen_fallbacks"] = log_count(run.log, "ladder:useragent", CODE_TOO_BIG)


# ---------------------------------------------------------------- stream_files


def _progress_end(p: dict) -> float:
    """Wall-clock end of a micro-batch: trigger start + triggerExecution."""
    from datetime import datetime, timezone

    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000.0


def _progress_start(p: dict) -> float:
    return _progress_end(p) - p["durationMs"]["triggerExecution"] / 1000.0


def _file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    out = {}
    d = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _wait(run: Run, cond, timeout: float, what: str) -> None:
    """Wait until ``cond()`` holds, at most ``timeout`` s and never past the
    run's budget."""
    end = time.monotonic() + min(timeout, run.remaining())
    while not cond():
        if time.monotonic() > end:
            raise TimeoutError(f"stream: timed out waiting for {what}")
        time.sleep(0.02)


def run_stream(run: Run) -> None:
    import check
    import gen
    from logstash_spark.conditions import Field, Not, Rx
    from logstash_spark.pipeline import Output, Pipeline, Stage
    from logstash_spark.sinks import ParquetSink
    from logstash_spark.streaming.pipeline import run_streaming

    rate, rows = STREAM_FILES_PER_S, STREAM_ROWS_PER_FILE
    n_timed = max(STREAM_MIN_FILES, int(rate * run.seconds))
    staging, src, ckpt = run.path("in", "staging"), run.path("in", "src"), run.path("ckpt")
    group = rate * STREAM_TRIGGER_S  # files per warm-up batch
    files = gen.write_stream_files(run.seed, STREAM_WARM_BATCHES * group + n_timed, rows, staging)
    os.makedirs(src, exist_ok=True)
    warm, timed = files[:STREAM_WARM_BATCHES * group], files[STREAM_WARM_BATCHES * group:]
    run.info["input"] = {"files": len(files), "rows_per_file": rows, "files_per_s": rate,
                         "docs_per_s_offered": rate * rows, "timed_files": len(timed)}

    def arrive(f: dict) -> None:
        os.rename(os.path.join(staging, f["name"]), os.path.join(src, f["name"]))

    five = Rx(Field("[response]"), "^5")
    pipe = Pipeline(
        filters=[
            Stage(op="grok", params={"source": "text", "patterns": "%{COMBINEDAPACHELOG}"}),
            Stage(op="date", params={"source": "timestamp", "formats": ["dd/MMM/yyyy:HH:mm:ss Z"]}),
            Stage(op="mutate.convert", params={"mapping": {"bytes": "integer"}}),
        ],
        outputs=[
            Output("errors", ParquetSink(run.path("out", "errors"), mode="append"), when=five),
            Output("ok", ParquetSink(run.path("out", "ok"), mode="append"), when=Not(five)),
        ],
    )
    t0 = time.perf_counter()
    spark = run.session()
    t_start = time.time()
    for f in warm[:group]:
        arrive(f)
    with run.trace.span("warmup"):
        q = run_streaming(pipe, spark.readStream.schema(STREAM_SCHEMA).parquet(src), checkpoint=ckpt,
                          trigger_seconds=STREAM_TRIGGER_S)

        def processed() -> int:
            return sum(int(p["numInputRows"]) for p in q.recentProgress)

        _wait(run, lambda: processed() > 0, 120, "the first micro-batch")
        first = next(p for p in q.recentProgress if int(p["numInputRows"]) > 0)
        run.e2e["setup_s"] = (time.perf_counter() - t0) - (time.time() - _progress_end(first))
        run.layers["stream.first_batch_s"] = _progress_end(first) - t_start
        for g in range(1, STREAM_WARM_BATCHES):
            for f in warm[g * group:(g + 1) * group]:
                arrive(f)
            _wait(run, lambda: processed() >= (g + 1) * group * rows, 60, "a warm-up micro-batch")
    warm_batches = {p["batchId"] for p in q.recentProgress}

    # triggers fire on multiples of the interval: start a quarter second past one
    due = (math.floor(time.time() / STREAM_TRIGGER_S) + 1) * STREAM_TRIGGER_S + 0.25
    schedule = [due + k / rate for k in range(len(timed))]
    late: list[float] = []

    def generator() -> None:
        for f, t in zip(timed, schedule):
            time.sleep(max(0.0, t - time.time()))
            arrive(f)
            late.append(time.time() - t)

    with run.sampler.region(), run.trace.span("timed"):
        gen_thread = threading.Thread(target=generator, name="perfbench-stream-generator")
        gen_thread.start()
        gen_thread.join()
        try:  # files the stream never wrote fail their output check below
            _wait(run, lambda: processed() >= len(files) * rows, 60, "the last micro-batch")
        except TimeoutError as e:
            run.problems.append(str(e))
            run.invalid_reasons.append(str(e))
    q.stop()
    run.validity(late_max=max(late))
    failed, problems = check.check_stream([run.path("out", "errors"), run.path("out", "ok")], files)
    run.ops(len(files), len(failed), problems)

    progress = [p for p in q.recentProgress if p["batchId"] not in warm_batches and int(p["numInputRows"]) > 0]
    by_batch = {p["batchId"]: p for p in progress}
    where = _file_batches(ckpt)
    lags = [_progress_end(by_batch[where[f["name"]]]) - t for f, t in zip(timed, schedule)
            if where.get(f["name"]) in by_batch]
    # delivered throughput: timed rows over the window from the first file's
    # scheduled arrival to the end of the batch that wrote the last one. It
    # is capped by the offered rate and carries no signal until the lag is
    # several times its usual value; the program's own service rate (rows
    # over busy time) moves 20% between runs of the same code and is the
    # per-layer stream.service_docs_per_s
    window = max(_progress_end(p) for p in progress) - schedule[0]
    run.e2e.update(docs_per_s=len(timed) * rows / window, lag_p50_s=statistics.median(lags),
                   lag_p90_s=quantile(lags, 0.9))
    run.info.update(lag_samples=len(lags), batches=len(progress), generator_late_max_s=max(late),
                    trigger_ms=[p["durationMs"]["triggerExecution"] for p in q.recentProgress])
    if not run.trace_on:
        return
    backlog = [sum(1 for f, t in zip(timed, schedule) if t < _progress_start(p) and where.get(f["name"], b) > b)
               for b, p in by_batch.items()]
    run.layers.update({
        "stream.batches": len(progress),
        "stream.service_docs_per_s": sum(int(p["numInputRows"]) for p in progress) / sum(
            p["durationMs"]["triggerExecution"] / 1000.0 for p in progress),
        "stream.docs_per_batch_p50": statistics.median(int(p["numInputRows"]) for p in progress),
        "stream.trigger_ms_p50": statistics.median(p["durationMs"]["triggerExecution"] for p in progress),
        "stream.planning_ms_p50": statistics.median(p["durationMs"].get("queryPlanning", 0) for p in progress),
        "stream.addbatch_ms_p50": statistics.median(p["durationMs"].get("addBatch", 0) for p in progress),
        "stream.backlog_files_max": max(backlog),
        "stream.gen_late_max_s": max(late),
        "trace.docs_per_s": run.e2e["docs_per_s"],
    })
    spark.stop()
    # a micro-batch's own plan (scan, grok) runs as an execution without the
    # batch id; it is the one just before the batch's tagged sink writes
    all_execs = run.event_log()
    run.layers["python.worker_start_s"] = python_start_s(run.within(all_execs, "warmup"))
    execs, batch = [], None
    for e in sorted(all_execs.values(), key=lambda x: -x.id):
        batch = e.batch_id if e.batch_id is not None else batch
        e.batch_id = batch
        if batch in by_batch:
            execs.append(e)
    jobs: dict[int, int] = {}
    for e in execs:
        jobs[e.batch_id] = jobs.get(e.batch_id, 0) + len(e.jobs)
    run.layers["stream.jobs_per_batch"] = statistics.median(jobs.values())
    layers = sql_layers(execs, sum(int(p["numInputRows"]) for p in progress), len(progress))
    layers["sinks.write_s"] = statistics.median(
        sum(e.duration_s for e in execs if e.batch_id == b and _writes_to(e, ("errors", "ok"))) for b in by_batch)
    run.layers.update(layers)
    run.layers["codegen.fallbacks_total"] = log_count(run.log, "timed", FALLBACK_LINE)


WORKLOADS = {"job_daily": run_job, "flagship_agg": run_flagship, "stream_files": run_stream}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--budget-s", type=float, default=170.0, help="seconds the run may take")
    args = ap.parse_args()
    sys.path[:0] = [ROOT, HERE]
    run = Run(args)
    try:
        with run.trace.span("run", workload=run.workload, seed=run.seed):
            WORKLOADS[run.workload](run)
    except Exception as e:  # counted and reported, never a run without a result
        run.ops(1, 1, [f"{run.workload}: {e!r}"])
        run.invalid_reasons.append(f"{run.workload} raised {type(e).__name__}")
    finally:
        stop_spark()
        run.sampler.close()
        with open(run.path("spans.json"), "w") as f:
            json.dump(run.trace.spans, f, indent=0)
    run.layers["peak_rss_mb"] = run.sampler.peak_rss / 2**20
    run.info.update(valid=not run.invalid_reasons, invalid_reasons=run.invalid_reasons)
    run.info["peak_rss_mb_by_command"] = {k: v / 2**20 for k, v in run.sampler.peak_by_command.items()}
    with open(run.path("result.json"), "w") as f:
        json.dump({"e2e": run.e2e, "layers": run.layers, "attempted": run.attempted, "failed": run.failed,
                   "problems": run.problems[:50], "info": run.info}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
