#!/usr/bin/env python
"""spark-submit entry point: the parse -> enrich -> route -> aggregate job.

The north-rule production invocation:

    python tools/make_pyfiles.py
    spark-submit --py-files dist/logstash_spark.zip jobs/run_pipeline.py \\
        --input /path/to/pages_parquet_or_iceberg_table \\
        --out /path/to/outdir \\
        --manifest /path/to/outdir/lineage.jsonl --by-day

Resumability: ``--by-day --manifest`` (one switch) keys the input by its
``warc_ts`` day, rows without one under the day ``null``. The job runs
every day the manifest does not list as done in ONE pass, then commits one
entry per day (its ``rows_in`` and ``rows_out``, the pass's ``wall_s``)
with one atomic rename (per-partition lineage — logstash_spark.lineage).
With no day pending it writes nothing. The day filter is not pushed into
the scan: a restart reads the whole input and drops the finished days.

Delivery: the built-in pipeline adds ``day = to_date(warc_ts)`` to its
input, and its sinks and ``<out>/agg`` are partitioned by ``day`` and
written with dynamic partition overwrite. A crash before the commit
re-runs every pending day, not only the last one; the overwrite replaces
those days' own partitions, so each input row is still written once.
``--conf`` / ``--spec`` outputs keep their configured modes: an append
sink among them is at-least-once on resume, with every pending day in its
duplicate window.

Routing happens once per pass: ``write_outputs`` evaluates the ``Output``
predicates over the persisted transformed frame and writes every sink. The
built-in outputs carry ``agg_by=["day", "lang"]``, so the per-sink
aggregate is grouped off that same cached frame; its rows ``(sink, day,
lang, n)`` are written to ``<out>/agg`` and their per-day sums are each
day's ``rows_out``. A day's ``rows_in`` is a ``count_if`` in the parse
Observation. Outputs without ``agg_by`` (``--conf`` / ``--spec``
pipelines) add no aggregate and no ``rows_out`` entry.

`--input synthetic:N` generates the deterministic page table in-place
(no external data) — used for smoke runs and the scaling bench.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# spark-submit ships the package via --py-files; when run as plain
# `python jobs/run_pipeline.py` the repo root must be on sys.path too
# (the interpreter only adds the script's own dir, jobs/)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_args():
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="pages parquet path, Iceberg table, or synthetic:N")
    p.add_argument("--out", required=True, help="output directory (sinks + aggregates)")
    p.add_argument("--manifest", default=None, help="lineage manifest path (enables resume; needs --by-day)")
    p.add_argument("--by-day", action="store_true", help="key the manifest by warc_ts day (needs --manifest)")
    p.add_argument("--spec", default=None,
                   help="JSON pipeline spec (logstash_spark.spec) overriding the built-in pipeline")
    p.add_argument("--conf", default=None,
                   help="Logstash .conf file compiled via logstash_spark.conf (filter+output sections)")
    args = p.parse_args()
    if args.by_day != (args.manifest is not None):
        p.error("--by-day and --manifest go together")
    return args


def build_pipeline(out_dir: str):
    from logstash_spark.conditions import Field, Not, Rx
    from logstash_spark.pipeline import Output, Pipeline, Stage
    from logstash_spark.sinks import ParquetSink

    return Pipeline(
        filters=[
            Stage(op="grok", params={"source": "text", "patterns": "%{COMBINEDAPACHELOG}"}),
            Stage(op="date", params={"source": "timestamp", "formats": ["dd/MMM/yyyy:HH:mm:ss Z"]}),
            Stage(op="mutate.convert", params={"mapping": {"bytes": "integer"}}),
            Stage(op="useragent", params={"source": "agent"}),
        ],
        outputs=[
            Output("errors", ParquetSink(os.path.join(out_dir, "errors"), mode="overwrite",
                                         partition_by=("day",)),
                   when=Rx(Field("[response]"), "^5"), agg_by=["day", "lang"]),
            Output("ok", ParquetSink(os.path.join(out_dir, "ok"), mode="overwrite",
                                     partition_by=("day",)),
                   when=Not(Rx(Field("[response]"), "^5")), agg_by=["day", "lang"]),
        ],
    )


def main() -> None:
    args = build_args()
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # spark-submit provides the session config; getOrCreate attaches to it
    spark = SparkSession.builder.appName("logstash_spark.run_pipeline").getOrCreate()
    # an overwrite of a day-partitioned sink replaces only the days written
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    from logstash_spark.metrics import PipelineMetrics
    from logstash_spark.sinks import write_outputs
    from logstash_spark.sources.pages import synthetic_pages
    from logstash_spark.sources.readers import read_pages

    if args.input.startswith("synthetic:"):
        pages = synthetic_pages(spark, int(args.input.split(":", 1)[1]))
    else:
        pages = read_pages(spark, args.input)

    # the one day column: it keys --by-day and partitions the built-in sinks;
    # under --conf / --spec it is @metadata, which every sink strips
    day = "_meta_warc_day"
    if args.conf:
        from logstash_spark.conf import compile_file

        pipe, _inputs = compile_file(args.conf, out_dir=args.out)
    elif args.spec:
        from logstash_spark.spec import from_file

        pipe = from_file(args.spec)
    else:
        pipe = build_pipeline(args.out)
        day = "day"
    pages = pages.withColumn(day, F.to_date("warc_ts"))
    if not pipe.outputs:
        sys.exit("run_pipeline: the pipeline has no outputs")
    pm = PipelineMetrics()
    key = F.coalesce(F.col(day).cast("string"), F.lit("null"))  # the manifest entry of a row's day
    pending = []
    if args.manifest:
        from logstash_spark.lineage import LineageManifest

        manifest = LineageManifest.load(args.manifest)
        pending = sorted(r[0] for r in pages.select(key).distinct().collect() if not manifest.is_done(r[0]))
        if not pending:
            print(json.dumps({"days": []}))
            return
        pages = pages.filter(key.isin(pending))

    def run_slice(df) -> dict[str, dict]:
        """Route and write ``df`` in a single pass; returns {sink: {(day,
        lang): rows}} for every output with an ``agg_by`` aggregate."""
        observed = pm.observe(pipe.transform(df), "parse",
                              failure_tags=["_grokparsefailure", "_dateparsefailure"],
                              counts={f"rows@{k}": key == k for k in pending})
        results = write_outputs(observed, pipe.outputs)
        aggs = {o.name: results[f"{o.name}__agg"] for o in pipe.outputs if o.agg_by}
        rows = [(sink, d, lang, n) for sink, agg in aggs.items() for (d, lang), n in agg.items()]
        if rows:
            spark.createDataFrame(rows, "sink string, day date, lang string, n long").write \
                .mode("overwrite").partitionBy("day").parquet(os.path.join(args.out, "agg"))
        return aggs

    t0 = time.time()
    aggs = run_slice(pages)
    if pending:
        rows_in = pm.observations["parse"].get
        rows_out = {k: dict.fromkeys(aggs, 0) for k in pending}
        for sink, agg in aggs.items():
            for (d, _lang), n in agg.items():
                rows_out[str(d or "null")][sink] += n
        manifest.commit({k: (rows_in[f"rows@{k}"], rows_out[k]) for k in pending}, wall_s=time.time() - t0)
    print(json.dumps({"days": pending, "sinks": {s: sum(a.values()) for s, a in aggs.items()},
                      "metrics": pm.report()}))

if __name__ == "__main__":
    sys.exit(main())
