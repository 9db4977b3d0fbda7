#!/usr/bin/env python
"""spark-submit entry point: the parse -> enrich -> route -> aggregate job.

The north-rule production invocation:

    python tools/make_pyfiles.py
    spark-submit --py-files dist/logstash_spark.zip jobs/run_pipeline.py \\
        --input /path/to/pages_parquet_or_iceberg_table \\
        --out /path/to/outdir \\
        --manifest /path/to/outdir/lineage.jsonl

Resumability: with --manifest and --by-day, the input is processed one
warc_ts day at a time; completed days are recorded atomically and skipped
on restart (per-partition lineage — logstash_spark.lineage). Day predicates
prune the scan (partition pruning on a date-partitioned table), so a
restart only pays for unfinished days.

Delivery: the built-in pipeline adds ``day = to_date(warc_ts)`` to its
input, and its sinks and ``<out>/agg`` are partitioned by ``day`` and
written with dynamic partition overwrite. A day that re-runs (a resume
after a failure between its writes and its manifest record) replaces its
own partitions, so each input row is written once. ``--conf`` / ``--spec``
outputs keep their configured modes: an append sink among them is
at-least-once on resume.

Routing happens once per slice: ``write_outputs`` evaluates the ``Output``
predicates over the persisted transformed frame and writes every sink. The
built-in outputs carry ``agg_by=["day", "lang"]``, so the per-sink
aggregate is grouped off that same cached frame; its rows ``(sink, day,
lang, n)`` are written to ``<out>/agg`` and their per-sink sums are the
``rows_out`` of the slice. ``rows_in`` is the row count the parse
Observation saw. Outputs without ``agg_by`` (``--conf`` / ``--spec``
pipelines) add no aggregate and no ``rows_out`` entry.

`--input synthetic:N` generates the deterministic page table in-place
(no external data) — used for smoke runs and the scaling bench.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# spark-submit ships the package via --py-files; when run as plain
# `python jobs/run_pipeline.py` the repo root must be on sys.path too
# (the interpreter only adds the script's own dir, jobs/)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_args():
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="pages parquet path, Iceberg table, or synthetic:N")
    p.add_argument("--out", required=True, help="output directory (sinks + aggregates)")
    p.add_argument("--manifest", default=None, help="lineage manifest path (enables resume)")
    p.add_argument("--by-day", action="store_true", help="process per warc_ts day with lineage")
    p.add_argument("--spec", default=None,
                   help="JSON pipeline spec (logstash_spark.spec) overriding the built-in pipeline")
    p.add_argument("--conf", default=None,
                   help="Logstash .conf file compiled via logstash_spark.conf (filter+output sections)")
    return p.parse_args()


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

    day = F.to_date("warc_ts")
    if args.conf:
        from logstash_spark.conf import compile_file

        pipe, _inputs = compile_file(args.conf, out_dir=args.out)
    elif args.spec:
        from logstash_spark.spec import from_file

        pipe = from_file(args.spec)
    else:
        pipe = build_pipeline(args.out)
        # the one day column: it slices --by-day and partitions the sinks
        pages = pages.withColumn("day", day)
        day = F.col("day")
    if not pipe.outputs:
        sys.exit("run_pipeline: the pipeline has no outputs")
    pm = PipelineMetrics()

    def run_slice(df, name: str) -> tuple[int, dict[str, int]]:
        """Route and write one slice in a single pass; returns (rows_in,
        {sink: rows}) for every output with an ``agg_by`` aggregate."""
        stage = f"parse@{name}"
        observed = pm.observe(pipe.transform(df), stage,
                              failure_tags=["_grokparsefailure", "_dateparsefailure"])
        results = write_outputs(observed, pipe.outputs)
        aggs = {o.name: results[f"{o.name}__agg"] for o in pipe.outputs if o.agg_by}
        rows = [(sink, d, lang, n) for sink, agg in aggs.items() for (d, lang), n in agg.items()]
        if rows:
            spark.createDataFrame(rows, "sink string, day date, lang string, n long").write \
                .mode("overwrite").partitionBy("day").parquet(os.path.join(args.out, "agg"))
        return pm.observations[stage].get["rows"], {s: sum(a.values()) for s, a in aggs.items()}

    if args.by_day and args.manifest:
        from logstash_spark.lineage import run_partitioned

        days = [r["d"] for r in pages.select(day.alias("d")).distinct().orderBy("d").collect()]

        def job(d: str):
            return run_slice(pages.filter(day == d), d)

        manifest = run_partitioned(spark, [str(d) for d in days], job, args.manifest)
        print(json.dumps({"days": len(manifest.entries), "metrics": pm.report()}))
    else:
        _rows_in, counts = run_slice(pages, "all")
        print(json.dumps({"sinks": counts, "metrics": pm.report()}))


if __name__ == "__main__":
    sys.exit(main())
