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
import time


def build_args():
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="pages parquet path, Iceberg table, or synthetic:N")
    p.add_argument("--out", required=True, help="output directory (sinks + aggregates)")
    p.add_argument("--manifest", default=None, help="lineage manifest path (enables resume)")
    p.add_argument("--by-day", action="store_true", help="process per warc_ts day with lineage")
    p.add_argument("--grok-backend", default="arrow", choices=["arrow", "expr", "auto"])
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
            Output("errors", ParquetSink(os.path.join(out_dir, "errors"), mode="append"),
                   when=Rx(Field("[response]"), "^5")),
            Output("ok", ParquetSink(os.path.join(out_dir, "ok"), mode="append"),
                   when=Not(Rx(Field("[response]"), "^5"))),
        ],
    )


def main() -> None:
    args = build_args()
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # spark-submit provides the session config; getOrCreate attaches to it
    spark = SparkSession.builder.appName("logstash_spark.run_pipeline").getOrCreate()
    os.environ["SPARK_GRAFT_GROK_BACKEND"] = args.grok_backend

    from logstash_spark.metrics import PipelineMetrics
    from logstash_spark.sources.pages import synthetic_pages
    from logstash_spark.sources.readers import read_pages

    if args.input.startswith("synthetic:"):
        pages = synthetic_pages(spark, int(args.input.split(":", 1)[1]))
    else:
        pages = read_pages(spark, args.input)

    if args.conf:
        from logstash_spark.conf import compile_file

        pipe, _inputs = compile_file(args.conf, out_dir=args.out)
    elif args.spec:
        from logstash_spark.spec import from_file

        pipe = from_file(args.spec)
    else:
        pipe = build_pipeline(args.out)
    pm = PipelineMetrics()

    def run_slice(df):
        transformed = pipe.transform(df)
        observed = pm.observe(transformed, f"parse@{time.time():.0f}",
                              failure_tags=["_grokparsefailure", "_dateparsefailure"])
        results = __import__("logstash_spark.sinks", fromlist=["write_outputs"]).write_outputs(
            observed, pipe.outputs
        )
        agg = (
            transformed.withColumn("sink", F.when(F.col("response").rlike("^5"), "errors").otherwise("ok"))
            .groupBy("sink", "lang").agg(F.count(F.lit(1)).alias("n"))
        )
        agg.write.mode("append").parquet(os.path.join(args.out, "agg"))
        counts = {r["sink"]: r["n"] for r in agg.groupBy("sink").agg(F.sum("n").alias("n")).collect()}
        return counts

    if args.by_day and args.manifest:
        from logstash_spark.lineage import run_partitioned

        days = [r["d"] for r in pages.select(F.to_date("warc_ts").alias("d")).distinct().orderBy("d").collect()]

        def job(day: str):
            sl = pages.filter(F.to_date("warc_ts") == day)
            counts = run_slice(sl)
            return sum(counts.values()), counts

        manifest = run_partitioned(spark, [str(d) for d in days], job, args.manifest)
        print(json.dumps({"days": len(manifest.entries), "metrics": pm.report()}))
    else:
        counts = run_slice(pages)
        print(json.dumps({"sinks": counts, "metrics": pm.report()}))


if __name__ == "__main__":
    sys.exit(main())
