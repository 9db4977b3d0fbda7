#!/usr/bin/env python
"""Scale-headroom probe for the HEAVY-TAIL composed pipelines (VERDICT r4
next-round #6): recrawl_pipeline, web_corpus_pipeline,
url_discovery_pipeline, winnow_overlap, template_capped_sample — the five
most expensive registry queries, measured at 10-100x the sf0.1 gate.

Runs the EXACT registry query functions (same fixtures, same plans that
pass the DuckDB value gate) against a synthesized events table of N rows
written to /tmp, at two sizes, and prints per-query wall time + rows/s at
both plus the time ratio vs the size ratio — near-linear scaling is the
evidence that no plan degenerates (broadcast flip, bucket blowup, driver
collect) when the input grows two orders of magnitude.

Usage:
    python tools/scale_probe_pipelines.py [n_small] [n_big] [--ops a,b]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from logstash_spark.session import get_spark  # noqa: E402

OPS = [
    "recrawl_pipeline",
    "web_corpus_pipeline",
    "url_discovery_pipeline",
    "winnow_overlap",
    "template_capped_sample",
    # r5 rewrites under probe: skew-proof two-phase ranks
    "per_key_cap",
    "mixture_resample",
]


def synth_events(spark, n: int, path: str) -> None:
    """Deterministic events table with the driver-testdata schema — the
    same arithmetic shapes the fixtures key on (event_id dense, user_id
    ~uniform small range, ts spread over weeks, value in [0,1000))."""
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") * 37) % (86400 * 30)
            + (F.col("id") % 7) / 10.0)).alias("ts"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(2000)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("error"),
                    F.lit("purchase")),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(4)) + 1
             ).cast("int")).alias("event_type"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(100000)) / 100.0
         ).alias("value"),
        F.concat(F.lit('{"k": '),
                 F.pmod(F.xxhash64(F.col("id"), F.lit(4)), F.lit(100))
                 .cast("string"),
                 F.lit("}")).alias("props"),
    )
    df.write.mode("overwrite").parquet(path + "/events.parquet")
    # documents table (winnow_overlap runs on it) — testdata keeps a
    # ~20:1 events:documents ratio; Zipf-ish small vocabulary so shingle
    # buckets have real overlap structure like the driver corpus
    nd = max(n // 20, 1000)
    docs = spark.range(nd).select(
        F.col("id").alias("doc_id"),
        F.array_join(F.transform(
            F.sequence(F.lit(0), F.lit(39)),
            lambda j: F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(F.col("id") * 41 + j, F.lit(9)),
                       F.lit(500)).cast("string"))), " ").alias("text"),
        F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("zh")),
                     (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int")
                     ).alias("lang"),
        F.concat(F.lit("src"),
                 F.pmod(F.col("id"), F.lit(10)).cast("string")).alias("source"),
    ).withColumn("n_chars", F.length("text"))
    docs.write.mode("overwrite").parquet(path + "/documents.parquet")


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_small = int(args[0]) if args else 1_000_000
    n_big = int(args[1]) if len(args) > 1 else 10_000_000
    wanted = None
    for a in sys.argv[1:]:
        if a.startswith("--ops"):
            wanted = set(a.split("=", 1)[1].split(","))
    ops = [o for o in OPS if not wanted or o in wanted]

    spark = get_spark("scale_probe_pipelines")
    import __spark_entry__ as entry

    qs = entry.queries()
    out: dict = {"n_small": n_small, "n_big": n_big, "ops": {}}
    sizes = {}
    for n in (n_small, n_big):
        path = f"/tmp/probe_pipe_sf_{n}"
        synth_events(spark, n, path)
        sizes[n] = path
    try:
        for name in ops:
            rec = {}
            for n in (n_small, n_big):
                dt = 1e18
                for _ in range(2):  # best-of-2 soaks codegen warmup
                    t0 = time.perf_counter()
                    force(qs[name](spark, sizes[n]))
                    dt = min(dt, time.perf_counter() - t0)
                rec[n] = dt
                print(f"{name:26s} n={n:>11,}  {dt:8.2f}s "
                      f"{n / dt / 1000:9.0f}k rows/s", file=sys.stderr)
            ratio = rec[n_big] / rec[n_small]
            lin = n_big / n_small
            rec_out = {
                "sec_small": round(rec[n_small], 2),
                "sec_big": round(rec[n_big], 2),
                "rows_per_sec_big": round(n_big / rec[n_big]),
                "time_ratio": round(ratio, 2),
                "size_ratio": lin,
                # <1 means better-than-linear (fixed overheads amortize)
                "scaling_exponent": round(
                    __import__("math").log(ratio) / __import__("math").log(lin), 3),
            }
            out["ops"][name] = rec_out
            print(f"{name:26s} time x{ratio:.1f} for size x{lin:.0f} "
                  f"(exponent {rec_out['scaling_exponent']})", file=sys.stderr)
    finally:
        for p in sizes.values():
            shutil.rmtree(p, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
