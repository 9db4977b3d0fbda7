"""Explicit partitioning & skew handling for the pages pipeline.

North rule: "partitions by warc_ts-bucketed url hash with explicit salting
for skewed hosts, AQE-tuned shuffles". The pieces:

- ``write_bucketed`` — the url-hash bucket layout made durable: B hash
  buckets on url, sorted within each, so repeated scans/joins on url
  skip the shuffle. On Iceberg this is `PARTITIONED BY (bucket(B, url))`.
- ``salt_hot_keys`` — explicit salting for skewed aggregation keys (one
  crawl host can be 20%+ of a web corpus): hot keys get a salt in [0,S),
  cold keys salt 0, so a groupBy on (key, salt) splits the hot key into S
  partial groups; ``salted_agg`` re-aggregates the partials. Spark's AQE
  skew handling (enabled in session.DEFAULT_CONFS) covers JOIN skew at
  runtime; aggregation-key skew needs this plan-level treatment. The
  caller names the hot keys (at 100 TB, from a sampled count per key,
  never a full one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_hot_keys(
    df: DataFrame,
    key: str,
    hot: list,
    *,
    salts: int = 16,
    salt_col: str = "_salt",
) -> DataFrame:
    """Add a salt column: hot keys spread over ``salts`` buckets, others 0.

    Deterministic (hash of a stable uniqueness source would be ideal; a
    uniform spread via monotonically-increasing-id-free xxhash64 over all
    columns of the row is overkill — rand-free determinism comes from
    hashing the key plus a per-row discriminator the caller already has).
    Here: pmod(xxhash64(all columns), salts) — stable for a fixed row.
    """
    hot_set = F.array(*[F.lit(h) for h in hot]) if hot else F.array().cast("array<string>")
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns])
    salt = F.when(
        F.array_contains(hot_set, F.col(key).cast("string")), F.pmod(row_hash, F.lit(salts))
    ).otherwise(F.lit(0))
    return df.withColumn(salt_col, salt.cast("int"))


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, str],
    *,
    hot: list,
    salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation: groupBy(key, salt) partials, then
    re-aggregate partials per key. ``aggs``: {column: 'sum'|'count'|'min'|'max'}.

    (avg decomposes into sum+count; percentiles need sketches — out of
    scope for this helper.)
    """
    salted = salt_hot_keys(df, key, hot, salts=salts)
    partial_exprs = []
    for col, how in aggs.items():
        if how == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(f"_p_{col}"))
        else:
            partial_exprs.append(getattr(F, how)(col).alias(f"_p_{col}"))
    partial = salted.groupBy(key, "_salt").agg(*partial_exprs)
    final_exprs = []
    for col, how in aggs.items():
        refold = "sum" if how in ("count", "sum") else how
        final_exprs.append(getattr(F, refold)(f"_p_{col}").alias(f"{how}_{col}"))
    return partial.groupBy(key).agg(*final_exprs)


# ---------------------------------------------------------------------------
# physical bucketing — shuffle-free co-located joins
# ---------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    key: str = "url",
    buckets: int = 64,
    sort: bool = True,
    mode: str = "overwrite",
) -> str:
    """Persist ``df`` as a BUCKETED table: files are hash-clustered on
    ``key`` into ``buckets`` buckets (and sorted within each when
    ``sort``), so any later join/aggregate keyed on ``key`` between
    tables sharing the layout runs WITHOUT a shuffle — Spark's scan
    reports the bucketing as satisfied output partitioning and the
    Exchange is elided (pinned in test_partitioning).

    This is the north rule's url-hash bucketing made durable, the
    standard trick for a corpus that is joined on the same key every day
    (dedup against yesterday, enrichment backfills, incremental
    decontamination). Pay one shuffle at write time, skip it
    on every subsequent read. On Iceberg the same layout is
    ``PARTITIONED BY (bucket(B, url))``; this writer is the
    session-catalog (parquet) form.
    """
    spark = df.sparkSession
    if mode == "overwrite":
        # the session catalog is in-memory: a table written by a PREVIOUS
        # process is gone from the catalog but its warehouse directory
        # remains, and saveAsTable refuses the orphaned location — scrub it
        import os
        import shutil

        spark.sql(f"DROP TABLE IF EXISTS {table}")
        loc = spark.conf.get("spark.sql.warehouse.dir")
        if loc.startswith("file:"):
            loc = loc[len("file:"):]
        if not ("://" in loc):  # local warehouse only; remote FS has no orphans to rmtree
            parts = table.lower().split(".")
            # managed layout: <warehouse>/<db>.db/<table>; default db at root
            rel = parts[-1] if len(parts) == 1 or parts[0] == "default" else (
                f"{parts[-2]}.db/{parts[-1]}"
            )
            shutil.rmtree(os.path.join(loc, rel), ignore_errors=True)
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
    return table
