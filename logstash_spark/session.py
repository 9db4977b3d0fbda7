"""SparkSession factory with scale-oriented defaults.

The reference runs one JVM with SizedQueue(20) backpressure and `-w` filter
workers (lib/logstash/pipeline.rb:35-70). Here parallelism is partition
parallelism; the knobs below are what we'd ship to a 1000-executor cluster,
tested on local[N].
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

# Tuned for the target workload: wide text rows, Arrow-UDF parse stages,
# broadcast enrichment joins, multi-sink fan-out.
DEFAULT_CONFS: dict[str, str] = {
    # AQE: runtime coalesce + skew-join splitting — required by the north
    # rule ("AQE-tuned shuffles"). On a real cluster these re-plan per-stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for createDataFrame(pandas) and toPandas. The Python UDFs
    # (grok's arrow_udf, useragent's pandas UDF) always exchange Arrow
    # batches; the next setting sizes them.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size is host-sensitive: the r1 host measured 50k ~20%
    # over 10k; the r4h host's sweep (10k/20k/50k/100k on grok-arrow at
    # local[8], 4M docs, best-of-2) peaks at 20k — 380k docs/s vs 315k
    # at 50k and 274k at 100k (bigger batches push the per-worker
    # working set past cache). 20k also beats 10k on both hosts.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
    # Deterministic timestamps across engines (oracle = DuckDB, UTC).
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: Logstash semantics are forgiving (bad cast -> null + tag),
    # matching try_* behavior everywhere without per-expression wrapping.
    "spark.sql.ansi.enabled": "false",
    # decode(binary,'UTF-8') replaces malformed bytes with U+FFFD instead of
    # throwing — the reference's charset contract (util/charset.rb:23-31
    # transcodes with replacement; events must still be valid UTF-8).
    "spark.sql.legacy.codingErrorAction": "true",
    # str_to_map (the kv filter) THROWS on duplicate keys by default — one
    # malformed log line would kill a whole job. Last-wins matches the
    # common kv contract; the reference plugin collects duplicates into an
    # array (documented divergence — fixed map schema keeps one value).
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # Broadcast threshold: enrichment dims are small by design.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # bucketed-table writes (partitioning.write_bucketed) land outside the
    # repo; in-memory session catalog, parquet bucket files here
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/logstash_spark_warehouse"
    ),
}


def get_spark(
    app: str = "logstash_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` maps to ``local[N]``; defaults to $SPARK_GRAFT_CPUS or '*'.
    ``shuffle_partitions`` defaults to the core count — at cluster scale this
    would be ~2-3x total executor cores; the point is it tracks parallelism
    instead of the 200 default.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else int(cores)

    builder = SparkSession.builder.master(master).appName(app)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def drop_zip_finders() -> None:
    """Drop the ``zipimport`` finders from ``sys.path_importer_cache``.

    Call it at the top of each batch of a Python UDF. On every task the
    worker runs ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each
    cached zipimporter then re-reads its archive's directory. Importing
    pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` leaves one per
    package directory (16 in a worker running a bare ``arrow_udf``, where
    the call took 0.14-0.21 s of CPU on a 4-core Xeon host). Modules
    already imported stay loaded, and a later import rebuilds its finder
    from ``zipimport._zip_directory_cache`` without reading the file.
    Workers are reused, so every task after a worker's first skips the
    re-reads."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        cache.pop(path, None)
