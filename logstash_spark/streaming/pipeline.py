"""Structured-Streaming execution of the same pipeline spec.

Reference lifecycle mapping (SURVEY §3.3-3.4): input threads + SizedQueue
backpressure -> micro-batch admission (`maxFilesPerTrigger` /
`maxOffsetsPerTrigger`); the 5-second FLUSH tick (pipeline.rb:159) ->
trigger interval; SHUTDOWN cascade + final flush (pipeline.rb:117-134) ->
graceful `query.stop()` with state drained via checkpoint; retry-forever
input loop (pipeline.rb:173-207) -> checkpointed offsets + task retries.

The filter chain is IDENTICAL code to batch (Pipeline.transform works on a
streaming DataFrame unchanged — that's the point of declaring the plan).
Multi-sink fan-out uses foreachBatch: one micro-batch scan, N filtered
writes — same single-pass rule as the batch path.

Resumability (north rule): `checkpointLocation` recovers offsets, and
foreachBatch is AT-LEAST-ONCE — so each sink appends to its path and then
drops a marker in a per-(sink, batch_id) commit ledger under
`<checkpoint>/sink-commits`. A replayed batch skips the sinks that already
committed it and writes only the others; the residual window is a crash
between a sink's write and its marker. Overwrite-mode path sinks are
rejected at start (each batch would erase the previous ones). Wire sinks
(tcp/udp/statsd) have no replayable target and stay at-least-once —
documented, not promised away. Batch lineage lives in lineage.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logstash_spark.pipeline import Pipeline


def ensure_event_time(df: DataFrame, ts: str) -> DataFrame:
    """Cast a TIMESTAMP_NTZ event-time column to TIMESTAMP (no-op
    otherwise): watermarks reject NTZ, and parquet written by other engines
    (including the driver's testdata) commonly carries it."""
    if dict(df.dtypes).get(ts) == "timestamp_ntz":
        df = df.withColumn(ts, F.col(ts).cast("timestamp"))
    return df


# default-watermark sentinel: applied only when the column actually exists
# (a hard default of warc_ts crashed any non-WARC stream at query start)
_DEFAULT_WATERMARK = ("warc_ts", "10 minutes")


def run_streaming(
    pipe: Pipeline,
    stream_df: DataFrame,
    *,
    checkpoint: str,
    watermark: tuple[str, str] | None = _DEFAULT_WATERMARK,
    trigger_seconds: int = 5,
):
    """Start the pipeline as a streaming query with foreachBatch fan-out.

    Returns the StreamingQuery. Late data beyond the watermark is dropped
    from windowed aggregates (divergence from the reference's wall-clock
    flush, documented in SURVEY §2.3).

    Delivery: foreachBatch replays a failed micro-batch on restart. A
    per-(sink, batch_id) commit ledger under ``<checkpoint>/sink-commits``
    makes each sink's write idempotent across replays — on replay only the
    sinks that had NOT committed the batch write again (the standard
    foreachBatch batch-id dedup). The residual window is a crash between a
    sink's write and its marker — same contract as the engine's own
    foreachBatch guidance. Wire sinks (tcp/udp/statsd) are at-least-once.

    Path sinks must use ``mode='append'``: an overwrite-mode sink would
    clobber all prior micro-batches' output — rejected at start.
    """
    import os

    for o in pipe.outputs:
        if getattr(o.sink, "mode", None) == "overwrite" and hasattr(o.sink, "path"):
            raise ValueError(
                f"run_streaming: output {o.name!r} uses a path sink with "
                "mode='overwrite' — every micro-batch would erase the "
                "previous ones; use mode='append'"
            )

    df = stream_df
    if watermark is _DEFAULT_WATERMARK and watermark[0] not in df.columns:
        watermark = None  # stream has no warc_ts: the default must not bind
    if watermark:
        df = ensure_event_time(df, watermark[0])
        df = df.withWatermark(*watermark)
    transformed = pipe.transform(df)
    ledger = os.path.join(checkpoint, "sink-commits")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from logstash_spark.sinks import write_outputs

        todo = []
        for o in pipe.outputs:
            if os.path.exists(os.path.join(ledger, o.name, str(batch_id))):
                continue  # this sink already committed this batch (replay)
            todo.append(o)
        if not todo:
            return

        def mark(name: str) -> None:
            # invoked per sink as soon as ITS write returned — a later
            # sink's failure replays only the sinks without a marker
            d = os.path.join(ledger, name)
            os.makedirs(d, exist_ok=True)
            open(os.path.join(d, str(batch_id)), "w").close()

        write_outputs(batch_df, todo, on_sink_done=mark)

    return (
        transformed.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def progress_stats(query) -> dict:
    """The pipeline-stats-API mirror for streaming (reference: queue/thread
    observability, util.rb:12-25, sized_queue.rb): digest of Structured
    Streaming's progress events — rows in/processed per second, batch
    durations, state rows — without any extra instrumentation."""
    recents = query.recentProgress or []
    last = query.lastProgress or {}
    total_rows = sum(int(p.get("numInputRows", 0)) for p in recents)
    durations = [p.get("durationMs", {}).get("triggerExecution") for p in recents]
    durations = [d for d in durations if d is not None]
    return {
        "batches": len(recents),
        "total_input_rows": total_rows,
        "last_input_rows_per_sec": last.get("inputRowsPerSecond"),
        "last_processed_rows_per_sec": last.get("processedRowsPerSecond"),
        "mean_trigger_ms": (sum(durations) / len(durations)) if durations else None,
        "state_rows": sum(
            int(s.get("numRowsTotal", 0)) for s in (last.get("stateOperators") or [])
        ),
    }


def windowed_counts(stream_df: DataFrame, *, ts: str, key: str, window: str = "5 minutes") -> DataFrame:
    """The metrics-filter analog on a stream: watermarked windowed counts."""
    return (
        ensure_event_time(stream_df, ts).withWatermark(ts, "10 minutes")
        .groupBy(F.window(F.col(ts), window).alias("w"), F.col(key))
        .count()
        .select(F.col("w.start").alias("window_start"), key, "count")
    )


def session_rollup(
    stream_df: DataFrame,
    *,
    ts: str,
    key: str,
    gap: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming gap-based sessionization via the engine's NATIVE session
    windows (`F.session_window`): a session extends while events for a key
    arrive within ``gap``; the watermark closes sessions whose gap has
    definitively passed, so state is bounded and results are append-able.

    This is the streaming twin of `stats.sessionize` (batch lag+cumsum):
    the batch form numbers sessions 1..n per key for replayable oracles;
    the native session window keys sessions by [start, end) — the right
    shape when the stream never ends. State: one (key, open-session) row
    per active key, merged by the state store; no applyInPandas needed —
    session merge is engine-side JVM code.

    Boundary parity with the batch form: event times are floored to whole
    seconds here (sessionize compares epoch seconds), and both forms break
    a session when the gap is >= the threshold — session_window's window
    is [t, t+gap), so an event exactly gap after the last one starts a new
    session, and stats.sessionize uses the same >= rule.

    Works on batch frames too (session_window is a grouping expression),
    where it degenerates to the same rollup as sessionize+groupBy modulo
    session numbering vs bounds keying.
    """
    stream_df = ensure_event_time(stream_df, ts)
    stream_df = stream_df.withColumn(ts, F.date_trunc("second", F.col(ts)))
    return (
        stream_df.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("sw"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "n_events",
        )
    )


def windowed_hll_distinct(
    stream_df: DataFrame,
    *,
    ts: str,
    key: str,
    value: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Approximate distinct-count per (event-time window, key) on a
    stream via the HLL register build (functions/sketch.py): the state
    store holds at most m=4096 (window, key, reg) rows per group —
    BOUNDED, unlike dropDuplicates-style exact distinct whose state is
    the number of distinct values — and the watermark evicts closed
    windows. The register aggregate is the SAME groupBy/max the batch
    path uses, so stream-vs-batch equality is a replay test, not a
    separate implementation (test_sketch::test_windowed_hll_stream_matches_batch)."""
    from logstash_spark.functions.sketch import hll_estimate, hll_registers

    df = ensure_event_time(stream_df, ts).withWatermark(ts, watermark)
    regs = hll_registers(
        df.withColumn("_w", F.window(F.col(ts), window)), ["_w", key], value
    )
    est = hll_estimate(regs, ["_w", key])
    return est.select(
        F.col("_w.start").alias("window_start"),
        key,
        "present",
        "est_hll",
    )


def windowed_cms(
    stream_df: DataFrame,
    *,
    ts: str,
    tok: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """Count-Min registers per event-time window on a stream: state is
    at most d*w BIGINT counters per open window (bounded regardless of
    cardinality — the streaming-safe form of frequency tracking; exact
    per-token counts would hold one state row per distinct token), and
    the watermark evicts closed windows. The cell derivation is the
    SAME _cms_cells map the batch cms_build uses, so stream-vs-batch
    equality is a replay test (test_sketch::
    test_windowed_cms_stream_matches_batch). Heavy-hitter queries probe
    the emitted registers batch-side with cms_probe — the sketch per
    window is d*w rows, so probing any candidate set broadcasts."""
    from logstash_spark.functions.sketch import _cms_cells

    df = ensure_event_time(stream_df, ts).withWatermark(ts, watermark)
    cells = (
        df.withColumn("_w", F.window(F.col(ts), window))
        .withColumn("tok", F.col(tok))
        .select("_w", F.explode(_cms_cells(d, w)).alias("cell"))
        .select("_w", "cell.r", "cell.c")
    )
    regs = cells.groupBy("_w", "r", "c").agg(F.count("*").alias("cnt"))
    return regs.select(
        F.col("_w.start").alias("window_start"), "r", "c", "cnt"
    )
