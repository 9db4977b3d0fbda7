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
writes — same single-pass rule as the batch path. Windowed and sketch
aggregates need no stream-only helpers: Spark's `window`/`session_window`
and the batch sketch functions (functions/sketch.py) run on a watermarked
stream unchanged.

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

