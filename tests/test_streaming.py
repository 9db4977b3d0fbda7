"""Structured Streaming: pipeline fan-out, batch/stream routed-set parity,
heartbeat, checkpoint/resume (the north rule's resumability contract)."""

import os
import time

import pytest

from logstash_spark.conditions import Field, Not, Rx
from logstash_spark.pipeline import Output, Pipeline, Stage, output_predicate
from logstash_spark.sinks import ParquetSink
from logstash_spark.sources.pages import synthetic_pages


def test_streaming_pipeline_fanout_and_resume(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    err_out = str(tmp_path / "err")
    ok_out = str(tmp_path / "ok")

    first = synthetic_pages(spark, 300, include_junk=False)
    first.coalesce(1).write.mode("append").parquet(src)
    schema = first.schema

    pipe = Pipeline(
        filters=[
            Stage(op="grok", params={"source": "text", "patterns": "%{COMBINEDAPACHELOG}"}),
        ],
        outputs=[
            Output("errors", ParquetSink(err_out, mode="append"), when=Rx(Field("[response]"), "^5")),
            Output("ok", ParquetSink(ok_out, mode="append"), when=Not(Rx(Field("[response]"), "^5"))),
        ],
    )

    from logstash_spark.streaming.pipeline import run_streaming

    stream = spark.readStream.schema(schema).parquet(src)
    q = run_streaming(pipe, stream, checkpoint=ckpt, watermark=None, trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    err_n = spark.read.parquet(err_out).count()
    ok_n = spark.read.parquet(ok_out).count()
    assert err_n + ok_n == 300
    assert err_n == sum(1 for i in range(300) if i % 7 in (5, 6))

    # Structured Streaming's own progress events counted every input row
    progress = q.recentProgress
    assert sum(int(p["numInputRows"]) for p in progress) == 300
    assert len(progress) >= 1

    # resume from checkpoint: only NEW files are processed (exactly-once)
    extra = synthetic_pages(spark, 400, include_junk=False).subtract(first)
    extra.coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = run_streaming(pipe, stream2, checkpoint=ckpt, watermark=None, trigger_seconds=1)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    total = spark.read.parquet(err_out).count() + spark.read.parquet(ok_out).count()
    assert total == 400  # 300 + 100 new, nothing reprocessed


def test_streaming_batch_routed_set_parity(spark, tmp_path):
    """North-rule routed-row equality, streaming mode: the SAME pipeline
    spec run as micro-batches must route exactly the same url sets to each
    sink as the batch run (order-free set comparison per the survey)."""
    src = str(tmp_path / "psrc")
    pages = synthetic_pages(spark, 600, include_junk=True)
    pages.coalesce(2).write.parquet(src)
    stored = spark.read.parquet(src)

    pipe = Pipeline(
        filters=[
            Stage(op="grok", params={"source": "text", "patterns": "%{COMBINEDAPACHELOG}"}),
        ],
        outputs=[
            Output("errors", ParquetSink(str(tmp_path / "s_err"), mode="append"),
                   when=Rx(Field("[response]"), "^5")),
            Output("rest", ParquetSink(str(tmp_path / "s_rest"), mode="append"),
                   when=Not(Rx(Field("[response]"), "^5"))),
        ],
    )

    # batch routing decision: the same Output predicates write_outputs uses
    out = pipe.transform(stored)
    err_o, rest_o = pipe.outputs
    batch_err = {r["url"] for r in out.filter(output_predicate(out, err_o)).select("url").collect()}
    batch_rest = {r["url"] for r in out.filter(output_predicate(out, rest_o)).select("url").collect()}

    from logstash_spark.streaming.pipeline import run_streaming

    stream = spark.readStream.schema(stored.schema).parquet(src)
    q = run_streaming(pipe, stream, checkpoint=str(tmp_path / "pck"), watermark=None)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_err = {r["url"] for r in spark.read.parquet(str(tmp_path / "s_err")).select("url").collect()}
    stream_rest = {r["url"] for r in spark.read.parquet(str(tmp_path / "s_rest")).select("url").collect()}
    assert stream_err == batch_err
    assert stream_rest == batch_rest
    assert len(stream_err) + len(stream_rest) == 600


def test_heartbeat_stream(spark, tmp_path):
    from logstash_spark.sources.readers import heartbeat_stream

    hb = heartbeat_stream(spark, interval_seconds=1)
    assert set(hb.columns) == {"host", "@timestamp", "clock", "message"}
    q = hb.writeStream.format("memory").queryName("hb").outputMode("append").start()
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("select count(*) n from hb").collect()[0]["n"]
            if n >= 2:
                break
            time.sleep(0.5)
        assert n >= 2
        row = spark.sql("select * from hb limit 1").collect()[0]
        assert row["host"] == "heartbeat" and row["message"] == "ok"
    finally:
        q.stop()


def test_run_streaming_rejects_overwrite_path_sink(spark, tmp_path):
    """A path sink with mode='overwrite' would clobber every prior
    micro-batch — run_streaming must refuse at start."""
    import pytest

    from logstash_spark.pipeline import Output, Pipeline
    from logstash_spark.sinks import ParquetSink
    from logstash_spark.streaming.pipeline import run_streaming

    pipe = Pipeline(filters=[], outputs=[
        Output("out", sink=ParquetSink(str(tmp_path / "o")))  # default overwrite
    ])
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    with pytest.raises(ValueError, match="overwrite"):
        run_streaming(pipe, stream, checkpoint=str(tmp_path / "ck"))
