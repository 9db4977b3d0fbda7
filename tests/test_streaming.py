"""Structured Streaming: pipeline fan-out, stateful multiline, windowed
counts, checkpoint/resume (the north rule's resumability contract)."""

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

    # stats-API mirror: progress digest counted every input row
    from logstash_spark.streaming.pipeline import progress_stats

    stats = progress_stats(q)
    assert stats["total_input_rows"] == 300
    assert stats["batches"] >= 1

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


def test_streaming_windowed_counts(spark, tmp_path):
    from logstash_spark.streaming.pipeline import windowed_counts

    src = str(tmp_path / "wsrc")
    pages = synthetic_pages(spark, 200, include_junk=False)
    pages.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(pages.schema).parquet(src)
    agg = windowed_counts(stream, ts="warc_ts", key="lang", window="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("wcounts")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select sum(count) as n from wcounts").collect()[0]["n"]
        assert got == 200
    finally:
        q.stop()


def test_multiline_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: the closed group emits with
    the batch; the open group flushes via the processing-time timeout (the
    reference's 5 s FLUSH tick, pipeline.rb:159). processAllAvailable never
    settles under ProcessingTimeTimeout, so poll the memory sink."""
    from logstash_spark.streaming.stateful import multiline_stateful

    src = str(tmp_path / "msrc")
    rows = [
        ("s1", "first event"),
        ("s1", " continuation 1"),
        ("s1", " continuation 2"),
        ("s1", "second event"),
        ("s1", " cont"),
    ]
    df = spark.createDataFrame(rows, "stream_key string, text string")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = multiline_stateful(stream, pattern=r"^\s", timeout_ms=2000)
    q = out.writeStream.format("memory").queryName("mlout").outputMode("append").start()
    expected = {
        "first event\n continuation 1\n continuation 2": 3,
        "second event\n cont": 2,  # emitted by the timeout flush
    }
    try:
        deadline = time.time() + 90
        got = {}
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            got = {r["text"]: r["multiline_n"] for r in spark.sql("select * from mlout").collect()}
            if got == expected:
                break
            time.sleep(1)
        assert got == expected
    finally:
        q.stop()


def test_throttle_stateful(spark, tmp_path):
    """Streaming throttle: per-key state counter flags events beyond the
    limit within a processing-time period."""
    from logstash_spark.streaming.stateful import throttle_stateful

    src = str(tmp_path / "tsrc")
    rows = [("u1", f"m{i}") for i in range(5)] + [("u2", "solo")]
    df = spark.createDataFrame(rows, "key string, text string")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = throttle_stateful(stream, max_count=3, period_ms=60_000)
    q = out.writeStream.format("memory").queryName("thr").outputMode("append").start()
    try:
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            got = {(r["key"], r["text"]): r["throttled"] for r in spark.sql("select * from thr").collect()}
            if len(got) == 6:
                break
            time.sleep(1)
        assert len(got) == 6
        assert sum(got[("u1", f"m{i}")] for i in range(5)) == 2  # m3, m4 over limit
        assert got[("u2", "solo")] is False
    finally:
        q.stop()


def test_throttle_period_resets_under_continuous_traffic(spark, tmp_path):
    """The counter resets when a PERIOD elapses even though events keep
    arriving — an inactivity timeout alone would be pushed back by every
    batch and eventually flag everything (round-2 fix)."""
    from logstash_spark.streaming.stateful import throttle_stateful

    src = str(tmp_path / "tsrc2")
    schema = "key string, text string"
    spark.createDataFrame([("u1", f"a{i}") for i in range(4)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = throttle_stateful(stream, max_count=3, period_ms=1500)
    q = out.writeStream.format("memory").queryName("thr2").outputMode("append").start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            got = {r["text"]: r["throttled"] for r in spark.sql("select * from thr2").collect()}
            if len(got) == 4:
                break
            time.sleep(0.5)
        assert got == {"a0": False, "a1": False, "a2": False, "a3": True}
        time.sleep(2.0)  # > period: the stored period_start must roll over
        spark.createDataFrame([("u1", f"b{i}") for i in range(2)], schema) \
            .coalesce(1).write.mode("append").parquet(src)
        deadline = time.time() + 60
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            got = {r["text"]: r["throttled"] for r in spark.sql("select * from thr2").collect()}
            if len(got) == 6:
                break
            time.sleep(0.5)
        # fresh period: b0/b1 are counts 1-2, NOT throttled (the buggy
        # inactivity-reset version would flag them as counts 5-6)
        assert got["b0"] is False and got["b1"] is False
    finally:
        q.stop()


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


def test_multiline_stateful_next_mode(spark, tmp_path):
    """Streaming multiline what=next: continuation-marker lines attach to
    the NEXT line; the first plain line closes the group."""
    from logstash_spark.streaming.stateful import multiline_stateful

    src = str(tmp_path / "mlnext")
    rows = [("s1", 0, "part1 \\"), ("s1", 1, "part2 \\"), ("s1", 2, "end"),
            ("s1", 3, "solo"), ("s2", 0, "alone")]
    df = spark.createDataFrame(rows, "stream_key string, seq int, text string")
    df.orderBy("seq").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = multiline_stateful(stream, pattern=r"\\$", what="next")
    q = out.writeStream.format("memory").queryName("mlnext").outputMode("append").start()
    try:
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            got = {(r["stream_key"], r["text"]): r["multiline_n"]
                   for r in spark.sql("select * from mlnext").collect()}
            if len(got) == 3:
                break
            time.sleep(0.5)
        assert got[("s1", "part1 \\\npart2 \\\nend")] == 3
        assert got[("s1", "solo")] == 1
        assert got[("s2", "alone")] == 1
    finally:
        q.stop()


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


def test_multiline_stateful_next_mode_max_lines_cap(spark, tmp_path):
    """what=next runaway-group cap (ADVICE r2): a continuous run of
    matching (continuation) lines flushes at max_lines instead of growing
    pending state unboundedly."""
    from logstash_spark.streaming.stateful import multiline_stateful

    src = str(tmp_path / "mlcap")
    rows = [("s1", i, f"part{i} \\") for i in range(5)] + [("s1", 5, "end")]
    df = spark.createDataFrame(rows, "stream_key string, seq int, text string")
    df.orderBy("seq").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = multiline_stateful(stream, pattern=r"\\$", what="next", max_lines=2)
    q = out.writeStream.format("memory").queryName("mlcap").outputMode("append").start()
    try:
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            got = {r["text"]: r["multiline_n"]
                   for r in spark.sql("select * from mlcap").collect()}
            if len(got) == 3:
                break
            time.sleep(0.5)
        # groups of exactly max_lines flush early; the remainder closes on 'end'
        assert got == {
            "part0 \\\npart1 \\": 2,
            "part2 \\\npart3 \\": 2,
            "part4 \\\nend": 2,
        }
    finally:
        q.stop()


def test_dedup_stream_first_occurrence_wins(spark, tmp_path):
    import datetime as dt

    from logstash_spark.streaming.stateful import dedup_stream

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (0, t0, "alpha body"),
        (1, t0 + dt.timedelta(seconds=10), "Alpha   BODY!"),   # same normalized content
        (2, t0 + dt.timedelta(seconds=20), "beta body"),
        (3, t0 + dt.timedelta(seconds=30), "alpha body"),      # exact dup again
        (4, t0 + dt.timedelta(seconds=40), "gamma body"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, warc_ts timestamp, text string")
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out = dedup_stream(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("dds").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.sql("select * from dds").collect()}
    # one survivor per content key; ids 1 and 3 are dups of 0
    assert 0 in got or 1 in got or 3 in got
    assert len(got) == 3, got

    # batch path: same key semantics via dropDuplicates
    b = dedup_stream(df, watermark="1 hour")
    assert b.count() == 3 and "content_key" in b.columns


def test_elapsed_stateful_match_and_expiry(spark, tmp_path):
    """Streaming elapsed: end consumes the pending start (event-time
    elapsed); an unmatched pending start expires via the processing-time
    timeout and emits the plugin's flusher product, an
    elapsed_expired_error row."""
    from datetime import datetime

    from logstash_spark.streaming.stateful import elapsed_stateful

    src = str(tmp_path / "esrc")
    rows = [
        ("a", 1, datetime(2024, 1, 1, 0, 0, 0), ["taskStarted"]),
        ("a", 2, datetime(2024, 1, 1, 0, 0, 2), ["taskEnded"]),
        ("b", 3, datetime(2024, 1, 1, 0, 0, 1), ["taskEnded"]),   # no start
        ("c", 4, datetime(2024, 1, 1, 0, 0, 2), ["taskStarted"]),  # never ends
    ]
    df = spark.createDataFrame(
        rows, "task string, event_id long, ts timestamp, tags array<string>"
    )
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = elapsed_stateful(stream, timeout_ms=5000)
    q = out.writeStream.format("memory").queryName("elap").outputMode("append").start()
    try:
        deadline = time.time() + 90
        got = {}
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            got = {
                r["event_id"]: (r["elapsed_ms"], r["status"])
                for r in spark.sql("select * from elap").collect()
            }
            if len(got) == 3:
                break
            time.sleep(1)
        assert got[2] == (2_000, "elapsed_end_with_match")
        assert got[3] == (None, "elapsed_end_without_match")
        assert got[4] == (None, "elapsed_expired_error")  # timeout flush
    finally:
        q.stop()


def test_session_rollup_stream_matches_batch_sessionize(spark, tmp_path):
    """Native session_window rollup on a stream produces the same per-key
    session structure as the batch lag+cumsum sessionize (gaps chosen off
    the boundary: session_window closes at last_ts+gap exclusive, batch
    breaks strictly after gap)."""
    import datetime as dt
    from collections import Counter

    from logstash_spark.functions.stats import sessionize
    from logstash_spark.streaming.pipeline import session_rollup

    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(5):
        t = base + dt.timedelta(minutes=u)
        for i in range(10):
            t = t + dt.timedelta(minutes=20 if i % 4 == 3 else 5)
            rows.append((u, u * 100 + i, t))
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    src = str(tmp_path / "sesssrc")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    agg = session_rollup(stream, ts="ts", key="user_id", gap="15 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("sessroll")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select * from sessroll").collect()
    finally:
        q.stop()
    assert sum(r.n_events for r in got) == len(rows)  # every event in exactly one session
    batch = sessionize(df, key_col="user_id", ts_col="ts", order_cols=["event_id"], gap_sec=900)
    sc_batch = Counter((r.user_id, r.session_n) for r in batch.collect())
    # same number of sessions per user, same event counts per session
    stream_counts = sorted((r.user_id, r.n_events) for r in got)
    batch_counts = sorted((u, n) for (u, _s), n in sc_batch.items())
    assert stream_counts == batch_counts


def test_multiline_stateful_order_by_sorts_shuffled_input(spark, tmp_path):
    """order_by re-sorts each key's micro-batch rows before grouping:
    multi-partition input arrives in shuffle order, and without the seq
    column continuations attach to the wrong anchor."""
    import time

    from logstash_spark.streaming.stateful import multiline_stateful

    src = str(tmp_path / "mosrc")
    rows = [("s1", 2, " cont2"), ("s1", 0, "first"), ("s1", 3, "second"),
            ("s1", 1, " cont1")]
    df = spark.createDataFrame(rows, "stream_key string, seq long, text string")
    df.repartition(4).write.parquet(src)  # 4 files: arrival order is luck
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = multiline_stateful(stream, pattern=r"^\s", order_by="seq", timeout_ms=2000)
    q = out.writeStream.format("memory").queryName("mloseq").outputMode("append").start()
    expected = {"first\n cont1\n cont2": 3, "second": 1}
    try:
        deadline = time.time() + 90
        got = {}
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            got = {r["text"]: r["multiline_n"]
                   for r in spark.sql("select * from mloseq").collect()}
            if got == expected:
                break
            time.sleep(1)
        assert got == expected
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
