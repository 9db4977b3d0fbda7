"""multiline / metrics / throttle — the stateful operators (batch shape)."""

from pyspark.sql import Row

from logstash_spark.operators.multiline import multiline


def _lines(spark, rows):
    return spark.createDataFrame([Row(src="s1", seq=i, line=l) for i, l in enumerate(rows)])


def test_multiline_previous(spark):
    """pipeline_spec.rb:118-160: continuation lines (here: leading space)
    join the previous event; intermediates vanish."""
    df = _lines(spark, ["hello world", "   second line", "another first line"])
    out = multiline(df, source="line", pattern=r"^\s", what="previous",
                    stream_key="src", order_by="seq")
    rows = sorted(((r["seq"], r["line"], r["multiline_n"]) for r in out.collect()))
    assert rows == [
        (0, "hello world\n   second line", 2),
        (2, "another first line", 1),
    ]
    tagged = {r["seq"]: r["tags"] for r in out.collect()}
    assert tagged[0] == ["multiline"] and tagged[2] is None


def test_multiline_negate_next(spark):
    """what=next: matching line attaches to the following event."""
    df = _lines(spark, ["part1\\", "part2\\", "end", "solo"])
    out = multiline(df, source="line", pattern=r"\\$", what="next",
                    stream_key="src", order_by="seq")
    rows = sorted((r["seq"], r["line"]) for r in out.collect())
    assert rows == [(0, "part1\\\npart2\\\nend"), (3, "solo")]


def test_multiline_respects_stream_isolation(spark):
    df = spark.createDataFrame(
        [Row(src="a", seq=0, line="x"), Row(src="b", seq=1, line=" cont")]
    )
    out = multiline(df, source="line", pattern=r"^\s", what="previous",
                    stream_key="src", order_by="seq")
    # the continuation in stream b has no anchor -> stays its own event
    assert out.count() == 2


def test_metrics_windowed(spark):
    from logstash_spark.operators.metrics import metrics

    df = spark.createDataFrame(
        [Row(ts="2013-01-01 00:00:05", k="a", value=1.0),
         Row(ts="2013-01-01 00:00:30", k="a", value=3.0),
         Row(ts="2013-01-01 01:00:00", k="b", value=10.0)]
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["col"]).col("ts").cast("timestamp"))
    out = metrics(df, ts="ts", key="k", interval="1 hour", timer_field="value")
    rows = {(str(r["window_start"]), r["key"]): (r["count"], r["mean"]) for r in out.collect()}
    assert rows[("2013-01-01 00:00:00", "a")] == (2, 2.0)
    assert rows[("2013-01-01 01:00:00", "b")] == (1, 10.0)


def test_throttle(spark):
    from logstash_spark.operators.metrics import throttle

    rows = [Row(ts=f"2013-01-01 00:00:{i:02d}", k="u1", id=i) for i in range(5)]
    df = spark.createDataFrame(rows).withColumn(
        "ts", __import__("pyspark.sql.functions", fromlist=["col"]).col("ts").cast("timestamp")
    )
    out = throttle(df, ts="ts", key="k", max_count=3, period="1 hour")
    got = {r["id"]: bool(r["tags"] and "throttled" in r["tags"]) for r in out.collect()}
    assert got == {0: False, 1: False, 2: False, 3: True, 4: True}


def test_metrics_ewma_decay(spark):
    """Faithful EWMA rates: a burst decays exponentially across later ticks
    (closing the trailing-average divergence), rate equals count/tick in
    steady state."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.metrics import metrics_ewma_rates

    # key 'a': 60 events in minute 0, nothing after; key 'b': steady 6/min
    rows = [("a", 0, i) for i in range(60)]
    rows += [("b", m, i) for m in range(10) for i in range(6)]
    df = spark.createDataFrame(
        [(k, f"2024-01-01 00:{m:02d}:{10 + (i % 40):02d}") for k, m, i in rows],
        "key string, tstr string",
    ).select("key", F.col("tstr").cast("timestamp").alias("ts"))

    out = metrics_ewma_rates(df, ts="ts", key="key", tick="1 minute")
    a = {r["window_start"].minute: r for r in out.filter(F.col("key") == "a").collect()}
    # burst minute: rate = 60/60s = 1.0 events/sec
    assert abs(a[0]["ewma_rate_1m"] - 1.0) < 1e-9
    # 'a' has no later ticks (no events -> no rows): the burst row itself
    # carries the decay math; check steady-state key instead
    b = sorted(
        (r["window_start"].minute, r["ewma_rate_1m"])
        for r in out.filter(F.col("key") == "b").collect()
    )
    # steady input: EWMA converges to 6/60 = 0.1 events/sec
    assert abs(b[-1][1] - 0.1) < 1e-3
    # monotone approach from the first tick (no oscillation)
    rates = [r for _, r in b]
    assert all(abs(x - 0.1) >= abs(y - 0.1) - 1e-12 for x, y in zip(rates, rates[1:]))


def test_multiline_max_lines_cap(spark):
    """max_lines splits runaway groups and tags the capped pieces —
    unbounded group state is the multiline scale-killer."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.multiline import multiline

    rows = [("s1", 0, "start big")] + [("s1", i, f"  cont {i}") for i in range(1, 10)]
    rows += [("s1", 10, "start small"), ("s1", 11, "  cont 11")]
    df = spark.createDataFrame(rows, "sk string, seq int, text string")
    out = multiline(
        df, source="text", pattern=r"^\s", what="previous",
        stream_key="sk", max_lines=4,
    ).orderBy("seq")
    groups = out.collect()
    # 10-line group split into 4+4+2; 2-line group intact
    assert [g["multiline_n"] for g in groups] == [4, 4, 2, 2]
    capped = [bool(g["tags"] and "multiline_codec_max_lines_reached" in g["tags"]) for g in groups]
    assert capped == [True, True, True, False]
    assert groups[0]["text"].count("\n") == 3


def test_conditional_multiline_split_apply_union(spark):
    """multiline inside a conditional (reference config_ast.rb:375-436
    compiles a per-branch filter instance): ONLY matching rows regroup;
    the rest pass through untouched with null multiline_n."""
    from pyspark.sql import Row

    from logstash_spark.conditions import Cmp, Field
    from logstash_spark.pipeline import Pipeline, Stage

    df = spark.createDataFrame([
        Row(src="s1", seq=0, line="app start", type="app"),
        Row(src="s1", seq=1, line="   app cont", type="app"),
        Row(src="s1", seq=2, line="other solo", type="other"),
        Row(src="s1", seq=3, line="   other indent kept", type="other"),
    ])
    st = Stage(op="multiline",
               params={"source": "line", "pattern": r"^\s", "what": "previous",
                       "stream_key": "src", "order_by": "seq"},
               when=Cmp(Field("[type]"), "==", "app"))
    rows = {r["seq"]: r for r in Pipeline(filters=[st]).transform(df).collect()}
    assert len(rows) == 3
    assert rows[0]["line"] == "app start\n   app cont" and rows[0]["multiline_n"] == 2
    # non-matching rows pass through untouched — even the indented one
    assert rows[2]["line"] == "other solo" and rows[2]["multiline_n"] is None
    assert rows[3]["line"] == "   other indent kept" and rows[3]["multiline_n"] is None
