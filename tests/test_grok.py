"""Grok golden parity with the reference's own end-to-end fixture.

The reference ships an Apache combined-log corpus and the exact expected
parse (docs/tutorials/10-minute-walkthrough/apache_log.1 +
step-5-output.txt). Every asserted value below is copied from
step-5-output.txt — this is the reference's de-facto oracle.
"""

import pytest
from pyspark.sql import Row

GOLDEN_LINE = (
    '129.92.249.70 - - [18/Aug/2011:06:00:14 -0700] "GET /style2.css HTTP/1.1" '
    '200 1820 "http://www.semicomplete.com/blog/geekery/bypassing-captive-portals.html" '
    '"Mozilla/5.0 (iPad; U; CPU OS 4_3_5 like Mac OS X; en-us) AppleWebKit/533.17.9 '
    '(KHTML, like Gecko) Version/5.0.2 Mobile/8L1 Safari/6533.18.5"'
)

EXPECTED = {
    "clientip": "129.92.249.70",
    "ident": "-",
    "auth": "-",
    "timestamp": "18/Aug/2011:06:00:14 -0700",
    "verb": "GET",
    "request": "/style2.css",
    "httpversion": "1.1",
    "response": "200",
    "bytes": "1820",
    "referrer": '"http://www.semicomplete.com/blog/geekery/bypassing-captive-portals.html"',
}


@pytest.mark.parametrize("backend", ["expr", "arrow"])
def test_combined_apache_golden(spark, backend):
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([Row(message=GOLDEN_LINE)])
    out = grok(df, "message", "%{COMBINEDAPACHELOG}", backend=backend)
    row = out.collect()[0].asDict()
    for k, v in EXPECTED.items():
        assert row[k] == v, f"{backend}: {k}: {row[k]!r} != {v!r}"
    # agent keeps surrounding quotes in the reference output
    assert row["agent"].startswith('"Mozilla/5.0 (iPad;')
    assert row["tags"] is None or "_grokparsefailure" not in row["tags"]


@pytest.mark.parametrize("backend", ["expr", "arrow"])
def test_grok_failure_tag(spark, backend):
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([Row(message="not an apache line")])
    out = grok(df, "message", "%{COMBINEDAPACHELOG}", backend=backend)
    row = out.collect()[0]
    assert "_grokparsefailure" in row["tags"]
    assert row["clientip"] is None


def test_typed_captures(spark):
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([Row(m="latency=42 load=0.75")])
    out = grok(df, "m", r"latency=%{INT:lat:int} load=%{NUMBER:load:float}")
    row = out.collect()[0]
    assert row["lat"] == 42 and isinstance(row["lat"], int)
    assert row["load"] == 0.75


def test_multiple_patterns_first_match_wins(spark):
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([Row(m="ERROR boom"), Row(m="WARN ouch")])
    out = grok(df, "m", [r"^ERROR %{GREEDYDATA:msg}", r"^%{WORD:level} %{GREEDYDATA:msg}"])
    rows = {r["m"]: r.asDict() for r in out.collect()}
    assert rows["ERROR boom"]["msg"] == "boom"
    assert rows["ERROR boom"]["level"] is None  # first pattern won; second not applied
    assert rows["WARN ouch"]["level"] == "WARN" and rows["WARN ouch"]["msg"] == "ouch"


def test_custom_pattern_library(spark):
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([Row(m="id=ABC-123")])
    out = grok(df, "m", "id=%{MYID:the_id}", extra_patterns={"MYID": r"[A-Z]+-\d+"})
    assert out.collect()[0]["the_id"] == "ABC-123"


def test_backends_agree_on_corpus(spark):
    """expr and arrow backends must produce identical captures over the
    mixed synthetic corpus (70% apache / 30% other)."""
    from logstash_spark.operators.grok import grok
    from logstash_spark.sources.pages import synthetic_pages

    p = synthetic_pages(spark, 500).select("url", "text")
    cols = ["url", "clientip", "verb", "response", "bytes", "_grok_matched"]
    a = grok(p, "text", "%{COMBINEDAPACHELOG}", backend="expr").select(cols)
    b = grok(p, "text", "%{COMBINEDAPACHELOG}", backend="arrow").select(cols)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_no_row_python_in_plan(spark):
    from logstash_spark.operators.grok import grok
    from logstash_spark.plans.checks import assert_no_python_udf
    from logstash_spark.sources.pages import synthetic_pages

    p = synthetic_pages(spark, 10)
    for backend in ("expr", "arrow"):
        assert_no_python_udf(grok(p, "text", "%{COMBINEDAPACHELOG}", backend=backend))


@pytest.mark.parametrize("pattern", [
    "%{IPV4:ip} %{WORD:w}",
    r"id=%{INT:n:int}(?: f=%{NUMBER:f:float})?",
    [r"^ERROR %{GREEDYDATA:m}", r"^%{LOGLEVEL:lvl} %{GREEDYDATA:m}"],
    "%{TIMESTAMP_ISO8601:ts} %{NOTSPACE:tok}",
])
def test_backends_agree_on_mixed_patterns(spark, pattern):
    """Both backends must produce identical captures for every pattern
    shape (optional groups, typed captures, multi-pattern lists) over the
    mixed corpus (70% apache / 15% kv / 10% json / 5% junk)."""
    from logstash_spark.operators.grok import compile_grok, grok
    from logstash_spark.sources.pages import synthetic_pages

    p = synthetic_pages(spark, 300).select("url", "text")
    pats = pattern if isinstance(pattern, list) else [pattern]
    fields = [n for pat in pats for n, _, _ in compile_grok(pat).captures]
    cols = ["url", *dict.fromkeys(fields), "_grok_matched"]
    outs = [
        sorted(map(tuple, grok(p, "text", pattern, backend=b).select(cols).collect()))
        for b in ("expr", "arrow")
    ]
    assert outs[0] == outs[1]


def test_duplicate_capture_names_collect_arrays(spark):
    """Reference grok keeps EVERY occurrence of a duplicated capture name —
    the field becomes an array (on both backends)."""
    from logstash_spark.operators.grok import grok

    import pytest

    df = spark.createDataFrame([("alpha beta gamma",), ("nomatch!!!",)], "text string")
    for backend in ("expr", "arrow"):
        out = {r["text"]: r for r in grok(
            df, "text", r"%{WORD:w} %{WORD:w} %{WORD:last}", backend=backend
        ).collect()}
        row = out["alpha beta gamma"]
        assert row["w"] == ["alpha", "beta"], (backend, row["w"])
        assert row["last"] == "gamma"
        miss = out["nomatch!!!"]
        assert miss["w"] is None and "_grokparsefailure" in miss["tags"]


def test_duplicate_captures_typed_and_multi_pattern(spark):
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([("1 2",), ("solo 7",)], "text string")
    # pattern 1 duplicates n (typed int); pattern 2 captures n once ->
    # promoted to array overall, scalar matches wrap in 1-arrays
    out = {r["text"]: r for r in grok(
        df, "text",
        [r"^%{INT:n:int} %{INT:n:int}$", r"^%{WORD:word} %{INT:n:int}$"],
        backend="expr",
    ).collect()}
    assert out["1 2"]["n"] == [1, 2]
    assert out["solo 7"]["n"] == [7] and out["solo 7"]["word"] == "solo"


def test_inline_named_captures(spark):
    """Oniguruma-style (?<name>...) inline captures — the reference grok's
    second capture syntax (e.g. (?<queue_id>[0-9A-F]{10,11}))."""
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([("queue 4F2A9BC01D five",), ("nope",)], "text string")
    for backend in ("expr", "arrow"):
        out = {r["text"]: r for r in grok(
            df, "text", r"queue (?<queue_id>[0-9A-F]{10,11}) %{WORD:w}", backend=backend
        ).collect()}
        assert out["queue 4F2A9BC01D five"]["queue_id"] == "4F2A9BC01D", backend
        assert out["queue 4F2A9BC01D five"]["w"] == "five"
        assert out["nope"]["queue_id"] is None
    # lookbehind syntax must NOT be mistaken for a named group
    out2 = grok(df, "text", r"(?<=queue )%{WORD:qword}", backend="expr").collect()
    got = {r["text"]: r["qword"] for r in out2}
    assert got["queue 4F2A9BC01D five"] == "4F2A9BC01D"


def test_break_on_match_false_merges_patterns(spark):
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([("a=1 b=2",), ("a=9 only",)], "text string")
    pats = [r"a=%{INT:a:int}", r"b=%{INT:b:int}"]
    # default: first-match-wins — pattern 2 never fires on row 1
    first = {r["text"]: r for r in grok(df, "text", pats, backend="expr").collect()}
    assert first["a=1 b=2"]["a"] == 1 and first["a=1 b=2"]["b"] is None
    # break_on_match false: every pattern contributes its fields
    both = {r["text"]: r for r in grok(df, "text", pats, backend="expr", break_on_match=False).collect()}
    assert both["a=1 b=2"]["a"] == 1 and both["a=1 b=2"]["b"] == 2
    assert both["a=9 only"]["a"] == 9 and both["a=9 only"]["b"] is None
    assert "_grokparsefailure" not in (both["a=9 only"]["tags"] or [])


def test_nested_capture_targets(spark):
    """%{PATTERN:[a][b]} — field-reference capture targets land as nested
    struct fields via set_path (reference grok supports ref names)."""
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([("GET 200",)], "text string")
    out = grok(df, "text", r"%{WORD:[http][verb]} %{INT:[http][code]:int}", backend="expr")
    row = out.collect()[0]
    assert row["http"]["verb"] == "GET" and row["http"]["code"] == 200


def test_tag_on_failure_list(spark):
    """tag_on_failure is an ARRAY in the plugin (default
    ['_grokparsefailure']); every listed tag appends on failure."""
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([("no match here!!!",)], "text string")
    out = grok(df, "text", r"^%{INT:n:int}$", backend="expr",
               tag_on_failure=["_grokparsefailure", "bad_event"])
    tags = out.collect()[0]["tags"]
    assert tags == ["_grokparsefailure", "bad_event"]


def test_capture_named_after_source_column(spark):
    """'%{WORD:verb} %{GREEDYDATA:message}' over 'message' with
    overwrite => ["message"]: replacing the source must not corrupt later
    captures or the failure tag (the expr backend's unanchored expressions
    once re-resolved the overwritten column — fixed via a source
    snapshot)."""
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([("GET /x",), ("###",)], "message string")
    for backend in ("expr", "arrow"):
        rows = grok(df, "message", r"%{WORD:verb} %{GREEDYDATA:message}",
                    backend=backend, overwrite=["message"]).collect()
        ok = [r for r in rows if r["verb"] == "GET"][0]
        assert ok["message"] == "/x" and not ok["tags"], backend
        bad = [r for r in rows if r["verb"] is None][0]
        assert "_grokparsefailure" in bad["tags"], backend


def test_auto_backend_sends_quotedstring_to_arrow(spark):
    """A 3-capture pattern would pick the JVM expr backend, but Java regex
    overflows its stack on QUOTEDSTRING's loop over a 64 KB quoted field
    (and takes the local JVM down with it). Under 'auto' any pattern using
    QUOTEDSTRING runs on RE2 instead."""
    from logstash_spark.operators.grok import grok
    from logstash_spark.plans.checks import physical_plan

    q = '"' + "a" * 65536 + '"'
    df = spark.createDataFrame([(f"GET {q} 200",)], "text string")
    out = grok(df, "text", "%{WORD:verb} %{QS:q} %{NUMBER:code}")
    assert "ArrowEvalPython" in physical_plan(out)
    row = out.collect()[0]
    assert (row["verb"], row["q"], row["code"]) == ("GET", q, "200")
    assert len(row["q"]) == 65538


def test_grok_append_to_existing_field_default(spark):
    """Reference default (filters/base.rb:182-196): a capture landing on an
    EXISTING field appends into an array [existing, captured]; overwrite
    opts out per field; failed rows keep the existing value (1-wrapped
    under the engine's fixed-schema array promotion)."""
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame([("GET /x", "orig"), ("###", "keep")],
                               "message string, verb string")
    for backend in ("expr", "arrow"):
        rows = {r["message"][0] if isinstance(r["message"], list) else r["message"]: r
                for r in grok(df, "message", r"%{WORD:verb} %{GREEDYDATA:message}",
                              backend=backend).collect()}
        ok = rows["GET /x"]
        # both verb (existing 'orig') and message (the source) append
        assert ok["verb"] == ["orig", "GET"], backend
        assert ok["message"] == ["GET /x", "/x"], backend
        bad = rows["###"]
        assert bad["verb"] == ["keep"] and bad["message"] == ["###"], backend
        assert "_grokparsefailure" in bad["tags"], backend

    # typed append unifies numerically when types agree, else string space
    df2 = spark.createDataFrame([(7, "n=9")], "n long, text string")
    r = grok(df2, "text", r"n=%{INT:n:int}", backend="expr").collect()[0]
    assert r["n"] == [7, 9]


# Extended base-set patterns (the public grok base file beyond the apache
# subset): each sample must match — and extract identically — on BOTH
# backends (Java regex / RE2 share the pattern text).
_EXTENDED = [
    ("EMAILADDRESS", "john.doe+tag@mail.example.com"),
    ("HTTPDUSER", "bob@example.com"),
    ("MAC", "00:1b:44:11:3a:b7"),
    ("CISCOMAC", "001b.4411.3ab7"),
    ("WINDOWSMAC", "00-1B-44-11-3A-B7"),
    ("DATESTAMP", "12/31/2023 23:59:59"),
    ("DATESTAMP_RFC822", "Tue Mar 12 2024 10:15:32 PST"),
    ("DATESTAMP_RFC2822", "Tue, 12 Mar 2024 10:15:32 +0100"),
    ("DATESTAMP_EVENTLOG", "20240312101532"),
    ("WINPATH", "C:\\Users\\me\\file.txt"),
    ("PATH", "/var/log/syslog"),
    ("TTY", "/dev/pts/3"),
    ("URN", "urn:isbn:0451450523"),
    ("BASE16FLOAT", "0x1A.F"),
    ("CISCOTIMESTAMP", "Mar 12 2024 10:15:32"),
]


@pytest.mark.parametrize("backend", ["expr", "arrow"])
def test_extended_base_patterns_all_backends(spark, backend):
    from pyspark.sql import functions as F

    from logstash_spark.operators.grok import grok

    # frame with non-word chars only on the LEFT: grok search is UNANCHORED,
    # so a word like 'pre' would itself satisfy USER-ish alternations before
    # the payload; no right frame because WINPATH legitimately contains
    # spaces (so does the public pattern) and would swallow a suffix
    rows = [(i, f"### {s}") for i, (_, s) in enumerate(_EXTENDED)]
    df = spark.createDataFrame(rows, "id long, message string")
    for i, (name, s) in enumerate(_EXTENDED):
        out = grok(
            df.filter(F.col("id") == i), "message", "%{" + name + ":x}", backend=backend
        ).collect()[0]
        assert out["x"] == s, f"{backend}/{name}: {out['x']!r} != {s!r}"


@pytest.mark.parametrize("backend", ["expr", "arrow"])
def test_syslogbase_and_errorlog_captures(spark, backend):
    from logstash_spark.operators.grok import grok

    df = spark.createDataFrame(
        [
            (0, "Mar 12 10:15:32 host1 sshd[4123]: Accepted publickey"),
            (1, "[Tue Mar 12 10:15:32 2024] [core:error] [pid 100:tid 200] [client 1.2.3.4:5555] oops"),
        ],
        "id long, message string",
    )
    base = grok(df.filter("id = 0"), "message", "%{SYSLOGBASE} %{GREEDYDATA:msg}", backend=backend).collect()[0]
    assert base["logsource"] == "host1" and base["program"] == "sshd" and base["pid"] == "4123"
    assert base["msg"] == "Accepted publickey"
    err = grok(df.filter("id = 1"), "message", "%{HTTPD24_ERRORLOG}", backend=backend).collect()[0]
    assert err["module"] == "core" and err["loglevel"] == "error"
    assert err["clientip"] == "1.2.3.4" and err["clientport"] == "5555"
    assert err["message_1"] if "message_1" in err.asDict() else err["message"]
