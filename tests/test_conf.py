"""The .conf config-language front end — parsed and compiled against the
reference's OWN tutorial configs (docs/tutorials/10-minute-walkthrough/)."""

import ast
import contextlib
import io
import os
import sys

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from logstash_spark.conf import ConfCompileError, compile_config, compile_file
from logstash_spark.confparser import ConfSyntaxError, IfNode, PluginNode, parse_config

REF = "/root/reference/docs/tutorials/10-minute-walkthrough"


def _agent(conf, out_dir) -> dict:
    """Run a .conf file through the shipped CLI (`jobs/agent.py -f`) and
    return each output's printed result line."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import agent

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert agent.main(["-f", str(conf), "--out", str(out_dir)]) == 0
    return dict(line.split(": ", 1) for line in out.getvalue().splitlines() if ": " in line)


GOLDEN_LINE = (
    '129.92.249.70 - - [18/Aug/2011:06:00:14 -0700] "GET /style2.css HTTP/1.1" '
    '200 1820 "http://www.semicomplete.com/blog/geekery/bypassing-captive-portals.html" '
    '"Mozilla/5.0 (iPad; U; CPU OS 4_3_5 like Mac OS X; en-us) AppleWebKit/533.17.9 '
    '(KHTML, like Gecko) Version/5.0.2 Mobile/8L1 Safari/6533.18.5"'
)


def test_parse_reference_apache_conf():
    cfg = parse_config(open(f"{REF}/apache-parse.conf").read())
    assert [s.kind for s in cfg.sections] == ["input", "filter", "output"]
    (tcp,) = cfg.section("input")
    assert tcp.name == "tcp" and tcp.attrs == {"type": "apache", "port": 3333}
    (branch,) = cfg.section("filter")
    assert isinstance(branch, IfNode)
    cond, items = branch.branches[0]
    assert cond == '[type] == "apache"'
    assert [p.name for p in items] == ["grok", "date"]
    assert items[0].attrs["match"] == {"message": "%{COMBINEDAPACHELOG}"}
    assert items[1].attrs["match"] == ["timestamp", "dd/MMM/yyyy:HH:mm:ss Z"]
    (stdout,) = cfg.section("output")
    assert stdout.name == "stdout" and stdout.attrs["codec"] == "rubydebug"


def test_run_reference_apache_conf_golden(spark, tmp_path):
    """Compile the reference's tutorial config and reproduce its published
    expected event (step-5-output.txt) — the reference's own e2e oracle."""
    pipe, inputs = compile_file(f"{REF}/apache-parse.conf", out_dir=str(tmp_path))
    assert inputs[0].name == "tcp"

    df = spark.createDataFrame(
        [Row(message=GOLDEN_LINE, type="apache"), Row(message=GOLDEN_LINE, type="notapache")]
    )
    out = pipe.transform(df)
    rows = {r["type"]: r.asDict() for r in out.collect()}

    apache = rows["apache"]
    assert apache["clientip"] == "129.92.249.70"
    assert apache["ident"] == "-" and apache["auth"] == "-"
    assert apache["timestamp"] == "18/Aug/2011:06:00:14 -0700"
    assert apache["verb"] == "GET"
    assert apache["request"] == "/style2.css"
    assert apache["httpversion"] == "1.1"
    assert apache["response"] == "200"
    assert apache["bytes"] == "1820"
    iso = out.filter(F.col("type") == "apache").select(
        F.date_format("@timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("t")
    ).collect()[0]["t"]
    assert iso == "2011-08-18T13:00:14.000Z"  # step-5-output.txt @timestamp

    # the conditional gated BOTH filters: the non-apache event is untouched
    assert rows["notapache"]["clientip"] is None
    assert rows["notapache"]["@timestamp"] is None

    # stdout output compiled to a collectable sink over every event
    res = pipe.run(df)
    assert len(res["stdout_0"]) == 2


def test_if_elseif_else_compile(spark, tmp_path):
    src = """
filter {
  if [code] == "a" { mutate { replace => { "out" => "A" } } }
  else if [code] == "b" { mutate { replace => { "out" => "B" } } }
  else { mutate { replace => { "out" => "other" } } }
}
output { stdout {} }
"""
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame([Row(code=c, out="") for c in ("a", "b", "c")])
    got = {r["code"]: r["out"] for r in pipe.transform(df).collect()}
    assert got == {"a": "A", "b": "B", "c": "other"}


def test_nested_conditionals_and_decorators(spark, tmp_path):
    src = """
filter {
  if [n] >= 10 {
    if [n] >= 100 { mutate { replace => { "size" => "big" } add_tag => ["huge"] } }
    else { mutate { replace => { "size" => "medium" } } }
  }
}
output { null {} }
"""
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame([Row(n=n, size="small") for n in (5, 50, 500)])
    rows = {r["n"]: (r["size"], r["tags"]) for r in pipe.transform(df).collect()}
    assert rows[5] == ("small", None)
    assert rows[50] == ("medium", None)
    assert rows[500] == ("big", ["huge"])


def test_output_routing_and_statsd(spark, tmp_path):
    src = """
output {
  if [response] =~ /^5/ { file { path => "errors" } }
  statsd { increment => "apache.response.%{response}" }
}
"""
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame([Row(url=str(i), response=str(200 + 303 * (i % 2))) for i in range(10)])
    res = pipe.run(df)
    import os

    errs = spark.read.parquet(os.path.join(str(tmp_path), "errors"))
    assert errs.count() == 5
    # counts keyed by the full sprintf'd statsd metric name
    assert res["statsd_1"] == {"apache.response.200": 5, "apache.response.503": 5}


def test_conf_syntax_and_compile_errors(tmp_path):
    with pytest.raises(ConfSyntaxError):
        parse_config("bogus_section { }")
    with pytest.raises(ConfSyntaxError):
        parse_config("filter { grok { match => { 'a' => 'x' 'a' => 'y' } } }")
    with pytest.raises(ConfSyntaxError):
        parse_config("filter { grok { match => }")
    with pytest.raises(ConfCompileError, match="unsupported filter plugin"):
        compile_config("filter { wat { } }", out_dir=str(tmp_path))
    with pytest.raises(ConfCompileError, match="requires match"):
        compile_config("filter { grok { } }", out_dir=str(tmp_path))
    with pytest.raises(ConfCompileError, match="unsupported options"):
        compile_config("filter { mutate { frobnicate => 1 } }", out_dir=str(tmp_path))


def test_patterns_dir_loading(tmp_path):
    pfile = tmp_path / "extra.patterns"
    pfile.write_text("# comment\nMYID [A-Z]+-\\d+\n")
    src = 'filter { grok { match => { "m" => "id=%{MYID:the_id}" } patterns_dir => ["' + str(pfile) + '"] } }\noutput { null {} }'
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    assert pipe.filters[0].params["extra_patterns"] == {"MYID": r"[A-Z]+-\d+"}


def test_multiline_mixed_config_from_reference_spec():
    """Config shapes from spec/core/config_spec.rb:50-85 (conditionals with
    multiple operators and regex) must parse."""
    src = """
filter {
  if [type] == "web" { grok { match => { "message" => "%{WORD:verb}" } } }
  else if [type] in ["foo", "bar"] { mutate { add_tag => ["listed"] } }
  else if !([type] =~ /^sys/) { drop { } }
}
"""
    cfg = parse_config(src)
    (branch,) = cfg.section("filter")
    assert len(branch.branches) == 3


def test_metrics_from_logs_tutorial_config(spark, tmp_path):
    """The reference's second end-to-end tutorial (docs/tutorials/
    metrics-from-logs.md:35-53): legacy grok syntax + type gating + statsd
    counter keyed by a sprintf template."""
    src = """
    input {
      file {
        path => "/var/log/apache/access.log"
        type => "apache-access"
      }
    }

    filter {
      grok {
        type => "apache-access"
        pattern => "%{COMBINEDAPACHELOG}"
      }
    }

    output {
      statsd {
        increment => "apache.response.%{response}"
      }
    }
    """
    from logstash_spark.sources.pages import synthetic_pages

    pipe, inputs = compile_config(src, out_dir=str(tmp_path))
    assert inputs[0].name == "file" and inputs[0].attrs["type"] == "apache-access"
    assert pipe.filters[0].type == "apache-access"  # legacy gating honored

    pages = synthetic_pages(spark, 350, include_junk=False).select(
        F.col("text").alias("message")
    ).withColumn("type", F.lit("apache-access"))
    res = pipe.run(pages)
    counts = res["statsd_0"]
    # oracle: response distribution of the generator (id%7 -> code table),
    # counted under the FULL sprintf'd statsd metric name
    table = ["200", "200", "200", "301", "404", "500", "503"]
    expected = {}
    for i in range(350):
        k = f"apache.response.{table[i % 7]}"
        expected[k] = expected.get(k, 0) + 1
    assert counts == expected


def test_conf_compile_fuzz(spark, tmp_path):
    """Random VALID configs from the supported plugin surface must compile
    and execute without errors (the configtest contract end-to-end)."""
    import itertools
    import random

    rng = random.Random(42)
    plugin_templates = [
        'grok { match => { "message" => "%{WORD:w} %{GREEDYDATA:rest}" } }',
        'mutate { uppercase => ["w"] add_tag => ["m"] }',
        'mutate { gsub => ["message", "-", "_"] }',
        'mutate { replace => { "note" => "n-%{w}" } }',
        'kv { source => "message" target => "kvm" }',
        'fingerprint { source => ["message"] target => "fp" }',
        'urldecode { field => "message" }',
        'uuid { target => "uid" }',
        'sleep { }',
        'drop { }',
    ]
    conds = ['[w] == "alpha"', "[message] =~ /a/", '"x" in [message]', "![missing]"]

    df = spark.createDataFrame(
        [("alpha beta-gamma",), ("zz yy",), ("one two three",)], "message string"
    ).cache()

    for trial in range(25):
        k = rng.randint(1, 4)
        parts = []
        for _ in range(k):
            plug = rng.choice(plugin_templates)
            if rng.random() < 0.5:
                parts.append(f"if {rng.choice(conds)} {{ {plug} }}")
            else:
                parts.append(plug)
        src = "filter {\n" + "\n".join(parts) + "\n}\noutput { null { } }"
        pipe, _ = compile_config(src, out_dir=str(tmp_path))
        try:
            out = pipe.transform(df)
            assert out.count() >= 0
        except NotImplementedError:
            # conditional clone/split/drop guard is an allowed outcome
            continue


def test_multistage_plugin_gating_applies_to_every_substage(spark, tmp_path):
    """A plugin that expands to several stages (mutate with several ops) must
    carry the legacy type gate on EVERY emitted sub-stage — not just the last
    one — or earlier sub-ops run ungated on all events."""
    src = """
    filter {
      mutate {
        type => "apache"
        convert => { "n" => "integer" }
        uppercase => [ "verb" ]
        add_tag => [ "mutated" ]
      }
    }
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    assert len(pipe.filters) >= 2
    assert all(st.type == "apache" for st in pipe.filters)
    # decorators only fire once, on the final sub-stage
    assert pipe.filters[-1].add_tag == ["mutated"]
    assert all(st.add_tag == [] for st in pipe.filters[:-1])
    df = spark.createDataFrame(
        [("apache", "2", "get"), ("other", "3", "post")],
        "type string, n string, verb string",
    )
    rows = {r["type"]: r for r in pipe.transform(df).collect()}
    # note: a type-CHANGING convert under a conditional CASE-merges back to
    # the common type (string) — the fixed-schema caveat documented at
    # pipeline._conditional_apply; the gating semantics are what's pinned here
    assert rows["apache"]["verb"] == "GET"
    assert rows["apache"]["tags"] == ["mutated"]
    # the non-matching event is untouched by every sub-op
    assert rows["other"]["n"] == "3" and rows["other"]["verb"] == "post"
    assert not rows["other"]["tags"]


def test_translate_inline_dictionary(spark, tmp_path):
    """translate with inline dictionary compiles to a literal map lookup
    (exact) or rlike cascade (regex) — no join in the plan."""
    src = """
    filter {
      translate {
        field => "response"
        destination => "status_name"
        dictionary => { "200" => "ok"  "404" => "missing"  "500" => "error" }
        fallback => "other"
      }
      translate {
        field => "agent"
        destination => "is_bot"
        regex => true
        dictionary => { "Googlebot|bingbot" => "bot" }
        fallback => "human"
      }
    }
    output { null { } }
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame(
        [("200", "Mozilla Chrome"), ("500", "Googlebot/2.1"), ("301", "x")],
        "response string, agent string",
    )
    rows = {r["response"]: r for r in pipe.transform(df).collect()}
    assert rows["200"]["status_name"] == "ok"
    assert rows["500"]["status_name"] == "error" and rows["500"]["is_bot"] == "bot"
    assert rows["301"]["status_name"] == "other" and rows["301"]["is_bot"] == "human"


def test_metrics_and_xml_translators(spark, tmp_path):
    src = """
    filter {
      metrics { meter => "apache.%{verb}" flush_interval => 60 timestamp_field => "ts" }
    }
    output { null { } }
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("GET",), ("GET",), ("POST",)], "verb string"
    ).withColumn("ts", F.lit("2024-01-01 00:00:30").cast("timestamp"))
    out = {r["key"]: r["count"] for r in pipe.transform(df).collect()}
    # the meter key is the FULL sprintf'd metric name (metrics-from-logs.md:
    # 'apache.200'), not the bare embedded field value
    assert out == {"apache.GET": 2, "apache.POST": 1}

    with pytest.raises(ConfCompileError, match="schema"):
        compile_config('filter { xml { source => "x" } } output { null {} }', out_dir=str(tmp_path))


def test_elasticsearch_output_writes_bulk_wire_format(spark, tmp_path):
    """The elasticsearch output produces REAL es_bulk NDJSON (action+doc
    pairs, sprintf index template, document_id) — not an opaque stand-in."""
    import json as J

    src = """
    output {
      elasticsearch { index => "web-%{lang}" document_id => "url" }
    }
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame(
        [("u1", "en", 200), ("u2", "de", 500)], "url string, lang string, response int"
    )
    pipe.run(df)
    import os

    out_dir = os.path.join(str(tmp_path), "elasticsearch_0")
    lines = [l for f in os.listdir(out_dir) if f.endswith(".txt") or f.startswith("part")
             for l in open(os.path.join(out_dir, f)).read().splitlines() if l]
    actions = [J.loads(l) for l in lines if '"index"' in l and "_index" in l]
    docs = [J.loads(l) for l in lines if "_index" not in l]
    assert {a["index"]["_index"] for a in actions} == {"web-en", "web-de"}
    assert {a["index"]["_id"] for a in actions} == {"u1", "u2"}
    assert {d["url"] for d in docs} == {"u1", "u2"}


def test_geoip_conf_with_database_file(spark, tmp_path):
    """geoip from .conf: database => csv range table, broadcast prefix
    range join, fields projected under geoip_."""
    db = tmp_path / "geo.csv"
    db.write_text(
        "ip_lo,ip_hi,country,city\n"
        "10.0.0.0,10.0.255.255,US,NYC\n"
        "10.1.0.0,10.1.255.255,DE,Berlin\n"
    )
    src = f"""
    filter {{ geoip {{ source => "clientip" database => "{db}" }} }}
    output {{ null {{ }} }}
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame(
        [("10.0.12.7",), ("10.1.200.9",), ("192.168.1.1",)], "clientip string"
    )
    rows = {r["clientip"]: r for r in pipe.transform(df).collect()}
    assert rows["10.0.12.7"]["geoip_city"] == "NYC"
    assert rows["10.1.200.9"]["geoip_country"] == "DE"
    assert rows["192.168.1.1"]["geoip_city"] is None

    with pytest.raises(ConfCompileError, match="database"):
        compile_config('filter { geoip { source => "ip" } } output { null {} }', out_dir=str(tmp_path))


def test_geoip_conf_target_struct(spark, tmp_path):
    """geoip target => nests attributes in ONE struct column (the plugin's
    default event['geoip'] hash shape); misses give a null struct field."""
    db = tmp_path / "geo.csv"
    db.write_text(
        "ip_lo,ip_hi,country,city\n"
        "10.0.0.0,10.0.255.255,US,NYC\n"
    )
    src = f"""
    filter {{ geoip {{ source => "clientip" database => "{db}" target => "geoip" }} }}
    output {{ null {{ }} }}
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame([("10.0.12.7",), ("192.168.1.1",)], "clientip string")
    rows = {r["clientip"]: r for r in pipe.transform(df).collect()}
    assert rows["10.0.12.7"]["geoip"]["country"] == "US"
    assert rows["10.0.12.7"]["geoip"]["city"] == "NYC"
    assert rows["192.168.1.1"]["geoip"]["country"] is None


def test_dns_conf_with_database_file(spark, tmp_path):
    db = tmp_path / "hosts.csv"
    db.write_text("host,address\nweb01,10.0.0.5\ndb01,10.0.0.9\n")
    src = f"""
    filter {{ dns {{ resolve => ["hostname"] database => "{db}" action => "replace" }} }}
    output {{ null {{ }} }}
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame([("web01",), ("unknown",)], "hostname string")
    rows = {r["hostname"] for r in pipe.transform(df).collect()}
    assert rows == {"10.0.0.5", "unknown"}  # resolved replaces; miss keeps original


def test_run_conf_file_end_to_end(spark, tmp_path):
    """One call from .conf to written sinks: generator input binding,
    decorate, filters, routed outputs."""
    log = tmp_path / "app.log"
    log.write_text("alpha 1\nbeta 2\ngamma 3\n")
    conf = tmp_path / "p.conf"
    conf.write_text(f"""
    input {{
      file {{ path => "{log}" type => "applog" tags => ["raw"] }}
    }}
    filter {{
      grok {{ match => {{ "message" => "%{{WORD:word}} %{{INT:n:int}}" }} }}
    }}
    output {{
      if [n] > 1 {{ file {{ path => "big" }} }}
      null {{ }}
    }}
    """)
    _agent(conf, tmp_path)
    big = spark.read.parquet(str(tmp_path / "big"))
    rows = {r["word"]: r for r in big.collect()}
    assert set(rows) == {"beta", "gamma"}
    assert rows["beta"]["type"] == "applog" and rows["beta"]["tags"] == ["raw"]


def test_bind_input_generator_and_errors(spark):
    from logstash_spark.conf import bind_input
    from logstash_spark.confparser import PluginNode

    df = bind_input(spark, PluginNode("generator", {"count": 5, "message": "hi", "type": "gen"}))
    rows = df.collect()
    assert len(rows) == 5 and rows[0]["message"] == "hi" and rows[0]["type"] == "gen"

    # irc now binds from a transcript export; without one it fails fast
    with pytest.raises(ConfCompileError, match="export"):
        bind_input(spark, PluginNode("irc", {"host": "example"}))
    # eventlog (Windows API) remains the unbound daemon input
    with pytest.raises(ConfCompileError, match="no sandbox binding"):
        bind_input(spark, PluginNode("eventlog", {}))
    # and a tcp node without the required port fails fast
    with pytest.raises(ConfCompileError, match="port"):
        bind_input(spark, PluginNode("tcp", {}))


def test_file_output_json_lines_codec(spark, tmp_path):
    import json as J
    import os

    src = """
    output {
      file { path => "nd" codec => "json_lines" }
      stdout { codec => "dots" }
    }
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    res = pipe.run(df)
    nd_dir = os.path.join(str(tmp_path), "nd")
    lines = [J.loads(l) for f in os.listdir(nd_dir) if not f.startswith((".", "_"))
             for l in open(os.path.join(nd_dir, f)).read().splitlines() if l]
    assert sorted(lines, key=lambda d: d["k"]) == [{"k": "a", "v": 1}, {"k": "b", "v": 2}]
    assert res["stdout_1"] == 2  # dots codec: count only


def test_throttle_and_multiline_conf_shapes(spark, tmp_path):
    """Every documented throttle/multiline .conf shape compiles AND runs
    (review fix: these previously crashed at plan/transform time)."""
    src = """
    filter {
      throttle { key => "%{host}" max_count => 2 period => 3600 }
      multiline { pattern => "^\\\\s" what => "previous" }
    }
    output { null { } }
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame(
        [("h1", "start", "2024-01-01 00:00:0%d" % i) for i in range(4)],
        "host string, message string, tstr string",
    ).select("host", "message", F.col("tstr").cast("timestamp").alias("@timestamp"))
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        rows = pipe.transform(df).collect()
    assert rows  # compiles and executes end-to-end
    throttled = [r for r in rows if r["tags"] and "throttled" in r["tags"]]
    assert len(throttled) >= 1  # 4 events, max_count 2 in one period


def test_unknown_options_fail_fast_everywhere(tmp_path):
    """The configtest contract holds for every hand-written translator
    (review fix: several silently dropped unknown options)."""
    bad = [
        'filter { grok { match => { "m" => "%{WORD:w}" } frobnicate => 1 } }',
        'filter { date { match => ["t", "ISO8601"] bogus => 1 } }',
        'filter { kv { source => "m" wat => 1 } }',
        'filter { translate { field => "f" dictionary => { "a" => "b" } nope => 1 } }',
        'filter { metrics { meter => ["m"] zzz => 1 } }',
    ]
    for src in bad:
        with pytest.raises(ConfCompileError, match="unsupported options"):
            compile_config(src + " output { null {} }", out_dir=str(tmp_path))
    # REAL plugin options the engine matches by default are accepted no-ops
    pipe, _ = compile_config(
        'filter { grok { match => { "m" => "%{WORD:w}" } overwrite => ["m"] '
        'named_captures_only => true } } output { null {} }',
        out_dir=str(tmp_path),
    )
    assert pipe.filters


def test_statsd_bare_key_counts_constant(spark, tmp_path):
    src = 'output { statsd { increment => "apache.hits" } }'
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame([(i,) for i in range(7)], "n int")
    res = pipe.run(df)
    assert res["statsd_0"] == {"apache.hits": 7}


def test_realworld_syslog_pipeline_end_to_end(spark, tmp_path):
    """A production-shaped .conf: file input -> grok SYSLOG + pri decode +
    date -> conditional routing to elasticsearch (real es_bulk wire) and a
    severity counter — one agent CLI run."""
    import json as J
    import os

    log = tmp_path / "syslog.log"
    lines = []
    for i in range(20):
        pri = 30 + (i % 8)  # daemon facility, varying severity
        lines.append(
            f"<{pri}>Mar  5 04:05:{i:02d} web{i % 3} sshd[{100 + i}]: "
            f"session event {i}"
        )
    log.write_text("\n".join(lines) + "\n")
    conf = tmp_path / "syslog.conf"
    conf.write_text(f"""
    input {{ file {{ path => "{log}" type => "syslog" }} }}
    filter {{
      grok {{
        match => {{ "message" => "^<%{{POSINT:syslog_pri}}>%{{SYSLOGTIMESTAMP:ts_raw}} %{{IPORHOST:logsource}} %{{SYSLOGPROG}}: %{{GREEDYDATA:msg}}" }}
      }}
      syslog_pri {{ }}
    }}
    output {{
      if [syslog_severity_code] <= 4 {{
        elasticsearch {{ index => "errors-%{{logsource}}" document_id => "msg" }}
      }}
      statsd {{ increment => "sev.%{{syslog_severity_code}}" }}
    }}
    """)
    res = _agent(conf, tmp_path)
    # severity counter covers every event
    assert sum(ast.literal_eval(res["statsd_1"]).values()) == 20
    # severities 0-4 of the pri%8 cycle routed to the ES wire sink
    es_dir = os.path.join(str(tmp_path), "elasticsearch_0")
    doc_lines = [J.loads(l) for f in os.listdir(es_dir) if not f.startswith((".", "_"))
                 for l in open(os.path.join(es_dir, f)).read().splitlines()
                 if l and '"_index"' not in l]
    expected = sum(1 for i in range(20) if (30 + i % 8) % 8 <= 4)
    assert len(doc_lines) == expected
    assert all(d["program"] == "sshd" for d in doc_lines)


def test_multiline_input_codec_binding(spark, tmp_path):
    """input { file { codec => multiline { ... } } } — the stack-trace
    shape: continuation lines join BEFORE the filter section."""
    log = tmp_path / "app2.log"
    log.write_text(
        "ERROR boom\n  at Foo.java:1\n  at Bar.java:2\nINFO fine\n"
    )
    conf = tmp_path / "ml.conf"
    conf.write_text(f"""
    input {{
      file {{
        path => "{log}"
        codec => multiline {{ pattern => "^\\\\s" what => "previous" }}
      }}
    }}
    output {{ null {{ }} }}
    """)
    from logstash_spark.conf import bind_input

    pipe, inputs = compile_file(str(conf), out_dir=str(tmp_path))
    df = bind_input(spark, inputs[0])
    msgs = sorted(r["message"] for r in df.collect())
    assert msgs == ["ERROR boom\n  at Foo.java:1\n  at Bar.java:2", "INFO fine"]


def test_run_conf_file_unions_multiple_inputs(spark, tmp_path):
    a = tmp_path / "a.log"; a.write_text("one 1\ntwo 2\n")
    b = tmp_path / "b.log"; b.write_text("three 3\n")
    conf = tmp_path / "multi.conf"
    conf.write_text(f"""
    input {{
      file {{ path => "{a}" type => "alpha" }}
      file {{ path => "{b}" type => "beta" }}
    }}
    filter {{ grok {{ match => {{ "message" => "%{{WORD:w}} %{{INT:n:int}}" }} }} }}
    output {{ file {{ path => "all" }} }}
    """)
    _agent(conf, tmp_path)
    out = spark.read.parquet(str(tmp_path / "all"))
    got = {(r["type"], r["w"], r["n"]) for r in out.collect()}
    assert got == {("alpha", "one", 1), ("alpha", "two", 2), ("beta", "three", 3)}


def test_multiline_codec_validation_and_per_file_grouping(spark, tmp_path):
    """Codec options validate/coerce like the filter path; continuation
    lines never merge across file boundaries; decorate APPENDS tags."""
    a = tmp_path / "m1.log"; a.write_text("start A\n  cont A\n")
    b = tmp_path / "m2.log"; b.write_text("  leading cont B\nplain B\n")
    conf = tmp_path / "mc.conf"
    conf.write_text(f"""
    input {{
      file {{
        path => ["{a}", "{b}"]
        tags => ["raw"]
        codec => multiline {{ pattern => "^\\\\s" what => "previous" negate => "false" }}
      }}
    }}
    output {{ null {{ }} }}
    """)
    from logstash_spark.conf import bind_input, compile_file

    pipe, inputs = compile_file(str(conf), out_dir=str(tmp_path))
    df = bind_input(spark, inputs[0])
    rows = {r["message"]: r for r in df.collect()}
    # b's leading continuation must NOT attach to a's last event
    assert "start A\n  cont A" in rows
    assert "  leading cont B" in rows and "plain B" in rows
    # codec's multiline tag survives AND decorate appended 'raw'
    joined = rows["start A\n  cont A"]["tags"]
    assert "multiline" in joined and "raw" in joined

    # quoted "false" coerces to False; typo'd options fail fast
    with pytest.raises(ConfCompileError, match="unsupported options"):
        bad = tmp_path / "bad.conf"
        bad.write_text(f"""
        input {{ file {{ path => "{a}"
          codec => multiline {{ pattern => "x" what => "previous" negat => true }} }} }}
        output {{ null {{ }} }}
        """)
        pipe2, inputs2 = compile_file(str(bad), out_dir=str(tmp_path))
        bind_input(spark, inputs2[0])


def test_xml_xpath_elementtree_subset(spark):
    from logstash_spark.operators.parse import xml_xpath

    df = spark.createDataFrame(
        [
            (0, '<log level="warn"><msg>disk full</msg><msg>retrying</msg><host>web1</host></log>', None),
            (1, '<log level="info"><host>web2</host></log>', ["seen"]),
            (2, "not xml <<<", None),
            (3, None, None),
        ],
        "id long, raw string, tags array<string>",
    )
    out = xml_xpath(
        df,
        "raw",
        {
            ".//msg/text()": "messages",
            "/log/host": "hosts",
            "/log/@level": "levels",
        },
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[0]["messages"] == ["disk full", "retrying"]
    assert rows[0]["hosts"] == ["web1"] and rows[0]["levels"] == ["warn"]
    assert rows[0]["tags"] is None
    assert rows[1]["messages"] is None and rows[1]["hosts"] == ["web2"]
    assert rows[1]["tags"] == ["seen"]  # success keeps existing tags
    assert rows[2]["messages"] is None and rows[2]["tags"] == ["_xmlparsefailure"]
    assert rows[3]["tags"] == ["_xmlparsefailure"]


def test_xml_xpath_conf_translation(spark, tmp_path):
    from logstash_spark.conf import compile_config

    pipe, _inputs = compile_config(
        'filter { xml { source => "raw" xpath => { "//item/text()" => "items" } } } '
        "output { null {} }",
        out_dir=str(tmp_path),
    )
    df = spark.createDataFrame(
        [(0, "<r><item>a</item><item>b</item></r>")], "id long, raw string"
    )
    out = pipe.transform(df)
    assert out.collect()[0]["items"] == ["a", "b"]


def test_xml_conf_target_and_store_xml(spark, tmp_path):
    """xml target => names the parsed-struct column; store_xml => false
    with an xpath hash skips the document store entirely (plugin options)."""
    from logstash_spark.conf import compile_config

    pipe, _ = compile_config(
        'filter { xml { source => "raw" schema => "msg string" target => "doc" } } '
        "output { null {} }",
        out_dir=str(tmp_path),
    )
    df = spark.createDataFrame([(0, "<r><msg>hi</msg></r>")], "id long, raw string")
    row = pipe.transform(df).collect()[0]
    assert row["doc"]["msg"] == "hi"

    pipe2, _ = compile_config(
        'filter { xml { source => "raw" store_xml => false '
        'xpath => { "//msg/text()" => "msgs" } } } output { null {} }',
        out_dir=str(tmp_path),
    )
    out2 = pipe2.transform(df)
    assert out2.collect()[0]["msgs"] == ["hi"]
    assert "_xml" not in out2.columns and "doc" not in out2.columns


def test_fingerprint_conf_base64_concat(spark, tmp_path):
    """fingerprint base64encode + concatenate_sources from .conf: one
    digest over '|name|value' pairs, base64 of the digest BYTES."""
    import base64
    import hashlib

    from logstash_spark.conf import compile_config

    src = """
    filter { fingerprint { source => ["a", "b"] method => "SHA256"
                           concatenate_sources => true base64encode => true
                           target => "fp" } }
    output { null { } }
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame([("x", "y")], "a string, b string")
    got = pipe.transform(df).collect()[0]["fp"]
    # plugin shape: sources in SORTED name order + trailing pipe
    want = base64.b64encode(hashlib.sha256(b"|a|x|b|y|").digest()).decode()
    assert got == want


def test_translate_dictionary_path_formats(spark, tmp_path):
    """dictionary_path => yaml/csv/json files load at compile time into
    the same literal-map plan as the inline dictionary."""
    from logstash_spark.conf import compile_config

    y = tmp_path / "d.yml"
    y.write_text('# status names\n"200": OK\n"404": "Not Found"\n500: Error\n')
    c = tmp_path / "d.csv"
    c.write_text("200,OK\n404,Not Found\n")
    j = tmp_path / "d.json"
    j.write_text('{"200": "OK", "404": "Not Found"}')

    df = spark.createDataFrame([("200",), ("404",), ("999",)], "code string")
    for path in (y, c, j):
        src = f"""
        filter {{ translate {{ field => "code" dictionary_path => "{path}"
                               destination => "name" fallback => "?" }} }}
        output {{ null {{ }} }}
        """
        pipe, _ = compile_config(src, out_dir=str(tmp_path))
        rows = {r["code"]: r["name"] for r in pipe.transform(df).collect()}
        assert rows == {"200": "OK", "404": "Not Found", "999": "?"}, (path, rows)

    bad = tmp_path / "nested.yml"
    bad.write_text("a:\n  b: 1\n")
    with pytest.raises(ConfCompileError, match="flat"):
        compile_config(
            f'filter {{ translate {{ field => "x" dictionary_path => "{bad}" }} }} '
            "output { null {} }",
            out_dir=str(tmp_path),
        )


def test_throttle_literal_key_single_bucket(spark, tmp_path):
    """throttle { key => "login" }: a constant key is ONE global bucket,
    not a column reference (regression: UNRESOLVED_COLUMN at run time)."""
    import pyspark.sql.functions as SF

    from logstash_spark.conf import compile_config

    src = 'filter { throttle { key => "login" max_count => 2 period => 3600 } } output { null {} }'
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame(
        [(i, "2015-06-01 12:00:00") for i in range(5)], "i long, ts string"
    ).withColumn("@timestamp", SF.to_timestamp("ts"))
    out = pipe.transform(df).collect()
    throttled = [r.i for r in out if r.tags and "throttled" in r.tags]
    assert len(throttled) == 3  # 5 events, one global bucket, max 2


def test_output_unknown_options_rejected(tmp_path):
    """Misspelled output options and filter-only decorators fail compile
    (the reference aborts registration on unknown settings) instead of
    being silently dropped."""
    with pytest.raises(ConfCompileError, match="unsupported options.*gzpi"):
        compile_config('output { file { path => "o" gzpi => true } }', out_dir=str(tmp_path))
    with pytest.raises(ConfCompileError, match="unsupported options.*add_tag"):
        compile_config('output { file { path => "o" add_tag => ["x"] } }', out_dir=str(tmp_path))
    # gating + codec stay accepted on every output
    compile_config('output { file { path => "o" codec => json_lines type => "t" } }', out_dir=str(tmp_path))


def test_grok_array_match_and_array_add_field(spark, tmp_path):
    """The canonical 1.5 forms: grok match => ["message", pat] and
    add_field => [k, v] (mixin.rb:367-390 pairs even arrays into hashes)."""
    src = """
    filter {
      grok { match => [ "message", "%{WORD:verb} %{URIPATHPARAM:req}" ]
             add_field => [ "source", "%{verb}-src" ] }
    }
    output { null {} }
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame([Row(message="GET /index.html")])
    r = pipe.transform(df).collect()[0]
    assert r["verb"] == "GET" and r["req"] == "/index.html"
    assert r["source"] == "GET-src"
    # odd-length arrays are a compile error, not silent garbage
    with pytest.raises(ConfCompileError, match="even number"):
        compile_config('filter { mutate { add_field => ["a", "b", "c"] } } output { null {} }',
                       out_dir=str(tmp_path))


def test_metrics_multiple_meters_all_count(spark, tmp_path):
    """metrics { meter => [a, b] }: EVERY meter family emits (regression:
    only meter[0] reached the aggregate)."""
    src = 'filter { metrics { meter => ["http.%{response}", "verb.%{verb}"] } } output { null {} }'
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame(
        [("200", "GET", "2015-06-01 12:00:00"), ("503", "PUT", "2015-06-01 12:00:01")],
        "response string, verb string, ts string",
    ).withColumn("@timestamp", F.to_timestamp("ts"))
    keys = {r["key"] for r in pipe.transform(df).collect()}
    assert keys == {"http.200", "http.503", "verb.GET", "verb.PUT"}


def test_branch_condition_snapshot_survives_self_edit(spark, tmp_path):
    """config_ast.rb:375-436: a branch condition is evaluated ONCE per
    event at branch entry — a stage that rewrites the very field the
    condition reads must not disable the branch's later stages."""
    src = """
    filter {
      if [level] == "debug" {
        mutate { replace => { "level" => "trace" } }
        mutate { add_tag => ["was_debug"] }
      }
      else { mutate { add_tag => ["not_debug"] } }
    }
    output { null {} }
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame([("debug",), ("info",)], "level string")
    rows = {r.level: r for r in pipe.transform(df).collect()}
    assert rows["trace"].tags == ["was_debug"]       # stage 2 still ran
    assert rows["info"].tags == ["not_debug"]        # else untouched
    # snapshot columns are dropped at branch exit
    assert not [c for c in pipe.transform(df).columns if c.startswith("_br_")]


def test_grok_multi_field_match_single_filter_instance(spark, tmp_path):
    """A multi-entry match hash is ONE filter instance: break_on_match
    stops after the first matching field, and _grokparsefailure appends
    only when NO entry matched (regression: per-field compilation tagged
    failure whenever ANY field missed)."""
    src = """
    filter {
      grok { match => { "message" => "n=%{NUMBER:n}" "alt" => "w=%{WORD:w}" }
             add_tag => ["parsed"] }
    }
    output { null {} }
    """
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame(
        [("n=5", None), (None, "w=x"), ("junk", "junk"), ("n=7", "w=y")],
        "message string, alt string",
    )
    rows = {(r.message, r.alt): r for r in pipe.transform(df).collect()}
    # message matched -> no failure tag even though alt missed
    r1 = rows[("n=5", None)]
    assert r1.n == "5" and "parsed" in r1.tags and "_grokparsefailure" not in r1.tags
    # only alt matched
    r2 = rows[(None, "w=x")]
    assert r2.w == "x" and "parsed" in r2.tags and "_grokparsefailure" not in r2.tags
    # neither matched: ONE failure tag, no decorators
    r3 = rows[("junk", "junk")]
    assert r3.tags == ["_grokparsefailure"]
    # break_on_match (default true): first field matched -> alt NOT parsed
    r4 = rows[("n=7", "w=y")]
    assert r4.n == "7" and r4.w is None and "parsed" in r4.tags
    assert not [c for c in pipe.transform(df).columns if c.startswith("_gmf")]


def test_gelf_input_binding(spark, tmp_path):
    """input gelf { export => ... } decodes captured wire datagrams through
    the real GELF decoder (chunk reassembly + inflate)."""
    import zlib

    from logstash_spark.conf import bind_input
    from logstash_spark.confparser import PluginNode

    buf = zlib.compress(
        b'{"version":"1.1","host":"web1","short_message":"hello",'
        b'"_facility":"t"}'
    )
    p = str(tmp_path / "capture.parquet")
    spark.createDataFrame([(buf,)], "bytes binary").write.parquet(p)
    df = bind_input(spark, PluginNode("gelf", {"export": p, "type": "gelfed"}))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["host"] == "web1" and rows[0]["message"] == "hello"
    assert rows[0]["type"] == "gelfed"


def test_lumberjack_input_binding(spark, tmp_path):
    from logstash_spark.conf import bind_input
    from logstash_spark.confparser import PluginNode
    from logstash_spark.operators.codecs import encode_lumberjack

    buf = encode_lumberjack([{"line": "l1", "host": "fw1", "file": "/var/log/x"}])
    p = str(tmp_path / "lj.parquet")
    spark.createDataFrame([(buf,)], "stream binary").write.parquet(p)
    df = bind_input(spark, PluginNode("lumberjack", {"export": p}))
    r = df.collect()[0]
    assert r["message"] == "l1" and r["host"] == "fw1"
    assert r["fields"]["file"] == "/var/log/x"


def test_lumberjack_output_roundtrip(spark, tmp_path):
    """output lumberjack -> input lumberjack round-trips the v1 wire
    protocol: the sink's stream blobs decode back to the original events
    (message -> 'line' rename, None fields omitted)."""
    from logstash_spark.conf import compile_file
    from logstash_spark.confparser import PluginNode
    from logstash_spark.conf import bind_input
    from logstash_spark.sinks import LumberjackSink

    df = spark.createDataFrame(
        [("hello a", "h1", None), ("hello b", "h2", "/var/log/m")],
        "message string, host string, file string",
    )
    sink = LumberjackSink(str(tmp_path / "lj_out"), flush_size=1)
    sink.write(df)

    back = bind_input(spark, PluginNode("lumberjack", {"export": str(tmp_path / "lj_out")}))
    rows = sorted((r["message"], r["host"], r["fields"].get("file")) for r in back.collect())
    assert rows == [("hello a", "h1", None), ("hello b", "h2", "/var/log/m")]


def test_lumberjack_output_conf_binding(spark, tmp_path):
    from logstash_spark.conf import compile_config
    from logstash_spark.operators.codecs import decode_lumberjack

    pipe, inputs = compile_config(
        'output { lumberjack { hosts => ["idx1"] port => 5043 '
        'ssl_certificate => "/tmp/ca.crt" flush_size => 500 } }',
        out_dir=str(tmp_path),
    )
    df = spark.createDataFrame([("m1", "h1")], "message string, host string")
    pipe.run(df)
    out = decode_lumberjack(spark.read.parquet(str(tmp_path / "lumberjack_0")), "stream")
    r = out.collect()[0]
    assert r["fields"]["line"] == "m1" and r["fields"]["host"] == "h1"


def test_redis_broker_roundtrip(spark, tmp_path):
    """output redis -> input redis round-trips the broker hop: json
    events under a sprintf'd list key, list_index in pop order."""
    from logstash_spark.conf import bind_input, compile_config
    from logstash_spark.confparser import PluginNode

    pipe, _ = compile_config(
        'output { redis { host => "broker1" data_type => "list" '
        'key => "logstash-%{type}" } }',
        out_dir=str(tmp_path),
    )
    df = spark.createDataFrame(
        [("m1", "web"), ("m2", "db"), ("m3", "web")], "message string, type string"
    )
    pipe.run(df)

    back = bind_input(spark, PluginNode("redis", {
        "export": str(tmp_path / "redis_0"), "schema": "message string, type string",
    }))
    rows = sorted((r["redis_key"], r["redis_index"], r["message"]) for r in back.collect())
    assert rows == [("logstash-db", 0, "m2"), ("logstash-web", 0, "m1"),
                    ("logstash-web", 1, "m3")]


def test_redis_output_rejects_bad_data_type(tmp_path):
    import pytest as _pt

    from logstash_spark.conf import ConfCompileError, compile_config

    with _pt.raises(ConfCompileError, match="data_type"):
        compile_config('output { redis { data_type => "hash" } }', out_dir=str(tmp_path))


def test_graphite_input_decodes_lines(spark, tmp_path):
    from logstash_spark.conf import bind_input
    from logstash_spark.confparser import PluginNode

    p = tmp_path / "carbon.txt"
    p.write_text("apache.bytes 1024 1356998400\nbad line\napache.hits 3 1356998401\n")
    df = bind_input(spark, PluginNode("graphite", {"export": str(p)}))
    rows = {r["metric"]: (r["value"], str(r["graphite_ts"])) for r in df.collect()}
    assert rows["apache.bytes"] == (1024.0, "2013-01-01 00:00:00")
    assert rows["apache.hits"][0] == 3.0
    assert rows["bad"] == (None, "None")  # malformed line -> nulls, row kept


def test_file_output_sprintf_path_partitions(spark, tmp_path):
    """path => "...%{lang}-%{+yyyy.MM.dd}.log": the reference opens one
    file per rendered path; the engine writes one PARTITION dir per
    rendered value (scale-safe one-file-per-key), NDJSON within."""
    import json

    from logstash_spark.conf import compile_config

    pipe, _ = compile_config(
        'output { file { path => "/logs/%{lang}-%{+yyyy.MM.dd}.log" } }',
        out_dir=str(tmp_path),
    )
    df = spark.createDataFrame(
        [("m1", "en", "2013-01-01 10:00:00"), ("m2", "de", "2013-01-02 10:00:00"),
         ("m3", "en", "2013-01-01 23:00:00")],
        "message string, lang string, ts string",
    ).withColumn("@timestamp", F.col("ts").cast("timestamp")).drop("ts")
    pipe.run(df)

    back = spark.read.text(str(tmp_path / "file_0"))
    rows = [(r["_ls_path"], json.loads(r["value"])["message"]) for r in back.collect()]
    assert sorted(rows) == [
        ("/logs/de-2013.01.02.log", "m2"),
        ("/logs/en-2013.01.01.log", "m1"),
        ("/logs/en-2013.01.01.log", "m3"),
    ]


def test_couchdb_changes_input(spark, tmp_path):
    import json

    from logstash_spark.conf import bind_input
    from logstash_spark.confparser import PluginNode

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "changes.ndjson").write_text("\n".join([
        json.dumps({"seq": "1-a", "id": "d1", "changes": [{"rev": "1-x"}],
                    "doc": {"name": "alpha", "n": 3}}),
        json.dumps({"seq": "2-b", "id": "d2", "changes": [{"rev": "2-y"}],
                    "deleted": True}),
        json.dumps({"last_seq": "2-b"}),
    ]))
    df = bind_input(spark, PluginNode("couchdb_changes", {
        "export": str(feed), "schema": "name string, n int"}))
    rows = sorted((r["couchdb_id"], r["couchdb_deleted"], r["name"]) for r in df.collect())
    assert rows == [("d1", False, "alpha"), ("d2", True, None)]


def test_rabbitmq_broker_roundtrip(spark, tmp_path):
    """output rabbitmq -> input rabbitmq: AMQP mapped onto the kafka wire
    contract (exchange->topic, routing key->key)."""
    from logstash_spark.conf import bind_input, compile_config
    from logstash_spark.confparser import PluginNode

    pipe, _ = compile_config(
        'output { rabbitmq { exchange => "logs" key => "%{type}" } }',
        out_dir=str(tmp_path),
    )
    pipe.run(spark.createDataFrame([("m1", "web")], "message string, type string"))

    back = bind_input(spark, PluginNode("rabbitmq", {
        "export": str(tmp_path / "rabbitmq_0"),
        "schema": "message string, type string"}))
    r = back.collect()[0]
    assert r["message"] == "m1" and r["kafka_topic"] == "logs" and r["kafka_key"] == "web"


def test_zeromq_pubsub_roundtrip(spark, tmp_path):
    """output zeromq(pubsub) -> input zeromq round-trips the socket hop
    with the documented multipart (topic, json-event) frame and SUB-side
    topic PREFIX filtering (docs/tutorials/zeromq.md: the subscriber
    compares the FIRST BYTES of the message against its topic)."""
    from logstash_spark.conf import bind_input, compile_config
    from logstash_spark.confparser import PluginNode

    pipe, _ = compile_config(
        'output { zeromq { topology => "pubsub" '
        'topic => "logs.production.%{host}" } }',
        out_dir=str(tmp_path),
    )
    df = spark.createDataFrame(
        [("m1", "db1"), ("m2", "db2"), ("m3", "web1")], "message string, host string"
    )
    pipe.run(df)

    # SUB with a topic prefix: 'logs.production.db' sees db1+db2, not web1
    back = bind_input(spark, PluginNode("zeromq", {
        "export": str(tmp_path / "zeromq_0"),
        "schema": "message string, host string",
        "topic": "logs.production.db",
    }))
    rows = sorted((r["zmq_topic"], r["message"]) for r in back.collect())
    assert rows == [("logs.production.db1", "m1"), ("logs.production.db2", "m2")]

    # no filter -> all three, with per-peer delivery sequence
    allback = bind_input(spark, PluginNode("zeromq", {
        "export": str(tmp_path / "zeromq_0"),
        "schema": "message string, host string",
    }))
    got = allback.collect()
    assert len(got) == 3 and sorted(r["zmq_seq"] for r in got) == [0, 1, 2]
    assert {r["zmq_peer"] for r in got} == {0}


def test_zeromq_pushpull_load_balances(spark, tmp_path):
    """pushpull fans events across peers (no peer sees another's message)
    and emits single-part frames (topic null)."""
    from logstash_spark.sources.bus import (
        decode_zeromq_records,
        encode_zeromq_records,
        zeromq_wire_shim,
    )

    df = spark.createDataFrame([(f"m{i}",) for i in range(40)], "message string")
    wire = zeromq_wire_shim(
        encode_zeromq_records(df, topology="pushpull"), topology="pushpull", peers=4
    )
    rows = wire.collect()
    assert all(r["topic"] is None for r in rows)
    peers = {r["peer"] for r in rows}
    assert peers <= {0, 1, 2, 3} and len(peers) > 1  # actually spread
    # disjoint delivery: message count preserved, each exactly once
    back = decode_zeromq_records(wire, "message string")
    msgs = sorted(r["message"] for r in back.collect())
    assert msgs == sorted(f"m{i}" for i in range(40))
    # per-peer seq is dense from 0
    by_peer = {}
    for r in rows:
        by_peer.setdefault(r["peer"], []).append(r["seq"])
    for seqs in by_peer.values():
        assert sorted(seqs) == list(range(len(seqs)))


def test_zeromq_rejects_bad_topology(tmp_path):
    import pytest as _pt

    from logstash_spark.conf import ConfCompileError, compile_config

    with _pt.raises(ConfCompileError, match="topology"):
        compile_config(
            'output { zeromq { topology => "reqrep" } }', out_dir=str(tmp_path)
        )
