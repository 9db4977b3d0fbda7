"""Charset normalization + codec framing (line / json_lines / encode)."""

import struct

from pyspark.sql import Row
from pyspark.sql import functions as F

from logstash_spark.operators.charset import decode_charset
from logstash_spark.operators.codecs import (
    _CD_HOST,
    _CD_PLUGIN,
    _CD_TIME,
    _CD_TYPE,
    _CD_TYPE_INST,
    _CD_VALUES,
    encode_csv,
    encode_json,
    json_lines,
    lines,
)


def encode_netflow5(records: list[tuple]) -> bytes:
    """Build one netflow v5 packet from (src_ip, dst_ip, sport, dport,
    proto, pkts, bytes) tuples — the test-side fixture builder (there is no
    netflow SINK in the reference's manifest; export is collector-side)."""
    def ip2n(s: str) -> int:
        a, b, c, d = (int(x) for x in s.split("."))
        return (a << 24) | (b << 16) | (c << 8) | d

    hdr = struct.pack(">HHIIIIBBH", 5, len(records), 0, 1700000000, 0, 7, 0, 0, 0)
    body = b""
    for src, dst, sport, dport, proto, pkts, nbytes in records:
        body += struct.pack(
            ">IIIHHIIIIHHBBBBHHBBH",
            ip2n(src), ip2n(dst), 0,  # nexthop
            0, 0,  # input/output iface
            pkts, nbytes, 0, 0,  # first/last switched
            sport, dport,
            0, 2, proto, 0,  # pad, tcp_flags, proto, tos
            0, 0, 0, 0, 0,  # AS/masks/pad
        )
    return hdr + body


def encode_collectd_packet(host: str, time_s: int, metrics: list[tuple]) -> bytes:
    """Test-side fixture builder: (plugin, type, type_instance, [values])
    tuples -> one collectd packet."""
    def spart(ptype: int, s: str) -> bytes:
        b = s.encode() + b"\x00"
        return struct.pack(">HH", ptype, 4 + len(b)) + b

    out = spart(_CD_HOST, host) + struct.pack(">HHQ", _CD_TIME, 12, time_s)
    for plugin, typ, tinst, vals in metrics:
        out += spart(_CD_PLUGIN, plugin) + spart(_CD_TYPE, typ)
        if tinst:
            out += spart(_CD_TYPE_INST, tinst)
        payload = struct.pack(">H", len(vals)) + bytes([1] * len(vals))
        for v in vals:
            payload += struct.pack("<d", float(v))
        out += struct.pack(">HH", _CD_VALUES, 4 + len(payload)) + payload
    return out


def test_decode_utf8_with_replacement(spark):
    df = spark.createDataFrame(
        [(bytearray("héllo".encode("utf-8")),), (bytearray(b"bad \xff byte"),)],
        "b binary",
    )
    out = [r["t"] for r in decode_charset(df, "b", target="t").collect()]
    assert out[0] == "héllo"
    assert "bad" in out[1] and "�" in out[1]  # invalid byte replaced


def test_decode_fixed_charset(spark):
    df = spark.createDataFrame([(bytearray("café".encode("cp1252")),)], "b binary")
    out = decode_charset(df, "b", target="t", charset="cp1252").collect()[0]["t"]
    assert out == "café"


def test_decode_per_row_charset(spark):
    df = spark.createDataFrame(
        [
            (bytearray("grüße".encode("latin-1")), "latin-1"),
            (bytearray("日本".encode("utf-8")), "utf-8"),
        ],
        "b binary, cs string",
    )
    out = [r["t"] for r in decode_charset(df, "b", target="t", charset_col="cs").collect()]
    assert out == ["grüße", "日本"]


def test_lines_codec(spark):
    df = spark.createDataFrame([Row(doc_id=1, body="a\nb\n\nc")])
    out = lines(df, "body", target="message")
    rows = [(r["line_seq"], r["message"]) for r in out.orderBy("line_seq").collect()]
    assert rows == [(0, "a"), (1, "b"), (3, "c")]  # empty line skipped


def test_json_lines_codec(spark):
    ndjson = '{"k": 1}\n{"k": 2}\nnot json'
    df = spark.createDataFrame([Row(doc_id=1, body=ndjson)])
    out = json_lines(df, "body", "k bigint")
    rows = sorted((r["line_seq"], r["k"]) for r in out.collect())
    assert rows == [(0, 1), (1, 2), (2, None)]
    bad = out.filter(F.array_contains(F.coalesce(F.col("tags"), F.array().cast("array<string>")), "_jsonparsefailure"))
    assert bad.count() == 1


def test_encode_json_excludes_meta(spark):
    df = spark.createDataFrame([Row(url="u", _meta_secret="x")])
    out = encode_json(df).collect()[0]["value"]
    assert '"url":"u"' in out and "_meta" not in out


def test_encode_csv(spark):
    df = spark.createDataFrame([Row(a="x", b=2)])
    assert encode_csv(df, ["a", "b"]).collect()[0]["line"] == "x,2"


def test_stage_gating_type_tags(spark):
    """filters/base.rb:222-253: type equality, tags superset, exclude_tags."""
    from logstash_spark.pipeline import Pipeline, Stage

    df = spark.createDataFrame(
        [
            ("apache", ["keep"], "a"),
            ("nginx", ["keep"], "b"),
            ("apache", ["keep", "skipme"], "c"),
            ("apache", None, "d"),
        ],
        "type string, tags array<string>, v string",
    )
    pipe = Pipeline(filters=[
        Stage(op="mutate.uppercase", params={"names": ("v",)},
              type="apache", tags=["keep"], exclude_tags=["skipme"]),
    ])
    got = {r["type"] + str(r["tags"]): r["v"] for r in pipe.transform(df).collect()}
    vals = sorted(got.values())
    assert vals == ["A", "b", "c", "d"]  # only row a matches all gates


def test_output_gating(spark):
    from logstash_spark.pipeline import Output, Pipeline
    from logstash_spark.sinks import CollectSink

    df = spark.createDataFrame(
        [("apache", "a"), ("nginx", "b")], "type string, v string"
    )
    pipe = Pipeline(outputs=[
        Output("apache_only", CollectSink(), type="apache"),
        Output("all", CollectSink()),
    ])
    res = pipe.run(df)
    assert [r["v"] for r in res["apache_only"]] == ["a"]
    assert sorted(r["v"] for r in res["all"]) == ["a", "b"]


def test_ruby_escape_hatch(spark):
    """The `ruby` filter analog: user code over Arrow batches via the
    registry (mapInPandas; 1->N allowed)."""
    from logstash_spark.pipeline import Pipeline, Stage

    def double_rows(it):
        for pdf in it:
            out = pdf.copy()
            out["v"] = out["v"] * 2
            yield out
            yield pdf

    df = spark.createDataFrame([(1,), (2,)], "v long")
    pipe = Pipeline(filters=[Stage(op="ruby", params={"fn": double_rows, "schema": "v long"})])
    assert sorted(r["v"] for r in pipe.transform(df).collect()) == [1, 2, 2, 4]


def test_iceberg_sink_fallback(spark, tmp_path):
    """No Iceberg catalog in this runtime: IcebergSink falls back to its
    parquet path (same call sites on a real deployment)."""
    from logstash_spark.sinks import IcebergSink

    sink = IcebergSink(table="nocatalog.db.t", fallback_path=str(tmp_path / "fb"))
    got = sink.write(spark.createDataFrame([(1,)], "v long"))
    assert got == str(tmp_path / "fb")
    assert spark.read.parquet(got).count() == 1


def test_synthetic_html_charset_robustness(spark):
    """The generator plants invalid UTF-8 in ~2% of html payloads; the
    charset path must decode EVERY row (replacement, never null/crash)."""
    from logstash_spark.operators.charset import decode_charset
    from logstash_spark.sources.pages import synthetic_pages

    p = synthetic_pages(spark, 500)
    out = decode_charset(p, "html", target="decoded")
    assert out.filter(F.col("decoded").isNull()).count() == 0
    dirty = out.filter(F.col("decoded").contains("�"))
    assert 0 < dirty.count() < 500  # the planted rows, and only those-ish


# --- round-2 codecs: graphite, oldlogstashjson, edn -------------------------


def test_graphite_codec_roundtrip(spark):
    """graphite line protocol: 'metric value epoch' both directions
    (default_plugins.rb:13)."""
    from logstash_spark.operators.codecs import decode_graphite, encode_graphite

    df = spark.createDataFrame(
        [("foo.bar.baz 42.5 1700000000",), ("cpu.load 0.93 1700000060",), ("garbage",)],
        "message string",
    )
    out = decode_graphite(df).collect()
    assert out[0]["metric"] == "foo.bar.baz" and out[0]["value"] == 42.5
    assert out[1]["graphite_ts"] is not None
    assert out[2]["value"] is None  # malformed -> nulls, row kept

    enc = encode_graphite(
        spark.createDataFrame([("a.b", 1.5)], "m string, v double"),
        metric="m", value="v", ts="missing",
    ).collect()[0]["line"]
    parts = enc.split(" ")
    assert parts[0] == "a.b" and parts[1] == "1.5" and parts[2].isdigit()


def test_oldlogstashjson_decode_encode(spark):
    """pre-1.2 envelope: @message/@tags/@type/@source_host map to modern
    names, @fields flattens (default_plugins.rb:18)."""
    from logstash_spark.operators.codecs import (
        decode_oldlogstashjson,
        encode_oldlogstashjson,
    )

    import json as J

    raw = J.dumps({
        "@message": "hello", "@timestamp": "2024-01-02T03:04:05.000Z",
        "@tags": ["a", "b"], "@type": "apache", "@source_host": "h1",
        "@fields": {"status": 200, "verb": "GET"},
    })
    df = spark.createDataFrame([(raw,)], "value string")
    row = decode_oldlogstashjson(df, "value", "status int, verb string").collect()[0]
    assert row["message"] == "hello" and row["type"] == "apache"
    assert row["host"] == "h1" and row["tags"] == ["a", "b"]
    assert row["status"] == 200 and row["verb"] == "GET"
    assert row["@timestamp"].year == 2024

    back = encode_oldlogstashjson(
        spark.createDataFrame(
            [("hello", "apache", "h1", 200)],
            "message string, type string, host string, status int",
        ),
        fields=["status"],
    ).collect()[0]["value"]
    obj = J.loads(back)
    assert obj["@message"] == "hello" and obj["@fields"] == {"status": 200}


def test_edn_reader_values():
    from logstash_spark.operators.codecs import EdnSyntaxError, _edn_read

    import pytest

    assert _edn_read('{:a 1, :b "two" :c [1 2 3] :d nil :e true}') == {
        "a": 1, "b": "two", "c": [1, 2, 3], "d": None, "e": True}
    assert _edn_read("[1 2.5 -3]") == [1, 2.5, -3]
    assert _edn_read('#{:x :y}') == {"x", "y"}
    assert _edn_read('#inst "2024-01-01"') == "2024-01-01"  # tag discarded
    assert _edn_read('{:s "esc\\"q\\n"}') == {"s": 'esc"q\n'}
    assert _edn_read("; comment\n 42") == 42
    with pytest.raises(EdnSyntaxError):
        _edn_read('{:a')


def test_edn_codec_decode(spark):
    from logstash_spark.operators.codecs import decode_edn, decode_edn_lines

    df = spark.createDataFrame(
        [(1, '{:host "h1" :status 200}'), (2, '{:host "h2" :status 500}'), (3, "not edn {")],
        "id int, raw string",
    )
    rows = {r["id"]: r for r in decode_edn(df, "raw", "host string, status long").collect()}
    assert rows[1]["host"] == "h1" and rows[2]["status"] == 500
    assert rows[3]["host"] is None  # unparseable -> nulls, row kept
    assert rows[1]["id"] == 1  # pass-through columns preserved

    nd = spark.createDataFrame(
        [('{:m "a"}\n{:m "b"}',)], "doc string"
    )
    out = decode_edn_lines(nd, "doc", "m string")
    assert sorted(r["m"] for r in out.collect()) == ["a", "b"]


def test_es_bulk_roundtrip(spark):
    """es_bulk codec (default_plugins.rb:12): action+source NDJSON pairs,
    encode and decode, incl. sprintf index templates and delete actions."""
    import json as J

    from pyspark.sql import functions as F

    from logstash_spark.operators.codecs import decode_es_bulk, encode_es_bulk

    events = spark.createDataFrame(
        [(1, "GET", 200), (2, "POST", 500)], "id long, verb string, status int"
    )
    enc = encode_es_bulk(events, index="logs-%{verb}", id_field="id", fields=["verb", "status"])
    rows = {r["id"]: r["bulk"] for r in enc.collect()}
    a1, d1 = rows[1].split("\n")
    assert J.loads(a1) == {"index": {"_index": "logs-GET", "_id": "1"}}
    assert J.loads(d1) == {"verb": "GET", "status": 200}

    payload = "\n".join([
        '{"index":{"_index":"web","_id":"a"}}',
        '{"verb":"GET","status":200}',
        '{"create":{"_index":"web","_id":"b"}}',
        '{"verb":"PUT","status":201}',
        '{"delete":{"_index":"web","_id":"c"}}',
        '{"index":{"_index":"web2","_id":"d"}}',
        '{"verb":"HEAD","status":301}',
    ])
    df = spark.createDataFrame([(payload,)], "doc string")
    out = {r["bulk_id"]: r for r in decode_es_bulk(df, "doc", "verb string, status int").collect()}
    assert len(out) == 4
    assert out["a"]["bulk_action"] == "index" and out["a"]["verb"] == "GET"
    assert out["b"]["bulk_action"] == "create" and out["b"]["status"] == 201
    assert out["c"]["bulk_action"] == "delete" and out["c"]["verb"] is None
    assert out["d"]["bulk_index"] == "web2" and out["d"]["verb"] == "HEAD"


def test_es_bulk_roundtrip_self(spark):
    """encode -> concat payload -> decode recovers the events."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.codecs import decode_es_bulk, encode_es_bulk

    events = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, payload string"
    )
    enc = encode_es_bulk(events, index="t", id_field="id", fields=["id", "payload"])
    # each row's bulk string is its own payload document
    dec = decode_es_bulk(enc.select(F.col("bulk").alias("doc")), "doc", "id long, payload string")
    got = {r["id"]: r["payload"] for r in dec.collect()}
    assert got == {i: f"v{i}" for i in range(10)}


def test_netflow5_codec(spark):
    """netflow v5 decode (default_plugins.rb:17): 24-byte header + 48-byte
    records, one event per flow."""
    from logstash_spark.operators.codecs import decode_netflow5

    pkt = encode_netflow5([
        ("10.0.0.1", "10.0.0.2", 1234, 80, 6, 10, 5000),
        ("192.168.1.9", "8.8.8.8", 5353, 53, 17, 2, 128),
    ])
    df = spark.createDataFrame([(bytearray(pkt),), (bytearray(b"short"),)], "bytes binary")
    rows = sorted(decode_netflow5(df).collect(), key=lambda r: r["src_port"])
    assert len(rows) == 2  # truncated packet skipped
    a, b = rows
    assert a["src_addr"] == "10.0.0.1" and a["dst_port"] == 80 and a["protocol"] == 6
    assert a["in_pkts"] == 10 and a["in_bytes"] == 5000 and a["tcp_flags"] == 2
    assert b["src_addr"] == "192.168.1.9" and b["protocol"] == 17
    assert a["flow_seq"] == 7 and a["unix_secs"] == 1700000000


def test_collectd_codec(spark):
    """collectd TLV decode (default_plugins.rb:24): string/time parts carry
    context; each VALUES part emits one event."""
    from logstash_spark.operators.codecs import decode_collectd

    pkt = encode_collectd_packet("web01", 1700000100, [
        ("cpu", "percent", "user", [42.5]),
        ("load", "load", "", [0.5, 0.7, 0.9]),
    ])
    df = spark.createDataFrame([(bytearray(pkt),)], "bytes binary")
    rows = {r["plugin"]: r for r in decode_collectd(df).collect()}
    assert rows["cpu"]["host"] == "web01" and rows["cpu"]["collectd_time"] == 1700000100
    assert rows["cpu"]["type_instance"] == "user" and rows["cpu"]["values"] == [42.5]
    assert rows["load"]["values"] == [0.5, 0.7, 0.9]
    assert rows["load"]["collectd_type"] == "load"


def test_charset_fallback_detection(spark):
    """UTF-8-first decode with latin-1 fallback for invalid byte rows —
    the crawl-grade treatment; charset_used records the decision."""
    from logstash_spark.operators.charset import decode_with_fallback

    rows = [
        (1, bytearray("héllo".encode("utf-8"))),
        (2, bytearray("caf\xe9 latin".encode("latin-1"))),  # invalid as UTF-8
        (3, bytearray(b"plain ascii")),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id int, raw binary")
    got = {r["id"]: r for r in decode_with_fallback(df, "raw", target="txt").collect()}
    assert got[1]["txt"] == "héllo" and got[1]["charset_used"] == "UTF-8"
    assert got[2]["txt"] == "café latin" and got[2]["charset_used"] == "ISO-8859-1"
    assert got[3]["charset_used"] == "UTF-8"
    assert got[4]["txt"] is None and got[4]["charset_used"] is None


def test_charset_fallback_on_synthetic_junk_pages(spark):
    """The generator's ~2% invalid-UTF-8 pages (FIXTURES F1) decode through
    the fallback path; clean pages stay UTF-8 — end-to-end over the real
    corpus shape."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.charset import decode_with_fallback
    from logstash_spark.sources.pages import synthetic_pages

    pages = synthetic_pages(spark, 1000)
    out = decode_with_fallback(pages, "html", target="html_text")
    by_cs = {r["charset_used"]: r["n"] for r in
             out.groupBy("charset_used").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_cs.get("UTF-8", 0) == 990   # buckets != 97
    assert by_cs.get("ISO-8859-1", 0) == 10  # the junk-byte rows
    # no decoded page is null
    assert out.filter(F.col("html_text").isNull()).count() == 0


def test_msgpack_codec_roundtrip_and_hostile(spark):
    """Vendored pure-Python msgpack (public spec): encode->decode identity
    on Spark; corrupt frames drop instead of failing the job."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.codecs import decode_msgpack, encode_msgpack
    from logstash_spark.vendor_msgpack import packb

    df = spark.createDataFrame(
        [("a", 1), ("é-unicode", -7), (None, 2**40)], "name string, v long"
    )
    enc = encode_msgpack(df, target="wire")
    got = {r["v"]: r["name"] for r in
           decode_msgpack(enc, "wire", "name string, v long").collect()}
    assert got == {1: "a", -7: "é-unicode", 2**40: None}

    hostile = [
        (bytearray(b"\xc1"),),          # reserved byte
        (bytearray(b"\xdc\xff"),),      # truncated array16 header
        (bytearray(b""),),              # empty
        (bytearray(packb([1, 2])),),    # valid msgpack but not a map
        (bytearray(packb({"name": "ok", "v": 5})),),
    ]
    hdf = spark.createDataFrame(hostile, "wire binary")
    rows = decode_msgpack(hdf, "wire", "name string, v long").collect()
    assert [(r["name"], r["v"]) for r in rows] == [("ok", 5)]


def test_fluent_codec_roundtrip(spark):
    from logstash_spark.operators.codecs import decode_fluent, encode_fluent

    df = spark.createDataFrame([("u1", 100, "GET"), ("u2", 200, "POST")],
                               "url string, ts long, verb string")
    enc = encode_fluent(df, tag="t.app", time_col="ts", fields=["url", "verb"],
                        target="wire")
    rows = {r["url"]: r for r in
            decode_fluent(enc.select("wire"), "wire", "url string, verb string").collect()}
    assert rows["u1"]["fluent_tag"] == "t.app" and rows["u1"]["fluent_time"] == 100
    assert rows["u2"]["verb"] == "POST"


def test_warc_decode_roundtrip_plain_and_gzip(spark):
    """WARC container intake: response records recover url/date/status/
    content-type/payload exactly, in both the plain and the per-member
    gzip (.warc.gz) layout; warcinfo/request records are skipped."""
    from logstash_spark.sources.warc import decode_warc, encode_warc

    recs = [
        {"url": None, "warc_date": "2013-01-01T00:00:00Z", "payload": b"software: c",
         "warc_type": "warcinfo"},
        {"url": "https://a.example.com/1", "warc_date": "2013-01-01T00:00:01Z",
         "payload": b"GET /1 HTTP/1.1\r\n", "warc_type": "request"},
        {"url": "https://a.example.com/1", "warc_date": "2013-01-01T00:00:01Z",
         "payload": b"<html>one</html>", "http_status": 200},
        {"url": "https://b.example.com/2", "warc_date": "2013-01-02T03:04:05Z",
         "payload": b"<html>two</html>", "http_status": 404,
         "content_type": "text/plain"},
    ]
    for gz in (False, True):
        buf = encode_warc(recs, gzip_members=gz)
        df = spark.createDataFrame([(buf,)], "content binary")
        rows = {r.url: r for r in decode_warc(df).collect()}
        assert set(rows) == {"https://a.example.com/1", "https://b.example.com/2"}
        a = rows["https://a.example.com/1"]
        assert (a.http_status, a.content_type, bytes(a.payload)) == (200, "text/html", b"<html>one</html>")
        b = rows["https://b.example.com/2"]
        assert (b.http_status, b.content_type, b.warc_date) == (404, "text/plain", "2013-01-02T03:04:05Z")
    # response_only=False surfaces all record types
    df = spark.createDataFrame([(encode_warc(recs),)], "content binary")
    types = sorted(r.warc_type for r in decode_warc(df, response_only=False).collect())
    assert types == ["request", "response", "response", "warcinfo"]


def test_warc_revisit_resolution(spark):
    """Revisit records (identical-payload-digest profile) resolve to the
    stored response by WARC-Payload-Digest; a dangling digest stays
    visible with null resolution instead of being dropped; the stored
    copy's payload is never duplicated on the wire."""
    import hashlib

    from logstash_spark.sources.warc import decode_warc, encode_warc, resolve_revisits

    body = b"<html>shared</html>"
    dig = "md5:" + hashlib.md5(body).hexdigest()
    recs = [
        {"url": "https://x/orig", "warc_date": "2013-01-01T00:00:00Z",
         "payload": body, "payload_digest": dig},
        {"url": "https://x/again", "warc_date": "2013-01-02T00:00:00Z",
         "payload": body, "payload_digest": dig, "warc_type": "revisit"},
        {"url": "https://y/dangling", "warc_date": "2013-01-03T00:00:00Z",
         "payload": b"", "payload_digest": "md5:" + "0" * 32,
         "warc_type": "revisit"},
    ]
    buf = encode_warc(recs)
    # the revisit member must NOT carry the payload bytes
    assert buf.count(body) == 1
    assert b"identical-payload-digest" in buf
    df = spark.createDataFrame([(buf,)], "content binary")
    out = {r.url: r for r in resolve_revisits(decode_warc(df, response_only=False)).collect()}
    assert set(out) == {"https://x/orig", "https://x/again", "https://y/dangling"}
    orig, again, dang = out["https://x/orig"], out["https://x/again"], out["https://y/dangling"]
    assert not orig.is_revisit and orig.orig_url == "https://x/orig"
    assert again.is_revisit and again.orig_url == "https://x/orig"
    assert again.payload_md5 == orig.payload_md5 == hashlib.md5(body).hexdigest()
    assert again.payload_len == len(body)
    assert dang.is_revisit and dang.orig_url is None and dang.payload_md5 is None


def test_warc_revisit_digest_fallback_and_earliest_wins(spark):
    """Responses lacking a WARC-Payload-Digest header still act as stored
    copies (digest computed from the bytes); when two responses share a
    digest the EARLIEST capture is the canonical stored copy."""
    import hashlib

    from logstash_spark.sources.warc import decode_warc, encode_warc, resolve_revisits

    body = b"<p>dup</p>"
    dig = "md5:" + hashlib.md5(body).hexdigest()
    recs = [
        # no digest header on either response: fallback path
        {"url": "https://b/later", "warc_date": "2014-06-01T00:00:00Z", "payload": body},
        {"url": "https://a/earlier", "warc_date": "2014-01-01T00:00:00Z", "payload": body},
        {"url": "https://c/rev", "warc_date": "2014-07-01T00:00:00Z",
         "payload": body, "payload_digest": dig, "warc_type": "revisit"},
    ]
    df = spark.createDataFrame([(encode_warc(recs),)], "content binary")
    out = {r.url: r for r in resolve_revisits(decode_warc(df, response_only=False)).collect()}
    assert out["https://c/rev"].orig_url == "https://a/earlier"
    assert all(r.digest == dig for r in out.values())


def test_warc_decode_malformed_and_truncated(spark):
    """Codec log+skip contract: garbage rows emit nothing; a truncated
    final record stops the scan but keeps the complete records before it."""
    from logstash_spark.sources.warc import decode_warc, encode_warc

    good = encode_warc([{"url": "https://x/1", "warc_date": "2013-01-01T00:00:00Z",
                         "payload": b"<p>ok</p>"}])
    truncated = good + good[: len(good) // 2]
    df = spark.createDataFrame(
        [(b"not a warc at all",), (b"",), (None,), (truncated,),
         (b"\x1f\x8b broken gzip header",)],
        "content binary",
    )
    rows = decode_warc(df).collect()
    assert len(rows) == 1 and rows[0].url == "https://x/1"


def test_msgpack_encode_array_and_null_columns(spark):
    """Event frames carry array columns (`tags`) and nulls — the encoder
    must not trip pandas' elementwise isna on them (regression: ValueError
    'truth value of an array is ambiguous' killed the task)."""
    from logstash_spark.operators.codecs import decode_msgpack, encode_msgpack

    df = spark.createDataFrame(
        [("a", ["t1", "t2"], 1.5, None),
         ("b", None, float("nan"), {"k": "v"}),
         (None, [], 2.0, {"k": None})],
        "msg string, tags array<string>, score double, meta map<string,string>",
    )
    enc = encode_msgpack(df, target="wire")
    dec = decode_msgpack(enc, "wire", "msg string, tags array<string>, score double")
    rows = sorted(dec.collect(), key=lambda r: (r.msg is None, r.msg or ""))
    assert [r.msg for r in rows] == ["a", "b", None]
    assert rows[0].tags == ["t1", "t2"] and rows[0].score == 1.5
    assert rows[1].tags is None and rows[1].score is None  # NaN -> nil
    assert rows[2].tags == []


def test_gelf_roundtrip_chunked_and_whole(spark):
    """encode_gelf -> decode_gelf recovers fields; chunking actually fires
    (datagrams > events) and whole-datagram (big chunk_size) also decodes."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.codecs import decode_gelf, encode_gelf

    df = spark.createDataFrame(
        [("h1", "short msg", "2024-01-01 00:00:05"),
         ("h2", "y" * 600, "2024-01-02 12:30:00")],
        "host string, message string, ts string",
    ).withColumn("@timestamp", F.to_timestamp("ts")).drop("ts")

    wire = encode_gelf(df, chunk_size=64, custom_fields=(("orig_host", "host"),))
    n_datagrams = wire.count()
    assert n_datagrams > 2  # the 600-char message must have chunked
    dec = decode_gelf(wire, "datagram").orderBy("host")
    rows = dec.collect()
    assert [r["host"] for r in rows] == ["h1", "h2"]
    assert rows[1]["message"] == "y" * 600
    assert rows[0]["extra"]["orig_host"] == "h1"
    assert rows[0]["level"] == 6
    assert str(rows[0]["@timestamp"]).startswith("2024-01-01 00:00:05")

    whole = encode_gelf(df, chunk_size=65536)
    assert whole.count() == 2  # no chunk framing below the threshold
    assert decode_gelf(whole, "datagram").count() == 2


def test_gelf_decode_hostile_inputs(spark):
    """Corrupt zlib, truncated chunk headers, missing chunks, empty and
    null datagrams all drop without failing the job (the input logs+skips)."""
    import struct
    import zlib

    from logstash_spark.operators.codecs import GELF_MAGIC, decode_gelf

    good = zlib.compress(b'{"version":"1.1","host":"ok","short_message":"m"}')
    mid = struct.pack(">q", 42)
    rows = [
        (None,),
        (b"",),
        (b"\x78\x01corrupt-zlib-stream",),          # bad zlib
        (GELF_MAGIC + b"\x01",),                     # truncated chunk header
        (GELF_MAGIC + mid + bytes([0, 2]) + b"ha",)  # chunk 1 of 2: partner missing
        ,
        (good,),                                     # one whole good datagram
        (b"not json at all",),                       # plain but non-JSON: from_json nulls
    ]
    df = spark.createDataFrame(rows, "bytes binary")
    out = decode_gelf(df, "bytes").collect()
    hosts = [r["host"] for r in out]
    assert hosts == ["ok"]  # every hostile row drops; only the good one lands


def test_gelf_gzip_and_plain_payloads(spark):
    """decode_gelf sniffs gzip and uncompressed JSON payloads too (the
    input gem's three accepted wire forms)."""
    import gzip

    from logstash_spark.operators.codecs import decode_gelf

    plain = b'{"version":"1.1","host":"p","short_message":"sp","level":3}'
    gz = gzip.compress(b'{"version":"1.1","host":"g","short_message":"sg"}')
    df = spark.createDataFrame([(plain,), (gz,)], "bytes binary")
    out = {r["host"]: r for r in decode_gelf(df, "bytes").collect()}
    assert out["p"]["message"] == "sp" and out["p"]["level"] == 3
    assert out["g"]["message"] == "sg"


def test_lumberjack_roundtrip_and_hostile(spark):
    """encode_lumberjack -> decode_lumberjack recovers seq + fields for
    compressed AND plain streams; garbage / truncated streams drop cleanly."""
    import struct
    import zlib

    from logstash_spark.operators.codecs import decode_lumberjack, encode_lumberjack

    recs = [{"line": "a b c", "host": "h1"}, {"line": "x" * 500, "host": "h2"}]
    plain = encode_lumberjack(recs, compress=False)
    comp = encode_lumberjack(recs, compress=True, start_seq=10)
    df = spark.createDataFrame([(plain,), (comp,)], "stream binary")
    rows = decode_lumberjack(df, "stream").collect()
    assert len(rows) == 4
    by_seq = sorted((r["lj_seq"], r["fields"]["host"]) for r in rows)
    assert by_seq == [(1, "h1"), (2, "h2"), (10, "h1"), (11, "h2")]
    assert all(r["fields"]["line"] in ("a b c", "x" * 500) for r in rows)

    # hostile: bad version, truncated D frame, corrupt zlib in C frame,
    # unknown type, empty, null — all drop without failing the task
    bad = [
        (b"2Dgarbage",),
        (b"1D" + struct.pack(">II", 1, 3) + struct.pack(">I", 100) + b"ab",),
        (b"1C" + struct.pack(">I", 8) + b"notzlib!",),
        (b"1Z\x00\x00",),
        (b"",),
        (None,),
        # good frame AFTER a bad one in the same stream stays dropped
        (b"2X" + encode_lumberjack([{"k": "v"}], compress=False),),
    ]
    hostile = spark.createDataFrame(bad, "stream binary")
    assert decode_lumberjack(hostile, "stream").count() == 0


class TestDeclaredCharset:
    def _run(self, spark, html, ct=None):
        from logstash_spark.operators.charset import declared_charset

        if ct is None:
            df = spark.createDataFrame([(html,)], "html string")
            out = declared_charset(df)
        else:
            df = spark.createDataFrame([(html, ct)], "html string, ct string")
            out = declared_charset(df, content_type_col="ct")
        return out.collect()[0]["charset_declared"]

    def test_meta_forms_and_aliases(self, spark):
        assert self._run(spark, '<meta charset="utf-8">') == "UTF-8"
        assert self._run(spark, "<META CHARSET='Windows-1252'>") == "WINDOWS-1252"
        assert (
            self._run(
                spark,
                '<meta http-equiv="Content-Type" content="text/html; charset=latin1">',
            )
            == "ISO-8859-1"
        )

    def test_http_header_wins(self, spark):
        got = self._run(
            spark, '<meta charset="utf-8">', ct="text/html; charset=shift_jis"
        )
        assert got == "SHIFT_JIS"

    def test_prescan_bound(self, spark):
        late = "x" * 1100 + '<meta charset="koi8-r">'
        assert self._run(spark, late) == "UTF-8"

    def test_binary_input_with_non_utf8_bytes(self, spark):
        from pyspark.sql import functions as F

        from logstash_spark.operators.charset import declared_charset

        # cp1252 bytes before the meta tag must not break the prescan
        payload = b"\x93quoted\x94 <meta charset=windows-1252> body"
        df = spark.range(1).select(F.lit(bytearray(payload)).alias("html"))
        got = declared_charset(df).collect()[0]["charset_declared"]
        assert got == "WINDOWS-1252"

    def test_default_when_undeclared(self, spark):
        assert self._run(spark, "<html><body>plain</body></html>") == "UTF-8"
