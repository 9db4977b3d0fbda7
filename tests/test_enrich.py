"""Enrichment joins: translate / geoip / dns / useragent + physical-plan
shape (broadcast, never sort-merge — the 100 TB-critical property)."""

import warnings

from pyspark.sql import Row
from pyspark.sql import functions as F

from logstash_spark.operators.enrich import dns_enrich, geoip, ip_to_long, translate, useragent
from logstash_spark.plans.checks import assert_broadcast_join


def test_translate_with_fallback(spark):
    df = spark.createDataFrame([Row(code="a"), Row(code="z")])
    dim = spark.createDataFrame([("a", "Alpha")], "key string, value string")
    out = translate(df, dim, source="code", target="name", fallback="unknown")
    got = {r["code"]: r["name"] for r in out.collect()}
    assert got == {"a": "Alpha", "z": "unknown"}
    assert_broadcast_join(out)


def test_ip_to_long(spark):
    df = spark.createDataFrame([Row(ip="10.1.2.3"), Row(ip="bad")])
    vals = [r["v"] for r in df.select(ip_to_long(F.col("ip")).alias("v")).collect()]
    assert vals[0] == 10 * 16777216 + 1 * 65536 + 2 * 256 + 3
    assert vals[1] is None


def test_geoip_range_lookup(spark):
    # ranges: 10.0.0.0/15 -> R0 (spans TWO /16 prefixes), 10.2.0.0/16 -> R1
    dim = spark.createDataFrame(
        [
            (10 * 16777216, 10 * 16777216 + 2 * 65536 - 1, "R0"),
            (10 * 16777216 + 2 * 65536, 10 * 16777216 + 3 * 65536 - 1, "R1"),
        ],
        "ip_lo long, ip_hi long, region string",
    )
    df = spark.createDataFrame(
        [Row(ip="10.0.0.5"), Row(ip="10.1.255.255"), Row(ip="10.2.0.1"), Row(ip="11.0.0.1")]
    )
    out = geoip(df, dim, source="ip", fields=["region"])
    got = {r["ip"]: r["geoip_region"] for r in out.collect()}
    assert got == {"10.0.0.5": "R0", "10.1.255.255": "R0", "10.2.0.1": "R1", "11.0.0.1": None}
    assert_broadcast_join(out)


def test_dns_enrich(spark):
    df = spark.createDataFrame([Row(host="a.example")])
    dim = spark.createDataFrame([("a.example", "1.2.3.4")], "host string, address string")
    assert dns_enrich(df, dim, source="host").collect()[0]["resolved"] == "1.2.3.4"


def test_useragent_classification(spark):
    df = spark.createDataFrame(
        [
            Row(ua="Mozilla/5.0 (Windows NT 10.0) Chrome/120.0.0.0 Safari/537.36"),
            Row(ua="Mozilla/5.0 (Macintosh; Mac OS X 10_15) Version/17.0 Safari/605.1.15"),
            Row(ua="Mozilla/5.0 (X11; Linux x86_64) Firefox/115.0"),
        ]
    )
    out = {r["ua"][:20]: (r["ua_name"], r["ua_os"]) for r in useragent(df, "ua").collect()}
    vals = list(out.values())
    assert ("Chrome", "Windows") in vals
    assert ("Safari", "Mac OS X") in vals
    assert ("Firefox", "Linux") in vals


def test_translate_regex_mode(spark):
    """translate exact=false: dictionary keys are regexes, first match wins
    in dictionary order; compiles to a join-free rlike cascade."""
    df = spark.createDataFrame([Row(ua=u) for u in [
        "Mozilla/5.0 Chrome/120", "curl/8.0", "Googlebot/2.1", "weird"]])
    dim = spark.createDataFrame(
        [("bot|Bot", "crawler"), ("^curl", "tool"), ("Chrome|Mozilla", "browser")],
        "key string, value string",
    )
    out = translate(df, dim, source="ua", target="klass", fallback="other", exact=False)
    got = {r["ua"]: r["klass"] for r in out.collect()}
    assert got == {
        "Mozilla/5.0 Chrome/120": "browser",
        "curl/8.0": "tool",
        "Googlebot/2.1": "crawler",  # 'bot' pattern listed first wins
        "weird": "other",
    }
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "simple")
    assert "Join" not in plan  # cascade, not a join


def test_useragent_core_table_ordering(spark):
    """First-match-wins ordering mirrors ua-parser: derived browsers (Edge,
    Opera, Samsung) classify BEFORE their Chrome base token; bots and
    programmatic clients before everything; mobile variants split out."""
    from logstash_spark.operators.enrich import useragent

    cases = [
        ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
         "Edge", "120.0.2210.91", "Windows", "10"),
        ("Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36 OPR/105.0.4970.21",
         "Opera", "105.0.4970.21", "Windows", "10"),
        ("Mozilla/5.0 (Linux; Android 13; SM-S918B) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/23.0 Chrome/115.0.0.0 Mobile Safari/537.36",
         "Samsung Internet", "23.0", "Android", "13"),
        ("Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.6045.163 Mobile Safari/537.36",
         "Chrome Mobile", "119.0.6045.163", "Android", "13"),
        ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",
         "Mobile Safari", "17.1", "iOS", "17.1"),
        ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:109.0) Gecko/20100101 Firefox/119.0",
         "Firefox", "119.0", "Windows", "10"),
        ("Mozilla/5.0 (Android 13; Mobile; rv:109.0) Gecko/119.0 Firefox/119.0",
         "Firefox Mobile", "119.0", "Android", "13"),
        ("Mozilla/5.0 (Windows NT 6.1; Trident/7.0; rv:11.0) like Gecko",
         "IE", "11.0", "Windows", "7"),
        ("Mozilla/5.0 (compatible; MSIE 9.0; Windows NT 6.1; Trident/5.0)",
         "IE", "9.0", "Windows", "7"),
        ("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
         "Googlebot", "2.1", "Other", ""),
        ("Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
         "bingbot", "2.0", "Other", ""),
        ("curl/8.4.0", "curl", "8.4.0", "Other", ""),
        ("python-requests/2.31.0", "Python Requests", "2.31.0", "Other", ""),
        ("Go-http-client/2.0", "Go-http-client", "2.0", "Other", ""),
        ("Mozilla/5.0 (X11; CrOS x86_64 14541.0.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
         "Chrome", "120.0.0.0", "Chrome OS", "14541.0.0"),
        ("weird thing nobody ships", "Other", "", "Other", ""),
    ]
    df = spark.createDataFrame([(i, ua) for i, (ua, *_ ) in enumerate(cases)], "i int, agent string")
    got = {r["i"]: r for r in useragent(df, "agent").collect()}
    for i, (_ua, name, ver, os_, os_ver) in enumerate(cases):
        r = got[i]
        assert r["ua_name"] == name, (i, r["ua_name"], name)
        assert r["ua_version"] == ver, (i, r["ua_version"], ver)
        assert r["ua_os"] == os_, (i, r["ua_os"], os_)
        assert r["ua_os_version"] == os_ver, (i, r["ua_os_version"], os_ver)
    # major/minor split
    assert got[0]["ua_major"] == "120" and got[0]["ua_minor"] == "0"
    assert got[15]["ua_major"] == "" and got[15]["ua_minor"] is None


def test_translate_literal_override_false(spark):
    from logstash_spark.operators.enrich import translate_literal

    df = spark.createDataFrame(
        [("200", "keepme"), ("404", None)], "code string, name string"
    )
    # the lookup uses no deprecated Column API (getItem with a Column key)
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        plan = translate_literal(
            df, source="code", target="name",
            dictionary={"200": "ok", "404": "missing"}, override=False,
        )
    out = {r["code"]: r["name"] for r in plan.collect()}
    assert out == {"200": "keepme", "404": "missing"}


def test_ip_to_long_malformed_and_bounds(spark):
    """Malformed IPs yield NULL (lookup miss) — not a task kill, not an
    aliased false-positive ('1.2.3.300' once equaled '1.2.4.44')."""
    from logstash_spark.operators.enrich import ip_to_long

    df = spark.createDataFrame(
        [("abc",), ("1.2",), ("1.2.3.300",), ("10.0.0.1",), (None,)], "ip string"
    )
    got = {r.ip: r.v for r in df.select("ip", ip_to_long(F.col("ip")).alias("v")).collect()}
    assert got["abc"] is None and got["1.2"] is None and got["1.2.3.300"] is None
    assert got["10.0.0.1"] == 10 * 16777216 + 1
    assert got[None] is None


def test_translate_override_default_keeps_existing(spark):
    """Plugin default override => false: an existing destination value is
    never clobbered; override=True replaces."""
    from logstash_spark.operators.enrich import translate, translate_literal

    df = spark.createDataFrame(
        [("200", "preset"), ("404", None)], "code string, level string"
    )
    dim = spark.createDataFrame([("200", "ok"), ("404", "missing")], "key string, value string")
    got = {r.code: r.level for r in translate(df, dim, source="code", target="level").collect()}
    assert got == {"200": "preset", "404": "missing"}
    got2 = {r.code: r.level for r in
            translate(df, dim, source="code", target="level", override=True).collect()}
    assert got2 == {"200": "ok", "404": "missing"}
    got3 = {r.code: r.level for r in
            translate_literal(df, source="code", target="level",
                              dictionary={"200": "ok", "404": "missing"}).collect()}
    assert got3 == {"200": "preset", "404": "missing"}
