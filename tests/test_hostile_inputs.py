"""Hostile-input sweep: every parse/analysis operator must process (never
crash on) the garbage a real crawl contains — nulls, empty strings, control
bytes, 64KB lines, emoji, RTL text, format-string lookalikes."""

import pytest
from pyspark.sql import functions as F

HOSTILE = [
    None,
    "",
    " ",
    "\t\n",
    "\x00null\x00byte",
    "a" * 65536,                      # 64KB line
    "👾💥 emoji ʊɳɪ ⚡ ٱلْعَرَبِيَّة 中文",
    "%{this} %{looks} %{+like} %{sprintf}",
    "=== ==a== b=c=d ===",
    '{"unterminated": ',
    "\\ backslash \\\\ soup \\",
    "%GG%ZZ%",
    "192.168.0.999 - - [99/Xxx/9999:99:99:99 +9999] \"NOPE\"",
]


@pytest.fixture(scope="module")
def hostile(spark):
    return spark.createDataFrame([(i, s) for i, s in enumerate(HOSTILE)], "id long, s string").cache()


N = len(HOSTILE)


@pytest.mark.parametrize("backend", ["expr", "arrow"])
def test_grok_hostile(hostile, backend):
    from logstash_spark.operators.grok import grok

    out = grok(hostile, "s", "%{COMBINEDAPACHELOG}", backend=backend)
    rows = out.collect()
    assert len(rows) == N
    assert all(r["clientip"] is None for r in rows)  # nothing matches


def test_parsers_hostile(hostile):
    from logstash_spark.operators import parse as P

    assert P.kv(hostile, "s", target="kvm").count() == N
    assert P.json_parse(hostile, "s", "a string", target="j").count() == N
    assert P.csv_parse(hostile, "s", ["c1", "c2"]).count() == N
    assert P.urldecode(hostile.withColumn("u", F.col("s")), "u").count() == N
    assert P.syslog_pri(hostile.withColumn("syslog_pri", F.col("s"))).count() == N


def test_date_hostile(hostile):
    from logstash_spark.operators.date import date

    out = date(hostile, "s", ["dd/MMM/yyyy:HH:mm:ss Z", "ISO8601", "UNIX"])
    rows = out.collect()
    assert len(rows) == N
    # every non-null input fails to parse -> tagged; nulls pass untagged
    for r in rows:
        if r["s"] not in (None,) and r["@timestamp"] is None:
            assert r["tags"] and "_dateparsefailure" in r["tags"]


def test_text_analysis_hostile(hostile):
    from logstash_spark.functions.text import doc_fingerprint, lang_id, quality_score, token_count

    d = hostile.withColumnRenamed("s", "text")
    assert lang_id(d).count() == N
    assert token_count(d).count() == N
    assert quality_score(d).count() == N
    assert doc_fingerprint(d).count() == N


def test_dedup_hostile(hostile):
    from logstash_spark.functions.dedup import dedup_exact, dedup_minhash_lsh
    from test_training_data import simhash

    d = hostile.select(F.col("id").alias("doc_id"), F.col("s").alias("text")).fillna({"text": ""})
    assert dedup_exact(d).count() >= 1
    assert simhash(d).count() == N
    dedup_minhash_lsh(d, threshold=0.5).count()  # must complete


def test_codecs_charset_hostile(hostile, spark):
    from logstash_spark.operators.charset import decode_charset
    from logstash_spark.operators.codecs import encode_json, lines

    assert lines(hostile.withColumn("body", F.col("s")), "body").count() >= 0
    assert encode_json(hostile).count() == N
    b = hostile.withColumn("raw", F.encode(F.coalesce(F.col("s"), F.lit("")), "UTF-8"))
    assert decode_charset(b, "raw", target="t").filter(F.col("t").isNull()).count() == 0


def test_mutate_and_conditions_hostile(hostile):
    from logstash_spark.conditions import Cmp, Field, In, Rx
    from logstash_spark.operators import mutate as M

    d = M.uppercase(hostile, "s")
    d = M.gsub(d, [("s", r"\x00", "_")])
    d = M.split_field(d, "s", " ")
    assert d.count() == N
    for cond in (Rx(Field("[s]"), "a"), In("a", Field("[s]")), Cmp(Field("[s]"), "==", "x")):
        hostile.filter(cond.compile(hostile)).count()  # must compile+run


def test_new_codecs_hostile(hostile, spark):
    """Round-2 codecs must survive the hostile corpus: nulls, control
    bytes, 64KB lines, emoji, broken structures."""
    from logstash_spark.operators.codecs import (
        decode_collectd,
        decode_edn,
        decode_es_bulk,
        decode_graphite,
        decode_netflow5,
        decode_oldlogstashjson,
    )

    assert decode_graphite(hostile, "s").count() == N
    assert decode_oldlogstashjson(hostile, "s", "x int").count() == N
    assert decode_edn(hostile, "s", "a string").count() == N
    # es_bulk: every line either action-parses or doc-parses to null
    decode_es_bulk(hostile, "s", "a string").count()  # must not raise

    # binary codecs over garbage bytes
    bin_df = hostile.select("id", F.encode(F.coalesce(F.col("s"), F.lit("")), "UTF-8").alias("bytes"))
    assert decode_netflow5(bin_df).count() == 0  # nothing valid, nothing crashes
    assert decode_collectd(bin_df).count() == 0


def test_nested_writes_hostile(spark):
    """set_path with hostile field names: dots, backticks, unicode, spaces —
    quoting must hold everywhere."""
    from logstash_spark.event import drop_path, field_col, set_path

    df = spark.createDataFrame([(1,)], "id int")
    for name in ["a.b", "sp ace", "uni中文", "da-sh", "@at"]:
        out = set_path(df, f"[outer][{name}]", F.lit("v"))
        got = out.select(field_col(f"[outer][{name}]").alias("v")).collect()[0]["v"]
        assert got == "v", name
        assert drop_path(out, f"[outer][{name}]").collect()  # no crash

    # backticks are stripped from names (cannot be quoted) — documented
    out = set_path(df, "[outer][ba`ck]", F.lit("v"))
    assert out.collect()


def test_syslog_decode_hostile(hostile):
    from logstash_spark.operators.parse import syslog_decode

    out = syslog_decode(hostile, "s", year=2024)
    assert out.count() == N  # unparseable lines keep rows, tags failure


def test_yaml_hostile(hostile):
    """yaml filter: every hostile doc either parses or fails closed into
    the tag — never a task crash, never a silent misparse."""
    from logstash_spark.operators.yamlfilter import yaml_parse

    out = yaml_parse(hostile, "s", "a string", target="y")
    rows = out.collect()
    assert len(rows) == N
    for r in rows:
        tags = r["tags"] or []
        if r["s"] is None:
            assert "_yamlparsefailure" not in tags
        else:
            # hostile scalars/garbage -> tagged; the k=v-ish line parses
            assert r["y"] is not None or "_yamlparsefailure" in tags


def test_dsir_hostile(hostile):
    """DSIR featurize over hostile text: empty/whitespace docs drop out of
    the weight table (no grams), everything else gets a finite weight."""
    from logstash_spark.functions.selection import dsir_weights

    df = hostile.select(
        F.col("id").alias("doc_id"), F.col("s").alias("text"), (F.col("id") % 2 == 0).alias("is_target")
    )
    rows = dsir_weights(df).collect()
    assert 0 < len(rows) <= N
    assert all(r["logw_e6"] is not None for r in rows)


def test_chat_decoders_hostile(hostile):
    from logstash_spark.sources.chat import (
        decode_irc_lines,
        decode_rfc822,
        decode_twitter_statuses,
        decode_xmpp_stanzas,
    )

    for dec, col, tag in [
        (decode_irc_lines, "line", "_ircparsefailure"),
        (decode_xmpp_stanzas, "stanza", "_xmppparsefailure"),
        (decode_rfc822, "rfc822", "_mailparsefailure"),
        (decode_twitter_statuses, "status_json", "_twitterparsefailure"),
    ]:
        rows = dec(hostile.withColumnRenamed("s", col), col).collect()
        assert len(rows) == N
        # every non-null garbage row is flagged, never dropped or thrown
        for r in rows:
            if r["message"] is not None:
                assert r["tags"] in ([tag], None)


def test_bpe_hostile(hostile):
    from logstash_spark.functions.bpe import bpe_tokenize, bpe_train

    corpus = hostile.withColumnRenamed("s", "text")
    merges = bpe_train(corpus, num_merges=3)
    rows = bpe_tokenize(corpus, merges).collect()
    assert len(rows) == N
    assert all(r.n_tokens is not None and r.n_tokens >= 0 for r in rows)


def test_url_mining_ops_hostile(hostile, spark):
    """The round-4e URL/text mining operators must survive junk URLs
    (no scheme, empty, control bytes, 64KB strings) without throwing."""
    from logstash_spark.functions.crawl import (
        bitext_candidates,
        crawl_trap_detect,
        host_lang_outliers,
        politeness_schedule,
        recrawl_priority,
    )
    from logstash_spark.functions.dedup import winnow_fingerprints
    from logstash_spark.functions.selection import quality_threshold_sweep
    from logstash_spark.functions.stats import pmi_collocations

    urls = hostile.select(
        "id",
        F.col("s").alias("url"),
        F.col("s").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.col("s").alias("digest"),
    )
    assert crawl_trap_detect(urls).count() >= 0
    assert bitext_candidates(urls).count() >= 0
    assert host_lang_outliers(urls).count() >= 0
    assert recrawl_priority(urls, now="2024-02-01 00:00:00").count() >= 0
    sched = politeness_schedule(
        urls.withColumn("host", F.lit("h")), priority_col="id"
    )
    assert sched.count() >= 0
    fp = winnow_fingerprints(hostile.select(F.col("id").alias("doc_id"), F.col("s").alias("text")))
    assert fp.count() >= 0
    assert pmi_collocations(hostile.select(F.col("s").alias("text")), min_count=1).count() >= 0
    sweep = quality_threshold_sweep(
        hostile.select(F.length("s").cast("double").alias("quality")),
        score_col="quality",
        thresholds=(1.0,),
    )
    assert sweep.count() == 1
