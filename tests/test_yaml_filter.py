"""yaml filter: mini-YAML reader semantics + the Spark operator contract.

The reader is a vendored block-YAML subset (operators/yamlfilter.py); these
pin (a) core-schema scalar resolution, (b) block map/sequence nesting,
(c) fail-closed behavior on every unsupported construct, (d) the operator's
`_yamlparsefailure` tagging and fixed-schema parse, (e) the .conf form.
"""

import json

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logstash_spark.operators.yamlfilter import (
    YamlSyntaxError,
    yaml_doc_to_json,
    yaml_parse,
    yaml_to_obj,
)


# ---------------------------------------------------------------------------
# reader unit semantics (pure Python — no Spark)
# ---------------------------------------------------------------------------

GOOD = [
    ("a: 1\nb: two\nc: true\nd: ~\ne: 3.5", {"a": 1, "b": "two", "c": True, "d": None, "e": 3.5}),
    ("---\n# comment\nname: 'single q'\ndesc: \"dq \\\" esc\"  # trailing",
     {"name": "single q", "desc": 'dq " esc'}),
    ("top:\n  mid:\n    leaf: 7\nlist:\n  - 1\n  - x\n  - true",
     {"top": {"mid": {"leaf": 7}}, "list": [1, "x", True]}),
    ("servers:\n  - name: a\n    port: 80\n  - name: b\n    port: 443",
     {"servers": [{"name": "a", "port": 80}, {"name": "b", "port": 443}]}),
    ("flow: [1, two, {k: v}]\nfm: {a: 1, b: [x, y]}",
     {"flow": [1, "two", {"k": "v"}], "fm": {"a": 1, "b": ["x", "y"]}}),
    # ':' inside values must not split the key (URLs, times)
    ("url: http://x/y:z\ntime: 12:30:00", {"url": "http://x/y:z", "time": "12:30:00"}),
    ("empty:\nafter: 1", {"empty": None, "after": 1}),
    ("neg: -3\nexp: 1e3\nplus: +7\nnotnum: 1.2.3",
     {"neg": -3, "exp": 1000.0, "plus": 7, "notnum": "1.2.3"}),
    ("'quoted key': v\n\"dq key\": 2", {"quoted key": "v", "dq key": 2}),
    ("seq:\n  -\n  - x", {"seq": [None, "x"]}),
    ("a: ''\nb: \"\"", {"a": "", "b": ""}),
    ("off1: False\non1: TRUE\nnull2: Null", {"off1": False, "on1": True, "null2": None}),
]

BAD = [
    "a: &anchor v",           # anchors
    "a: *ref",                # aliases
    "a: |",                   # block scalars
    "a: !binary x",           # tags
    "\tbad: 1",               # tab indentation
    "---\na: 1\n---\nb: 2",   # multi-doc stream
    "%YAML 1.2\na: 1",        # directives
    "a: 'unterminated",
    "l:\n  - - 1",            # nested flow-on-dash sequence
    "m:\n  a: 1\n    b: 2",   # bad indent step
    "a: [1, 2",               # unterminated flow
]


@pytest.mark.parametrize("src,want", GOOD)
def test_reader_good(src, want):
    assert yaml_to_obj(src) == want
    assert json.loads(yaml_doc_to_json(src)) == want


@pytest.mark.parametrize("src", BAD)
def test_reader_fails_closed(src):
    with pytest.raises(YamlSyntaxError):
        yaml_to_obj(src)
    assert yaml_doc_to_json(src) is None


def test_scalar_document_rejected_by_doc_converter():
    # a bare scalar parses but cannot merge into an event -> None (tagged)
    assert yaml_to_obj("just a scalar") == "just a scalar"
    assert yaml_doc_to_json("just a scalar") is None
    assert yaml_to_obj("key without colon") == "key without colon"
    assert yaml_doc_to_json("key without colon") is None
    assert yaml_doc_to_json(None) is None


# ---------------------------------------------------------------------------
# Spark operator contract
# ---------------------------------------------------------------------------


def test_yaml_parse_typed_and_failure_tag(spark):
    df = spark.createDataFrame(
        [
            ("ok", "a: 1\nb:\n  - x\n  - y\nc:\n  d: hi"),
            ("bad", "a: &anchor 1"),
            ("nul", None),
        ],
        "id string, doc string",
    )
    out = yaml_parse(df, "doc", "a bigint, b array<string>, c struct<d: string>", target="y")
    rows = {r["id"]: r for r in out.collect()}
    assert rows["ok"]["y"]["a"] == 1
    assert list(rows["ok"]["y"]["b"]) == ["x", "y"]
    assert rows["ok"]["y"]["c"]["d"] == "hi"
    assert rows["ok"]["tags"] is None or "_yamlparsefailure" not in (rows["ok"]["tags"] or [])
    assert "_yamlparsefailure" in (rows["bad"]["tags"] or [])
    # null source is NOT a parse failure (json filter contract)
    assert "_yamlparsefailure" not in (rows["nul"]["tags"] or [])


def test_yaml_parse_hoists_without_target(spark):
    df = spark.createDataFrame([("u1", "k1: v1\nk2: 9")], "id string, doc string")
    out = yaml_parse(df, "doc", "k1 string, k2 bigint")
    r = out.collect()[0]
    assert r["k1"] == "v1" and r["k2"] == 9


def test_yaml_parse_auto_schema(spark):
    df = spark.createDataFrame(
        [("a", "x: 1\ny: hi"), ("b", "x: 2\ny: yo")], "id string, doc string"
    )
    out = yaml_parse(df, "doc", "auto", target="y")
    got = {r["id"]: (r["y"]["x"], r["y"]["y"]) for r in out.collect()}
    assert got == {"a": (1, "hi"), "b": (2, "yo")}


def yaml_flat(df: DataFrame, source: str, target: str) -> DataFrame:
    """Flat `key: value` YAML documents -> map<string,string>, pure JVM
    (split + str-ops; the 100 TB fast path when documents are known-flat —
    comments and quotes stripped, nested docs yield partial maps: use
    yaml_parse for full semantics)."""
    lines = F.filter(
        F.transform(
            F.split(F.col(source), "\n"),
            lambda ln: F.regexp_replace(ln, r"\s+#.*$", ""),
        ),
        lambda ln: ln.contains(": ") & ~ln.startswith("#") & ~ln.startswith(" "),
    )
    ent = F.transform(
        lines,
        lambda ln: F.struct(
            F.trim(F.substring_index(ln, ": ", 1)).alias("k"),
            F.regexp_replace(
                # value = everything after the first ': ' (1-based substring:
                # key is 1..L, ': ' is L+1..L+2, value starts at L+3)
                F.trim(F.substring(ln, F.length(F.substring_index(ln, ": ", 1)) + 3, F.lit(1 << 20))),
                r"^['\"]|['\"]$",
                "",
            ).alias("v"),
        ),
    )
    m = F.aggregate(
        ent,
        F.create_map().cast("map<string,string>"),
        lambda acc, e: F.map_concat(F.map_filter(acc, lambda k, _: k != e["k"]), F.create_map(e["k"], e["v"])),
    )
    return df.withColumn(target, m)


def test_yaml_flat_jvm_path(spark):
    df = spark.createDataFrame(
        [("a", "# hdr\nk1: v1\nk2: 'q v'  # c\nk1: override")], "id string, doc string"
    )
    out = yaml_flat(df, "doc", "m").select(
        F.col("m").getItem("k1").alias("k1"), F.col("m").getItem("k2").alias("k2")
    )
    r = out.collect()[0]
    assert r["k1"] == "override" and r["k2"] == "q v"
    # pure JVM: no Python in the plan
    assert "BatchEvalPython" not in out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in out._jdf.queryExecution().executedPlan().toString()


def test_yaml_conf_form(spark, tmp_path):
    from logstash_spark.conf import compile_config

    src = """
filter {
  yaml { source => "doc" schema => "a bigint, b string" target => "y" }
}
output { null {} }
"""
    pipe, _ = compile_config(src, out_dir=str(tmp_path))
    df = spark.createDataFrame([("u", "a: 5\nb: z")], "id string, doc string")
    r = pipe.transform(df).collect()[0]
    assert r["y"]["a"] == 5 and r["y"]["b"] == "z"


def test_yaml_conf_requires_schema(tmp_path):
    from logstash_spark.conf import ConfCompileError, compile_config

    with pytest.raises(ConfCompileError, match="yaml"):
        compile_config('filter { yaml { source => "doc" } } output { null {} }',
                       out_dir=str(tmp_path))
