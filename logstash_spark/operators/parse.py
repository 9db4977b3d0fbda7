"""Structured parsers: json, kv, csv, urldecode, syslog_pri, xml (gated).

Reference plugin surface (manifest rakelib/default_plugins.rb:28,35,36,43,
45,48). All implemented as built-in JVM expressions — these are the
codec/filter pairs the reference runs as per-event Ruby; here they are
codegen'd columnar ops with no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logstash_spark.event import top_field


def json_parse(
    df: DataFrame, source: str, schema: T.StructType | str, target: str | None = None
) -> DataFrame:
    """`json` filter: parse a JSON string field (default_plugins.rb:35).

    The reference is schemaless; our model requires the parse schema (same
    trade as the input_hint's fixed projection). Malformed JSON -> null
    struct + `_jsonparsefailure` tag, mirroring the plugin's contract.
    """
    # PERMISSIVE from_json yields an all-null struct (not a null struct) on
    # malformed input, so failure detection needs the corrupt-record column.
    if schema == "auto":
        schema = infer_json_schema(df, source)
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)  # type: ignore[attr-defined]
    schema = T.StructType(list(schema.fields) + [T.StructField("_corrupt", T.StringType(), True)])
    parsed = F.from_json(F.col(source), schema, {"columnNameOfCorruptRecord": "_corrupt"})
    tname = target or "_json"
    df = df.withColumn(tname, parsed)
    ok = (F.col(tname).isNotNull() & F.col(tname)["_corrupt"].isNull()) | F.col(source).isNull()
    from logstash_spark.operators.grok import _append_tag_unless

    df = _append_tag_unless(df, "tags", "_jsonparsefailure", ok)
    df = df.withColumn(tname, F.col(tname).dropFields("_corrupt"))
    if target is None:
        # hoist to top level (plugin default: fields land on the event)
        for f in df.schema[tname].dataType.fieldNames():  # type: ignore[union-attr]
            df = df.withColumn(f, F.col(tname)[f])
        df = df.drop(tname)
    return df


def infer_json_schema(df: DataFrame, source: str, sample: int = 100) -> T.StructType:
    """``schema => "auto"``: infer the parse schema ONCE at plan-build time
    from a bounded sample (the reference is schemaless per event; the
    fixed-schema engine freezes the union of the sampled shapes instead).
    One driver-side collect of ≤``sample`` strings — plan-time only, never
    per batch. Fields absent from the sample read as null downstream;
    pass an explicit schema for production pipelines (documented trade).
    """
    rows = (
        df.select(F.col(source).cast("string").alias("j"))
        .filter(F.col("j").isNotNull())
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError(f"json schema inference: no non-null rows in {source!r}")
    spark = df.sparkSession
    # spark.read.json over an in-memory string dataset: the canonical
    # schema-union inference, bounded to the sample (plan-time RDD use is
    # the sanctioned exception — no per-row RDD work in any hot path)
    inferred = spark.read.json(
        spark.sparkContext.parallelize([r["j"] for r in rows], 1)
    )
    return inferred.schema


def kv(
    df: DataFrame,
    source: str,
    *,
    field_split: str = " ",
    value_split: str = "=",
    target: str | None = None,
    include_keys: list[str] | None = None,
    trim_key: str | None = None,
    trim_value: str | None = None,
    prefix: str | None = None,
) -> DataFrame:
    """`kv` filter: parse k=v pairs into a map column (default_plugins.rb:36).

    str_to_map is a single codegen'd expression; with ``include_keys`` we
    project specific keys to top-level columns (typed pipelines).
    ``trim_key``/``trim_value`` strip the given character set from both
    ends (the plugin's options; quotes/brackets cleanup); ``prefix``
    prepends to every key.
    """
    # NOT str_to_map: under the default mapKeyDedupPolicy=EXCEPTION a
    # repeated key ('a=1 b=2 a=3' — one bad log line) throws
    # DUPLICATED_MAP_KEY and kills the task. Build entries and fold with
    # LAST-WINS overwrite instead (the plugin accumulates repeated keys
    # into arrays; a fixed map<string,string> schema can't hold mixed
    # scalar/array values, so last-wins is the documented stand-in — same
    # rule the trim path already uses for keys that collapse after trim).
    raw_pairs = F.filter(F.split(F.col(source), field_split), lambda p: p != "")
    ent = F.transform(
        raw_pairs,
        lambda p: F.struct(
            F.get(F.split(p, value_split, 2), 0).alias("k"),
            F.get(F.split(p, value_split, 2), 1).alias("v"),
        ),
    )
    ent = F.filter(ent, lambda e: e["v"].isNotNull() & (e["k"] != ""))
    m = F.aggregate(
        ent,
        F.create_map().cast("map<string,string>"),
        lambda acc, e: F.map_concat(
            F.map_filter(acc, lambda k, _x: k != e["k"]),
            F.create_map(e["k"], e["v"]),
        ),
    )
    if trim_key or trim_value or prefix:
        import re as _re

        def _trim(col, chars):
            cls = "[" + _re.escape(chars) + "]"
            return F.regexp_replace(F.regexp_replace(col, f"^{cls}+", ""), f"{cls}+$", "")

        def entry_k(k):
            out = _trim(k, trim_key) if trim_key else k
            return F.concat(F.lit(prefix), out) if prefix else out

        # rebuild via a fold with overwrite: trimming can COLLAPSE distinct
        # raw keys onto one name ('a' and '"a"' with trim_key='"'), and
        # map_from_arrays raises DUPLICATE_MAP_KEY — the plugin's behavior
        # is last-wins overwrite
        entries = F.arrays_zip(
            F.transform(F.map_keys(m), entry_k).alias("k"),
            F.transform(
                F.map_values(m), lambda v: _trim(v, trim_value) if trim_value else v
            ).alias("v"),
        )
        m = F.aggregate(
            entries,
            F.create_map().cast("map<string,string>"),
            lambda acc, e: F.map_concat(
                F.map_filter(acc, lambda k, _x: k != e["k"]),
                F.create_map(e["k"], e["v"]),
            ),
        )
    tname = target or "_kv"
    df = df.withColumn(tname, m)
    if include_keys:
        for k in include_keys:
            df = df.withColumn(k, F.col(tname).getItem(k))
        if target is None:
            df = df.drop(tname)
    return df


def csv_parse(
    df: DataFrame,
    source: str,
    columns: list[str],
    *,
    separator: str = ",",
    quote_char: str = '"',
    types: dict[str, str] | None = None,
    target: str | None = None,
) -> DataFrame:
    """`csv` filter (default_plugins.rb:28): from_csv with a named schema.
    ``quote_char`` and ``target`` mirror the plugin's options (fields land
    top-level by default, under a struct column when targeted)."""
    schema = ", ".join(f"`{c}` string" for c in columns)
    parsed = F.from_csv(
        F.col(source), F.lit(schema), {"sep": separator, "quote": quote_char}
    )
    if target:
        return df.withColumn(target, parsed)
    df = df.withColumn("_csv", parsed)
    for c in columns:
        col = F.col("_csv")[c]
        if types and c in types:
            col = col.try_cast(types[c])
        df = df.withColumn(c, col)
    return df.drop("_csv")


def urldecode(df: DataFrame, *fields: str) -> DataFrame:
    """`urldecode` filter (default_plugins.rb:45) — try_url_decode JVM-side;
    an invalid %-sequence leaves the ORIGINAL value (the plugin rescues
    decode errors and keeps the field untouched). Nested refs resolve to
    the LEAF (a raw F.col on '[a][b]' silently targeted the whole struct),
    and array fields decode per element (the plugin iterates values)."""
    from pyspark.sql import types as T

    from logstash_spark.event import _dtype_of, field_col, set_path

    for f_ in fields:
        col = field_col(f_)
        dt = _dtype_of(df, f_)
        if isinstance(dt, T.ArrayType):
            dec = F.transform(col, lambda x: F.coalesce(F.try_url_decode(x), x))
        else:
            dec = F.coalesce(F.try_url_decode(col), col)
        df = set_path(df, f_, dec)
    return df


SYSLOG_LINE_PATTERN = (
    r"^(?:<%{POSINT:syslog_pri}>)?%{SYSLOGTIMESTAMP:syslog_timestamp} "
    r"%{IPORHOST:logsource} %{SYSLOGPROG}: %{GREEDYDATA:syslog_message}"
)


def syslog_decode(
    df: DataFrame, source: str = "message", *, year: int | None = None
) -> DataFrame:
    """The syslog INPUT's decode path (manifest logstash-input-syslog):
    RFC3164 line -> grok(SYSLOGLINE) -> syslog_pri facility/severity ->
    @timestamp from the (year-less) syslog timestamp.

    The reference assumes the current year for the year-less RFC3164
    timestamp; pass ``year`` to pin it (tests/oracles do — current-year
    inference is wall-clock-dependent and breaks replay determinism).
    """
    from logstash_spark.operators.date import date as date_op
    from logstash_spark.operators.grok import grok

    out = grok(df, source, SYSLOG_LINE_PATTERN)
    out = syslog_pri(out, source="syslog_pri")
    if year is not None:
        out = out.withColumn(
            "_syslog_ts_y",
            F.concat(F.lit(str(year)), F.lit(" "), F.col("syslog_timestamp")),
        )
        out = date_op(out, "_syslog_ts_y", ["yyyy MMM  d HH:mm:ss", "yyyy MMM d HH:mm:ss"])
        out = out.drop("_syslog_ts_y")
    return out


def syslog_pri(
    df: DataFrame, source: str = "syslog_pri", use_labels: bool = True
) -> DataFrame:
    """`syslog_pri` filter (default_plugins.rb:43): priority = facility*8 +
    severity; pure arithmetic + array lookup, zero Python.

    Plugin defaults: a MISSING/null priority field defaults to 13
    (facility user-level, severity notice) — an unguarded F.col was a
    plan-time UNRESOLVED_COLUMN crash on frames without the field and
    emitted null codes/labels on rows where grok missed. A non-null
    unparsable value follows Ruby String#to_i: leading integer, else 0."""
    src = F.col(source) if source in df.columns else F.lit(None).cast("string")
    pri = F.when(
        src.isNull(), F.lit(13)
    ).otherwise(
        F.coalesce(F.regexp_extract(src, r"^\s*([+-]?\d+)", 1).try_cast("int"), F.lit(0))
    )
    severity = pri % 8
    facility = (pri / 8).cast("int")
    df = df.withColumn("syslog_severity_code", severity)
    df = df.withColumn("syslog_facility_code", facility)
    if use_labels:
        sev_labels = F.array(*[F.lit(x) for x in [
            "emergency", "alert", "critical", "error",
            "warning", "notice", "informational", "debug",
        ]])
        fac_labels = F.array(*[F.lit(x) for x in [
            "kernel", "user-level", "mail", "daemon", "security/authorization",
            "syslogd", "line printer", "network news", "uucp", "clock",
            "security/authorization", "ftp", "ntp", "log audit", "log alert",
            "clock", "local0", "local1", "local2", "local3", "local4",
            "local5", "local6", "local7",
        ]])
        df = df.withColumn("syslog_severity", F.element_at(sev_labels, severity + 1))
        df = df.withColumn("syslog_facility", F.element_at(fac_labels, facility + 1))
    return df


def xml_parse(df: DataFrame, source: str, schema: str, target: str = "_xml") -> DataFrame:
    """`xml` filter (default_plugins.rb:48) — Spark 4's from_xml.
    ``target`` names the struct column the parsed document lands in
    (the plugin's target option; library default keeps '_xml')."""
    return df.withColumn(target, F.from_xml(F.col(source), F.lit(schema)))


def xml_xpath(df: DataFrame, source: str, xpath: dict[str, str]) -> DataFrame:
    """The xml filter's ``xpath => {"expr" => "dest_field"}`` mode: each
    expression is evaluated against the document and the matches land in
    ``dest_field`` as an ARRAY of strings (the plugin always stores arrays
    — logstash-filter-xml stores each nokogiri match per field).

    Engine note: the plugin uses nokogiri (full XPath 1.0); this kernel is
    stdlib ``xml.etree`` running the ElementTree subset — element paths
    (``.//item``, ``/root/a/b``, ``tag[@attr='v']`` predicates) plus two
    pragmatic extensions resolved here: a trailing ``/text()`` returns
    element text (as nokogiri does) and a trailing ``/@attr`` returns that
    attribute. Unmatched/unparseable docs yield null and tag
    ``_xmlparsefailure`` (plugin behavior).

    Scale shape: parsing XML is genuinely non-columnar → Arrow-batched
    mapInPandas, one pass for ALL expressions (the document is parsed once
    per row however many xpath entries there are), schema fixed up front so
    the operator composes in a fixed-schema pipeline.
    """
    import pandas as pd

    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(dest, T.ArrayType(T.StringType())) for dest in xpath.values()]
        + ([] if "tags" in df.columns else [T.StructField("tags", T.ArrayType(T.StringType()))])
    )
    exprs = list(xpath.items())
    had_tags = "tags" in df.columns

    def run(batches):
        import xml.etree.ElementTree as ET

        # hoist expression preprocessing OUT of the row loop (one-shot per
        # worker, not per doc — measured the per-row rsplit/startswith/segs
        # churn dominating over the actual expat parse)
        preps: list[tuple[str, object, str | None]] = []
        for expr, _dest in exprs:
            attr: str | None = None
            path = expr
            if "/@" in path:
                path, attr = path.rsplit("/@", 1)
            if path.endswith("/text()"):
                path = path[: -len("/text()")]
            if path.startswith("/"):
                # ElementTree rejects absolute paths; '/root/x' resolves
                # against the row's root tag at eval time
                preps.append(("abs", tuple(s for s in path.split("/") if s), attr))
            else:
                preps.append(("rel", path, attr))
        _abs_cache: dict = {}

        def eval_one(doc: str):
            vals: list = []
            try:
                root = ET.fromstring(doc) if doc else None
            except ET.ParseError:
                root = None
            if root is None:
                return [None] * len(exprs), True
            for i, (kind, p, attr) in enumerate(preps):
                if kind == "abs":
                    # memoized per (expr, root tag): a corpus has ~1 root
                    # tag, so this join happens once, not per doc
                    ck = (i, root.tag)
                    path = _abs_cache.get(ck)
                    if path is None:
                        segs = p
                        if segs and segs[0] == root.tag:
                            path = "./" + "/".join(segs[1:]) if len(segs) > 1 else "."
                        else:
                            path = ".//" + "/".join(segs)
                        _abs_cache[ck] = path
                else:
                    path = p
                try:
                    nodes = root.findall(path) if path not in (".", "") else [root]
                except SyntaxError:
                    nodes = []
                if attr is not None:
                    got = [n.get(attr) for n in nodes if n.get(attr) is not None]
                else:
                    got = [(n.text or "") for n in nodes]
                vals.append(got if got else None)
            return vals, False

        for pdf in batches:
            cols: list[list] = [[] for _ in exprs]
            failed: list[bool] = []
            for doc in pdf[source].tolist():
                vals, bad = eval_one(doc)
                failed.append(bad)
                for i, v in enumerate(vals):
                    cols[i].append(v)
            for (_e, dest), vs in zip(exprs, cols):
                pdf[dest] = vs
            base = pdf["tags"].tolist() if had_tags else [None] * len(pdf)
            new_tags = []
            for t, bad in zip(base, failed):
                cur = list(t) if t is not None else None
                if bad:
                    new_tags.append((cur or []) + ["_xmlparsefailure"])
                else:
                    new_tags.append(cur)
            pdf["tags"] = pd.Series(new_tags, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)
