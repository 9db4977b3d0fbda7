"""Codecs: byte/record framing at sources and sinks.

Reference codec surface (manifest rakelib/default_plugins.rb:8,10-24):
plain, line, json, json_lines, multiline, msgpack, edn, rubydebug, dots...
A codec turns a byte stream into events (decode) or events into bytes
(encode) — codecs/base.rb:19-28; chunk framing is BufferedTokenizer
(util/buftok.rb:37-133: split on delimiter, keep remainder until flush).

Spark sources are already record-oriented (parquet rows, kafka records,
text-file lines), so codecs reduce to column transformations:

- `lines`      — the line codec / BufferedTokenizer analog over a document
                 column: split + posexplode (the position is the
                 determinism key; no cross-row state is needed because the
                 framing boundary — the document — is already a row).
- `json_lines` — lines + per-line JSON parse.
- `plain`      — identity with charset normalization (operators.charset).
- `encode_json`/`encode_csv` — event -> serialized line for bus sinks.
- rubydebug/dots — diagnostic sinks: `stdout` compiles to
                 sinks.CollectSink (NullSink for `codec => dots`).
msgpack/edn/fluent/netflow/collectd run on readers written from the public
specs (msgpack and fluent on the vendored pure-Python reader,
logstash_spark.vendor_msgpack); their framing is identical to json_lines
(byte column -> 1..N typed events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lines(
    df: DataFrame,
    source: str,
    *,
    delimiter: str = "\n",
    target: str = "message",
    keep_empty: bool = False,
) -> DataFrame:
    """line codec: one event per delimited line of ``source``. The decoded
    line REPLACES any existing ``target`` column (and the source), so
    ``source == target`` (the plugin's default over `message`) never
    produces an ambiguous duplicate column."""
    import re

    arr = F.split(F.col(source), re.escape(delimiter))
    tmp = "_line_out"
    while tmp in df.columns:
        tmp += "_"
    out = df.select("*", F.posexplode(arr).alias("line_seq", tmp))
    if not keep_empty:
        out = out.filter(F.length(F.col(tmp)) > 0)
    out = out.drop(source)
    if target in out.columns:
        out = out.drop(target)
    return out.withColumnRenamed(tmp, target)


def json_lines(
    df: DataFrame,
    source: str,
    schema: str,
    *,
    delimiter: str = "\n",
) -> DataFrame:
    """json_lines codec: NDJSON document -> one typed event per line."""
    from logstash_spark.operators.parse import json_parse

    out = lines(df, source, delimiter=delimiter, target="_jl")
    out = json_parse(out, "_jl", schema)
    return out.drop("_jl")


def encode_json(df: DataFrame, *, target: str = "value", drop_fields: bool = True) -> DataFrame:
    """json codec (encode): serialize the event for a bus sink (kafka
    `value` column). `_meta`/internal columns excluded (event.rb:298-306)."""
    from logstash_spark.sinks import strip_internal

    clean = strip_internal(df)
    cols = clean.columns
    out = df.withColumn(target, F.to_json(F.struct(*[F.col(c) for c in cols])))
    return out.select(target) if drop_fields else out


def encode_csv(df: DataFrame, columns: list[str], *, target: str = "line", sep: str = ",") -> DataFrame:
    """csv output codec: selected fields joined into one line."""
    return df.withColumn(target, F.concat_ws(sep, *[F.col(c).cast("string") for c in columns]))


def decode_msgpack(df: DataFrame, source: str, schema: str) -> DataFrame:
    """msgpack codec (default_plugins.rb:16): byte column -> typed events.
    Framing identical to json_lines (one map per row); malformed rows drop
    with the corrupt-record contract of the other binary codecs."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T._parse_datatype_string(schema)  # type: ignore[attr-defined]
    names = [f.name for f in out_schema.fields]

    def batches(it):
        from logstash_spark.vendor_msgpack import unpackb

        for pdf in it:
            rows = []
            for b in pdf[source]:
                if b is None:
                    continue
                try:
                    obj = unpackb(bytes(b))
                except (ValueError, TypeError):  # MsgpackError is a ValueError
                    continue
                if isinstance(obj, dict):
                    rows.append([obj.get(n) for n in names])
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, out_schema)


def _mp_clean(v):
    """Scalar-safe null/ndarray normalization for msgpack encoding:
    pd.isna on an array-typed cell returns an elementwise ndarray (its
    truth value raises), and Arrow hands array<> columns over as numpy
    arrays which the packer does not know — recurse into lists instead."""
    import numpy as np

    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_mp_clean(x) for x in v]
    if isinstance(v, dict):
        return {k: _mp_clean(x) for k, x in v.items()}
    if isinstance(v, float) and v != v:  # scalar NaN
        return None
    if isinstance(v, np.generic):
        return v.item()
    return v


def encode_msgpack(df: DataFrame, *, target: str = "value") -> DataFrame:
    """msgpack codec (encode): event -> one msgpack map per row (binary),
    the mirror of decode_msgpack. Arrow batches in/out; internal columns
    stripped like encode_json."""
    import pandas as pd
    from logstash_spark.sinks import strip_internal

    clean = strip_internal(df)
    cols = clean.columns

    def batches(it):
        from logstash_spark.vendor_msgpack import packb

        for pdf in it:
            # column-wise tolist + zip, NOT iterrows (measured ~20x faster:
            # iterrows materializes a pandas Series per row)
            col_vals = [
                [_mp_clean(v) for v in pdf[c].tolist()] for c in cols
            ]
            vals = [packb(dict(zip(cols, row))) for row in zip(*col_vals)]
            yield pd.DataFrame({target: vals})

    return df.select(*cols).mapInPandas(batches, f"{target} binary")


def encode_fluent(
    df: DataFrame, *, tag: str, time_col: str, fields: list[str], target: str = "value"
) -> DataFrame:
    """fluent codec (encode): event -> msgpack ``[tag, time, record]``
    frame, the forwarder wire entry decode_fluent consumes."""
    import pandas as pd

    def batches(it):
        from logstash_spark.vendor_msgpack import packb

        for pdf in it:
            times = pdf[time_col].tolist()
            col_vals = [
                [_mp_clean(v) for v in pdf[c].tolist()] for c in fields
            ]
            vals = [
                packb([tag, int(t), dict(zip(fields, row))])
                for t, row in zip(times, zip(*col_vals))
            ]
            out = pdf[[c for c in pdf.columns if c not in (target,)]].copy()
            out[target] = vals
            yield out

    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(batches, f"{out_fields}, {target} binary")


def decode_fluent(df: DataFrame, source: str, schema: str) -> DataFrame:
    """fluent codec (default_plugins.rb:19): msgpack-framed
    ``[tag, time, record]`` entries. Framing contract: unpack each binary
    row as the 3-tuple, flatten ``record`` into ``schema`` columns plus
    fluent_tag/fluent_time. Runs on the vendored msgpack reader."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T._parse_datatype_string(
        f"fluent_tag string, fluent_time bigint, {schema}"
    )
    names = [f_.name for f_ in out_schema.fields]

    def batches(it):
        from logstash_spark.vendor_msgpack import unpackb

        for pdf in it:
            rows = []
            for b in pdf[source]:
                if b is None:
                    continue
                try:
                    tag, ts, record = unpackb(bytes(b))
                except (ValueError, TypeError):
                    continue
                rows.append([tag, int(ts)] + [record.get(n) for n in names[2:]])
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, out_schema)


def dots(df: DataFrame) -> int:
    """dots codec (default_plugins.rb:9): one '.' per event — the
    throughput eyeball check. Batch analog: count remotely (no event data
    moves), print that many dots bounded to a terminal-width line."""
    import sys

    n = df.count()
    sys.stdout.write("." * min(n, 80) + (f" ({n} events)\n" if n > 80 else "\n"))
    return n


# ---------------------------------------------------------------------------
# graphite codec (default_plugins.rb:13) — pure exprs both directions
# ---------------------------------------------------------------------------


def decode_graphite(df: DataFrame, source: str = "message") -> DataFrame:
    """graphite line protocol decode: ``metric value timestamp`` per line ->
    (metric string, value double, graphite_ts timestamp). Malformed lines
    yield nulls (the codec logs+skips; fixed schema keeps the row)."""
    parts = F.split(F.trim(F.col(source)), r"\s+")
    return (
        df.withColumn("metric", parts.getItem(0))
        .withColumn("value", parts.getItem(1).try_cast("double"))
        .withColumn(
            "graphite_ts", F.timestamp_seconds(parts.getItem(2).try_cast("bigint"))
        )
    )


def encode_graphite(
    df: DataFrame,
    *,
    metric: str,
    value: str,
    ts: str = "@timestamp",
    target: str = "line",
) -> DataFrame:
    """graphite line protocol encode: ``metric value epoch_seconds``."""
    ts_col = (
        F.unix_timestamp(F.col(ts))
        if ts in df.columns
        else F.unix_timestamp(F.current_timestamp())
    )
    return df.withColumn(
        target,
        F.concat_ws(
            " ",
            F.col(metric).cast("string"),
            F.col(value).cast("string"),
            ts_col.cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# oldlogstashjson codec (default_plugins.rb:18) — the pre-1.2 "@fields"
# wire format mapped onto the modern flat event
# ---------------------------------------------------------------------------

# old name -> new name for the envelope fields (the codec's documented map)
_OLD_JSON_MAP = {
    "@message": "message",
    "@timestamp": "@timestamp",
    "@tags": "tags",
    "@type": "type",
    "@source_host": "host",
    "@source_path": "path",
}


def decode_oldlogstashjson(
    df: DataFrame, source: str, fields_schema: str | None = None
) -> DataFrame:
    """Decode the pre-1.2 JSON envelope: ``@message/@timestamp/@tags/@type/
    @source_host/@source_path`` map to their modern names; the ``@fields``
    hash flattens into top-level columns (typed by ``fields_schema``)."""
    envelope = (
        "`@message` string, `@timestamp` string, `@tags` array<string>, "
        "`@type` string, `@source_host` string, `@source_path` string"
        + (f", `@fields` struct<{fields_schema}>" if fields_schema else "")
    )
    parsed = df.withColumn("_old", F.from_json(F.col(source), envelope))
    for old, new in _OLD_JSON_MAP.items():
        col = F.col("_old").getItem(old)
        if new == "@timestamp":
            col = F.to_timestamp(col)
        parsed = parsed.withColumn(new, col)
    if fields_schema:
        from pyspark.sql import types as T

        struct_t = T._parse_datatype_string(f"struct<{fields_schema}>")
        for f_ in struct_t.fields:  # type: ignore[union-attr]
            parsed = parsed.withColumn(
                f_.name, F.col("_old").getItem("@fields").getItem(f_.name)
            )
    return parsed.drop("_old")


def encode_oldlogstashjson(
    df: DataFrame,
    *,
    fields: list[str] | None = None,
    target: str = "value",
    timestamp_field: str = "@timestamp",
) -> DataFrame:
    """Encode the modern flat event back into the pre-1.2 envelope: mapped
    names restored, everything in ``fields`` nested under ``@fields``."""
    struct_fields = []
    for old, new in _OLD_JSON_MAP.items():
        if new not in df.columns:
            continue
        col = F.col(new)
        if new == timestamp_field:
            col = F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
        struct_fields.append(col.alias(old))
    data = fields or [
        c
        for c in df.columns
        if c not in _OLD_JSON_MAP.values() and not c.startswith("_")
    ]
    if data:
        struct_fields.append(F.struct(*[F.col(c) for c in data]).alias("@fields"))
    return df.withColumn(target, F.to_json(F.struct(*struct_fields)))


# ---------------------------------------------------------------------------
# netflow v5 codec (default_plugins.rb:17) — fixed binary layout: 24-byte
# header + N x 48-byte flow records; stdlib struct in mapInPandas (the
# packet grammar is public; no external lib needed)
# ---------------------------------------------------------------------------

NETFLOW5_SCHEMA = (
    "flow_seq bigint, unix_secs bigint, src_addr string, dst_addr string, "
    "src_port int, dst_port int, protocol int, tos int, tcp_flags int, "
    "in_pkts bigint, in_bytes bigint, first_switched bigint, last_switched bigint"
)


def decode_netflow5(df: DataFrame, source: str = "bytes") -> DataFrame:
    """netflow v5 decode: one event per flow record in each packet (binary
    column). Non-v5 / truncated packets are skipped (the codec logs+skips).
    """
    import struct

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T._parse_datatype_string(NETFLOW5_SCHEMA)
    names = [f_.name for f_ in out_schema.fields]

    def ip(n: int) -> str:
        return f"{(n >> 24) & 255}.{(n >> 16) & 255}.{(n >> 8) & 255}.{n & 255}"

    def batches(it):
        for pdf in it:
            rows = []
            for raw in pdf[source]:
                if raw is None or len(raw) < 24:
                    continue
                buf = bytes(raw)
                version, count, _uptime, unix_secs = struct.unpack_from(">HHII", buf, 0)
                (flow_seq,) = struct.unpack_from(">I", buf, 16)
                if version != 5 or len(buf) < 24 + count * 48:
                    continue
                for i in range(count):
                    off = 24 + i * 48
                    (src, dst, _nh) = struct.unpack_from(">III", buf, off)
                    in_pkts, in_bytes, first_sw, last_sw = struct.unpack_from(
                        ">IIII", buf, off + 16
                    )
                    sport, dport = struct.unpack_from(">HH", buf, off + 32)
                    tcp_flags, proto, tos = struct.unpack_from(">BBB", buf, off + 37)
                    rows.append(
                        (flow_seq, unix_secs, ip(src), ip(dst), sport, dport,
                         proto, tos, tcp_flags, in_pkts, in_bytes, first_sw, last_sw)
                    )
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, out_schema)


# ---------------------------------------------------------------------------
# collectd codec (default_plugins.rb:24) — TLV "parts" binary protocol:
# (type uint16, length uint16, payload); stdlib struct in mapInPandas
# ---------------------------------------------------------------------------

COLLECTD_SCHEMA = (
    "host string, collectd_time bigint, plugin string, plugin_instance string, "
    "collectd_type string, type_instance string, values array<double>"
)

_CD_HOST, _CD_TIME, _CD_PLUGIN, _CD_PLUGIN_INST = 0x0000, 0x0001, 0x0002, 0x0003
_CD_TYPE, _CD_TYPE_INST, _CD_VALUES, _CD_TIME_HR = 0x0004, 0x0005, 0x0006, 0x0008


def decode_collectd(df: DataFrame, source: str = "bytes") -> DataFrame:
    """collectd binary protocol decode: string/time parts set context;
    every VALUES part emits one event with the accumulated context (the
    protocol's documented stateful-parts semantics)."""
    import struct

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T._parse_datatype_string(COLLECTD_SCHEMA)
    names = [f_.name for f_ in out_schema.fields]

    def batches(it):
        for pdf in it:
            rows = []
            for raw in pdf[source]:
                if raw is None:
                    continue
                buf, off = bytes(raw), 0
                ctx = {"host": None, "time": None, "plugin": None,
                       "plugin_instance": None, "type": None, "type_instance": None}
                while off + 4 <= len(buf):
                    ptype, plen = struct.unpack_from(">HH", buf, off)
                    if plen < 4 or off + plen > len(buf):
                        break
                    payload = buf[off + 4 : off + plen]
                    off += plen
                    if ptype in (_CD_HOST, _CD_PLUGIN, _CD_PLUGIN_INST, _CD_TYPE, _CD_TYPE_INST):
                        s = payload.rstrip(b"\x00").decode("utf-8", "replace")
                        key = {_CD_HOST: "host", _CD_PLUGIN: "plugin",
                               _CD_PLUGIN_INST: "plugin_instance", _CD_TYPE: "type",
                               _CD_TYPE_INST: "type_instance"}[ptype]
                        ctx[key] = s
                    elif ptype == _CD_TIME:
                        (ctx["time"],) = struct.unpack(">Q", payload)
                    elif ptype == _CD_TIME_HR:
                        (t_hr,) = struct.unpack(">Q", payload)
                        ctx["time"] = t_hr >> 30  # 2^-30 s resolution
                    elif ptype == _CD_VALUES:
                        (n,) = struct.unpack_from(">H", payload, 0)
                        kinds = payload[2 : 2 + n]
                        vals = []
                        for i in range(n):
                            chunk = payload[2 + n + i * 8 : 2 + n + (i + 1) * 8]
                            if len(chunk) < 8:
                                break
                            if kinds[i] == 1:  # GAUGE: little-endian double
                                vals.append(struct.unpack("<d", chunk)[0])
                            else:  # COUNTER/DERIVE/ABSOLUTE: BE (u)int64
                                vals.append(float(struct.unpack(">q", chunk)[0]))
                        rows.append(
                            (ctx["host"], ctx["time"], ctx["plugin"],
                             ctx["plugin_instance"], ctx["type"],
                             ctx["type_instance"], vals)
                        )
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, out_schema)


# ---------------------------------------------------------------------------
# es_bulk codec (default_plugins.rb:12) — Elasticsearch bulk NDJSON:
# alternating action lines and source docs; pure exprs both directions
# ---------------------------------------------------------------------------


def decode_es_bulk(df: DataFrame, source: str, schema: str) -> DataFrame:
    """es_bulk decode: pair each action line with its following source doc.
    Emits one event per source doc (index/create/update) with
    bulk_action/bulk_index/bulk_id provenance columns plus the doc fields
    (typed by ``schema``); delete actions (no source line) emit an event
    with null doc fields. The action->doc pairing is a per-payload window
    over line position — one shuffle on the payload id, everything else
    pure exprs."""
    from pyspark.sql import Window as W

    base = df.withColumn("_brow", F.monotonically_increasing_id())
    out = lines(base, source, target="_bl", keep_empty=False)
    action_s = (
        "struct<index:struct<_index:string,_id:string>,"
        "create:struct<_index:string,_id:string>,"
        "update:struct<_index:string,_id:string>,"
        "delete:struct<_index:string,_id:string>>"
    )
    kinds = ("index", "create", "update", "delete")
    out = out.withColumn("_act", F.from_json(F.col("_bl"), action_s))
    out = out.withColumn(
        "_kind",
        F.coalesce(*[F.when(F.col(f"_act.{k}").isNotNull(), F.lit(k)) for k in kinds]),
    )
    out = out.withColumn(
        "_actmeta", F.coalesce(*[F.col(f"_act.{k}") for k in kinds])
    )
    w = W.partitionBy("_brow").orderBy("line_seq")
    out = out.withColumn("bulk_action", F.last("_kind", ignorenulls=True).over(w))
    out = out.withColumn(
        "_m",
        F.last(F.when(F.col("_kind").isNotNull(), F.col("_actmeta")), ignorenulls=True).over(w),
    )
    is_action = F.col("_kind").isNotNull()
    events = out.filter(~is_action | (F.col("_kind") == "delete"))
    events = events.withColumn(
        "_doc",
        F.when(F.col("_kind").isNull(), F.from_json(F.col("_bl"), schema)),
    )
    return events.select(
        *[c for c in df.columns if c != source],
        "bulk_action",
        F.col("_m._index").alias("bulk_index"),
        F.col("_m._id").alias("bulk_id"),
        F.col("_doc.*"),
    )


def encode_es_bulk(
    df: DataFrame,
    *,
    index: str,
    id_field: str | None = None,
    fields: list[str] | None = None,
    target: str = "bulk",
    action: str = "index",
) -> DataFrame:
    """es_bulk encode: '{"index":{"_index":...,"_id":...}}\\n{doc}' per
    event — the wire format an Elasticsearch bulk sink ships. ``index`` may
    be a sprintf template (the reference's index naming, e.g.
    'logstash-%{+yyyy.MM.dd}')."""
    from logstash_spark.event import is_template, sprintf_col
    from logstash_spark.sinks import strip_internal

    clean = strip_internal(df)
    cols = fields or clean.columns
    idx_col = sprintf_col(index, df) if is_template(index) else F.lit(index)
    meta_fields = [idx_col.alias("_index")]
    if id_field:
        meta_fields.append(F.col(id_field).cast("string").alias("_id"))
    action_line = F.to_json(F.struct(F.struct(*meta_fields).alias(action)))
    doc_line = F.to_json(F.struct(*[F.col(c) for c in cols]))
    return df.withColumn(target, F.concat(action_line, F.lit("\n"), doc_line))


# ---------------------------------------------------------------------------
# edn / edn_lines codecs (default_plugins.rb:10-11) — pure-Python EDN reader
# in mapInPandas (no external library; EDN is a small public grammar)
# ---------------------------------------------------------------------------


class EdnSyntaxError(ValueError):
    pass


def _edn_read(s: str):
    """Parse ONE EDN value from the string (public EDN grammar: nil, bools,
    ints/floats, strings, keywords, symbols, vectors, lists, sets, maps;
    commas are whitespace). Returns (value, rest-index)."""
    i = _edn_ws(s, 0)
    v, i = _edn_value(s, i)
    return v


def _edn_ws(s: str, i: int) -> int:
    while i < len(s):
        c = s[i]
        if c in " \t\n\r,":
            i += 1
        elif c == ";":  # line comment
            while i < len(s) and s[i] != "\n":
                i += 1
        else:
            break
    return i


_EDN_DELIMS = ' \t\n\r,()[]{}";'


def _edn_value(s: str, i: int):
    if i >= len(s):
        raise EdnSyntaxError("unexpected end of EDN input")
    c = s[i]
    if c == "{":
        return _edn_map(s, i + 1)
    if c == "[":
        return _edn_seq(s, i + 1, "]")
    if c == "(":
        return _edn_seq(s, i + 1, ")")
    if c == "#":
        if s.startswith("#{", i):
            v, j = _edn_seq(s, i + 2, "}")
            return set(map(_hashable, v)), j
        # tagged literal: read and discard the tag, return the value
        j = i + 1
        while j < len(s) and s[j] not in _EDN_DELIMS:
            j += 1
        return _edn_value(s, _edn_ws(s, j))
    if c == '"':
        return _edn_string(s, i + 1)
    if c == ":":
        j = i + 1
        while j < len(s) and s[j] not in _EDN_DELIMS:
            j += 1
        return s[i + 1 : j], j  # keyword -> bare name
    # number / symbol / nil / bool
    j = i
    while j < len(s) and s[j] not in _EDN_DELIMS:
        j += 1
    tok = s[i:j]
    if tok == "nil":
        return None, j
    if tok == "true":
        return True, j
    if tok == "false":
        return False, j
    try:
        if any(ch in tok for ch in ".eE") and not tok.lstrip("+-").startswith("."):
            return float(tok), j
        return int(tok), j
    except ValueError:
        return tok, j  # symbol kept as its name


def _edn_string(s: str, i: int):
    out = []
    while i < len(s):
        c = s[i]
        if c == "\\":
            nxt = s[i + 1] if i + 1 < len(s) else ""
            out.append({"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\"}.get(nxt, nxt))
            i += 2
        elif c == '"':
            return "".join(out), i + 1
        else:
            out.append(c)
            i += 1
    raise EdnSyntaxError("unterminated EDN string")


def _edn_seq(s: str, i: int, close: str):
    out = []
    while True:
        i = _edn_ws(s, i)
        if i >= len(s):
            raise EdnSyntaxError(f"unterminated EDN collection (wanted {close!r})")
        if s[i] == close:
            return out, i + 1
        v, i = _edn_value(s, i)
        out.append(v)


def _edn_map(s: str, i: int):
    out = {}
    while True:
        i = _edn_ws(s, i)
        if i >= len(s):
            raise EdnSyntaxError("unterminated EDN map")
        if s[i] == "}":
            return out, i + 1
        k, i = _edn_value(s, i)
        i = _edn_ws(s, i)
        v, i = _edn_value(s, i)
        out[_hashable(k)] = v


def _hashable(v):
    return tuple(v) if isinstance(v, (list, dict, set)) else v


def decode_edn(df: DataFrame, source: str, schema: str) -> DataFrame:
    """edn codec: one EDN map per row -> typed event columns (keyword keys
    become column names). Arrow-batched mapInPandas; unparseable rows
    yield all-null columns plus the reference's _edndecodefailure-style
    signal via a null row (fixed schema cannot carry a tags column here —
    pair with json-style failure tagging upstream if needed)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T._parse_datatype_string(schema)  # type: ignore[attr-defined]
    names = [f_.name for f_ in out_schema.fields]
    # event pass-through: decoded fields append to the event (collisions
    # resolve to the decoded value), mirroring json_parse's behavior
    keep = [f_ for f_ in df.schema.fields if f_.name not in names]
    keep_names = [f_.name for f_ in keep]
    full_schema = T.StructType(keep + list(out_schema.fields))

    def batches(it):
        for pdf in it:
            rows = []
            for raw in pdf[source]:
                try:
                    v = _edn_read(raw) if raw is not None else None
                    if not isinstance(v, dict):
                        v = None
                except EdnSyntaxError:
                    v = None
                rows.append([None] * len(names) if v is None else [v.get(n) for n in names])
            yield pd.concat(
                [
                    pdf[keep_names].reset_index(drop=True),
                    pd.DataFrame(rows, columns=names),
                ],
                axis=1,
            )

    return df.mapInPandas(batches, full_schema)


def decode_edn_lines(df: DataFrame, source: str, schema: str, *, delimiter: str = "\n") -> DataFrame:
    """edn_lines codec: newline-delimited EDN maps -> one event per line."""
    out = lines(df, source, delimiter=delimiter, target="_el")
    out = decode_edn(out, "_el", schema)
    return out


# ---------------------------------------------------------------------------
# GELF (Graylog Extended Log Format) — input gelf + output gelf
# (default_plugins.rb:56,100). Wire contract (public Graylog GELF 1.1 spec,
# the gelf/gelfd gems the reference plugins wrap): a JSON payload, optionally
# zlib- or gzip-compressed; datagrams above the MTU are CHUNKED:
# magic 0x1e 0x0f + 8-byte message id + seq byte + total byte + part bytes
# (max 128 chunks). The input strips the leading '_' off additional fields
# and maps short_message -> message.
# ---------------------------------------------------------------------------

GELF_MAGIC = b"\x1e\x0f"
GELF_FIELDS = ("version string, host string, short_message string, "
               "full_message string, timestamp double, level int, "
               "facility string")


def decode_gelf(df: DataFrame, source: str = "bytes") -> DataFrame:
    """gelf input decode over a binary datagram column.

    Scale design: chunk REASSEMBLY IS RELATIONAL — one groupBy on the
    8-byte message id. The gelfd gem reassembles per-socket in arrival
    order; in a batch capture the chunks of one message land in different
    files/partitions, so arrival-order state does not exist — the shuffle
    is the correct primitive (and whole datagrams, the overwhelming
    majority at scale, take the group-of-1 fast path through the same
    plan). Decompress (zlib/gzip/plain sniffed from magic bytes) is ONE
    Arrow-batched pass; JSON field extraction stays JVM (`from_json`).
    Incomplete chunk groups are dropped (gelfd discards on timeout).
    """
    import pandas as pd

    src = F.col(source)
    is_chunk = (F.length(src) > 12) & (F.substring(src, 1, 2) == F.lit(GELF_MAGIC))
    classified = df.where(src.isNotNull() & (F.length(src) > 0)).select(
        F.when(is_chunk, F.hex(F.substring(src, 3, 8)))
         .otherwise(F.concat(F.lit("w"), F.monotonically_increasing_id().cast("string")))
         .alias("_gelf_mid"),
        F.when(is_chunk, F.conv(F.hex(F.substring(src, 11, 1)), 16, 10).cast("int"))
         .otherwise(F.lit(0)).alias("_gelf_seq"),
        F.when(is_chunk, F.conv(F.hex(F.substring(src, 12, 1)), 16, 10).cast("int"))
         .otherwise(F.lit(1)).alias("_gelf_total"),
        F.when(is_chunk, F.expr(f"substring({source}, 13, length({source}))"))
         .otherwise(src).alias("_gelf_part"),
    )
    assembled = (
        classified.groupBy("_gelf_mid")
        .agg(
            F.array_sort(F.collect_list(F.struct("_gelf_seq", "_gelf_part"))).alias("_p"),
            F.max("_gelf_total").alias("_t"),
            F.count(F.lit(1)).alias("_n"),
        )
        .where(F.col("_n") == F.col("_t"))
        .select(
            F.aggregate(
                "_p",
                F.lit(b""),
                lambda acc, x: F.concat(acc, x["_gelf_part"]),
            ).alias("_gelf_payload")
        )
    )

    def inflate(it):
        import gzip as _gzip
        import zlib as _zlib

        for pdf in it:
            out = []
            for raw in pdf["_gelf_payload"]:
                if raw is None:
                    continue
                buf = bytes(raw)
                try:
                    if buf[:1] == b"\x78":
                        buf = _zlib.decompress(buf)
                    elif buf[:2] == b"\x1f\x8b":
                        buf = _gzip.decompress(buf)
                    out.append(buf.decode("utf-8"))
                except Exception:
                    continue  # corrupt datagram: the input logs + skips
            yield pd.DataFrame({"_gelf_json": out})

    js = assembled.mapInPandas(inflate, "_gelf_json string")
    typed = F.from_json(F.col("_gelf_json"), GELF_FIELDS)
    extras = F.map_filter(
        F.from_json(F.col("_gelf_json"), "map<string,string>"),
        lambda k, _v: k.startswith("_"),
    )
    return js.select(
        typed.alias("_t"),
        F.transform_keys(extras, lambda k, _v: F.substring(k, 2, 2147483647)).alias("extra"),
    ).where(
        # short_message is MANDATORY in the GELF spec; non-JSON payloads
        # (from_json PERMISSIVE -> all-null struct) and JSON without it are
        # skipped — the input gem's behavior on undecodable datagrams
        F.col("_t.short_message").isNotNull()
    ).select(
        F.col("_t.host").alias("host"),
        # input gelf remaps short_message -> message (strict mode would
        # also accept 'message'; short_message is what the output writes)
        F.col("_t.short_message").alias("message"),
        F.col("_t.full_message").alias("full_message"),
        F.timestamp_seconds(F.col("_t.timestamp")).alias("@timestamp"),
        F.col("_t.level").alias("level"),
        F.col("_t.facility").alias("facility"),
        "extra",
    )


def gelf_json(df: DataFrame, *, host_field: str = "host",
              message_field: str = "message", level: int = 6,
              full_message_field: str | None = None,
              custom_fields: tuple = ()) -> "F.Column":
    """The GELF 1.1 JSON payload as a Column (shared by GelfSink and
    encode_gelf). ``custom_fields`` are (gelf_name, column) pairs emitted
    with the additional-field '_' prefix."""
    cols = set(df.columns)
    fields = [
        F.lit("1.1").alias("version"),
        (F.col(host_field).cast("string") if host_field in cols
         else F.lit("unknown")).alias("host"),
        F.col(message_field).cast("string").alias("short_message"),
        (F.unix_timestamp(F.col("@timestamp")).cast("double")
         if "@timestamp" in cols else F.lit(None).cast("double")).alias("timestamp"),
        F.lit(level).alias("level"),
    ]
    if full_message_field and full_message_field in cols:
        fields.append(F.col(full_message_field).cast("string").alias("full_message"))
    for name, col in custom_fields:
        fields.append(F.col(col).cast("string").alias(f"_{name}"))
    return F.to_json(F.struct(*fields), {"ignoreNullFields": "true"})


def encode_gelf(
    df: DataFrame,
    *,
    host_field: str = "host",
    message_field: str = "message",
    level: int = 6,
    custom_fields: tuple = (),
    compress: str = "zlib",
    chunk_size: int = 8192,
    target: str = "datagram",
) -> DataFrame:
    """gelf output encode: one or more wire datagrams (binary) per event.

    The JSON payload builds JVM-side (to_json); ONE Arrow pass compresses
    (zlib, the output plugin's default) and chunks payloads above
    ``chunk_size`` into magic+id+seq+total framed datagrams. The 8-byte
    message id is xxhash64(payload, row-id) — the real plugin draws a
    random id; salting the hash with monotonically_increasing_id keeps ids
    unique across identical events (two equal payloads must NOT merge at
    the decoder) without an RNG, and is computed JVM-side so the Python
    pass stays a pure byte transform. Map-only: no shuffle, linear at any
    scale.
    """
    import pandas as pd

    payload = gelf_json(df, host_field=host_field, message_field=message_field,
                        level=level, custom_fields=custom_fields)
    staged = df.select(payload.alias("_gelf_json"),
                       F.xxhash64(payload, F.monotonically_increasing_id()).alias("_gelf_mid"))

    def deflate(it):
        import struct as _struct
        import zlib as _zlib

        for pdf in it:
            out = []
            for js, mid in zip(pdf["_gelf_json"], pdf["_gelf_mid"]):
                if js is None:
                    continue
                buf = js.encode("utf-8")
                if compress == "zlib":
                    buf = _zlib.compress(buf)
                elif compress == "gzip":
                    import gzip as _gzip

                    buf = _gzip.compress(buf, mtime=0)
                if len(buf) <= chunk_size:
                    out.append(buf)
                    continue
                parts = [buf[i:i + chunk_size] for i in range(0, len(buf), chunk_size)]
                if len(parts) > 128:  # spec cap: the output drops the event
                    continue
                mid_b = _struct.pack(">q", int(mid))
                for i, p in enumerate(parts):
                    out.append(GELF_MAGIC + mid_b + bytes([i, len(parts)]) + p)
            yield pd.DataFrame({target: out})

    return staged.mapInPandas(deflate, f"{target} binary")


# ---------------------------------------------------------------------------
# lumberjack protocol (input lumberjack / output lumberjack,
# default_plugins.rb:61,92) — the logstash-forwarder wire format (public
# PROTOCOL.md of elastic/logstash-forwarder, the ruby-lumberjack gem the
# plugins wrap). Version-1 frames over one stream:
#   '1W' u32 window-size
#   '1D' u32 seq, u32 n-pairs, then n x (u32 klen, key, u32 vlen, value)
#   '1C' u32 payload-len, zlib payload of concatenated '1D' frames
#   '1A' u32 seq (ack; server->client, absent from a client capture)
# ---------------------------------------------------------------------------


def decode_lumberjack(df: DataFrame, source: str = "stream") -> DataFrame:
    """lumberjack input decode: captured client stream blobs (binary
    column) -> one event per data frame: (lj_seq long, fields
    map<string,string>). Nested compressed frames inflate recursively;
    truncated/garbage trailing bytes drop the remainder of that blob (the
    gem closes the connection on protocol errors). Map-only Arrow pass —
    each stream blob is self-contained, so no shuffle, linear at scale."""
    import pandas as pd

    def parse(it):
        import struct as _struct
        import zlib as _zlib

        def frames(buf: bytes, out: list) -> None:
            pos = 0
            while pos + 2 <= len(buf):
                ver, typ = buf[pos:pos + 1], buf[pos + 1:pos + 2]
                pos += 2
                if ver != b"1":
                    return  # protocol error: drop remainder
                if typ == b"W" or typ == b"A":
                    if pos + 4 > len(buf):
                        return
                    pos += 4
                elif typ == b"C":
                    if pos + 4 > len(buf):
                        return
                    (plen,) = _struct.unpack_from(">I", buf, pos)
                    pos += 4
                    if pos + plen > len(buf):
                        return
                    try:
                        inner = _zlib.decompress(buf[pos:pos + plen])
                    except _zlib.error:
                        return
                    frames(inner, out)
                    pos += plen
                elif typ == b"D":
                    if pos + 8 > len(buf):
                        return
                    seq, npairs = _struct.unpack_from(">II", buf, pos)
                    pos += 8
                    kv = {}
                    ok = True
                    for _ in range(npairs):
                        if pos + 4 > len(buf):
                            ok = False
                            break
                        (klen,) = _struct.unpack_from(">I", buf, pos)
                        pos += 4
                        key = buf[pos:pos + klen]
                        pos += klen
                        if pos + 4 > len(buf) or len(key) != klen:
                            ok = False
                            break
                        (vlen,) = _struct.unpack_from(">I", buf, pos)
                        pos += 4
                        val = buf[pos:pos + vlen]
                        pos += vlen
                        if len(val) != vlen:
                            ok = False
                            break
                        kv[key.decode("utf-8", "replace")] = val.decode("utf-8", "replace")
                    if not ok:
                        return
                    out.append((seq, kv))
                else:
                    return  # unknown frame type

        for pdf in it:
            rows: list = []
            for raw in pdf[source]:
                if raw is None:
                    continue
                frames(bytes(raw), rows)
            yield pd.DataFrame(rows, columns=["lj_seq", "fields"])

    return df.mapInPandas(parse, "lj_seq long, fields map<string,string>")


def encode_lumberjack(records: list[dict], *, compress: bool = True,
                      start_seq: int = 1) -> bytes:
    """Build one lumberjack client stream from field dicts — window frame
    + (optionally zlib-compressed) data frames, the bytes a forwarder
    sends. Plain function (like encode_ganglia/encode_nsca):
    callers batch events per stream with groupBy().applyInPandas."""
    import struct as _struct
    import zlib as _zlib

    body = b""
    for i, rec in enumerate(records):
        pairs = b""
        for k, v in rec.items():
            kb, vb = str(k).encode("utf-8"), str(v).encode("utf-8")
            pairs += _struct.pack(">I", len(kb)) + kb + _struct.pack(">I", len(vb)) + vb
        body += b"1D" + _struct.pack(">II", start_seq + i, len(rec)) + pairs
    out = b"1W" + _struct.pack(">I", len(records))
    if compress:
        z = _zlib.compress(body)
        return out + b"1C" + _struct.pack(">I", len(z)) + z
    return out + body
