"""yaml filter: parse a YAML string field into event fields.

Reference plugin surface: ``logstash-filter-yaml`` is in the shipped
manifest (rakelib/default_plugins.rb CORE list, the last filter this
engine lacked) with the same contract shape as the json filter —
``source`` (required), ``target`` (optional), failure tags the event
``_yamlparsefailure``.

Spark-first design (mirrors the vendored EDN reader at
operators/codecs.py:805-): no yaml package ships in this runtime, so a
small line-oriented block-YAML reader (public YAML 1.1 subset: block
maps by indentation, block sequences, quoted/plain scalars with the
core-schema type inference, flow lists/maps, comments) converts each
document to canonical JSON inside an Arrow-batched pandas UDF — ONE
Python pass per document, then the typed parse is `from_json` (JVM,
codegen) exactly like the json filter. At 100 TB the Python conversion
is the cost ceiling; the subset reader is regex-free and single-scan
per document (O(bytes)).

Unsupported constructs (anchors/aliases, tags, multi-doc streams beyond
one leading ``---``, block scalars ``|``/``>``) raise — the document
fails closed into the failure tag, never silently misparses.
"""

from __future__ import annotations

import json as _json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class YamlSyntaxError(ValueError):
    pass


_TRUE = {"true", "True", "TRUE"}
_FALSE = {"false", "False", "FALSE"}
_NULL = {"", "~", "null", "Null", "NULL"}


def _is_int(s: str) -> bool:
    t = s[1:] if s[:1] in "+-" else s
    return t.isdigit() and t != ""


def _is_float(s: str) -> bool:
    t = s[1:] if s[:1] in "+-" else s
    if not t:
        return False
    mant, _, ex = t.partition("e") if "e" in t else t.partition("E")
    if ex:
        if ex[:1] in "+-":
            ex = ex[1:]
        if not ex.isdigit():
            return False
    if "." in mant:
        a, _, b = mant.partition(".")
        return (a.isdigit() or a == "") and (b.isdigit() or b == "") and (a or b) != ""
    return mant.isdigit() and bool(ex)


def _scalar(tok: str):
    """Core-schema scalar resolution (the subset PyYAML's safe_load applies)."""
    tok = tok.strip()
    if tok in _NULL:
        return None
    if tok in _TRUE:
        return True
    if tok in _FALSE:
        return False
    if tok[:1] in "\"'":
        return _quoted(tok)[0]
    if _is_int(tok):
        return int(tok)
    if _is_float(tok):
        return float(tok)
    if tok[:1] in "[{":
        return _flow(tok)
    if tok[:1] in "&*!|>":
        raise YamlSyntaxError(f"unsupported YAML construct: {tok[:20]!r}")
    return tok


def _quoted(s: str) -> tuple[str, int]:
    """Parse a leading quoted scalar; return (value, chars consumed)."""
    qc = s[0]
    out = []
    i = 1
    while i < len(s):
        c = s[i]
        if qc == "'" and c == "'":
            if i + 1 < len(s) and s[i + 1] == "'":  # '' escape
                out.append("'")
                i += 2
                continue
            return "".join(out), i + 1
        if qc == '"' and c == "\\" and i + 1 < len(s):
            esc = s[i + 1]
            out.append({"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\"}.get(esc, esc))
            i += 2
            continue
        if qc == '"' and c == '"':
            return "".join(out), i + 1
        out.append(c)
        i += 1
    raise YamlSyntaxError("unterminated quoted scalar")


def _flow(s: str):
    """Inline flow collection: [a, b] / {k: v} — single-level of the flow
    grammar, nested flow nodes recurse."""
    val, i = _flow_node(s, 0)
    if s[i:].strip():
        raise YamlSyntaxError(f"trailing content after flow collection: {s[i:]!r}")
    return val


def _flow_node(s: str, i: int):
    while i < len(s) and s[i] in " \t":
        i += 1
    if i >= len(s):
        raise YamlSyntaxError("unexpected end of flow node")
    c = s[i]
    if c == "[":
        out = []
        i += 1
        while True:
            while i < len(s) and s[i] in " \t,":
                i += 1
            if i >= len(s):
                raise YamlSyntaxError("unterminated flow sequence")
            if s[i] == "]":
                return out, i + 1
            v, i = _flow_node(s, i)
            out.append(v)
    if c == "{":
        out = {}
        i += 1
        while True:
            while i < len(s) and s[i] in " \t,":
                i += 1
            if i >= len(s):
                raise YamlSyntaxError("unterminated flow mapping")
            if s[i] == "}":
                return out, i + 1
            k, i = _flow_node(s, i)
            while i < len(s) and s[i] in " \t":
                i += 1
            if i >= len(s) or s[i] != ":":
                raise YamlSyntaxError("flow mapping missing ':'")
            v, i = _flow_node(s, i + 1)
            out[str(k)] = v
    if c in "\"'":
        v, n = _quoted(s[i:])
        return v, i + n
    j = i
    depth = 0
    while j < len(s) and not (depth == 0 and s[j] in ",]}:"):
        if s[j] in "[{":
            depth += 1
        elif s[j] in "]}":
            depth -= 1
        j += 1
    return _scalar(s[i:j]), j


def _strip_comment(line: str) -> str:
    """Cut a trailing ` #` comment outside quotes."""
    in_q: str | None = None
    i = 0
    while i < len(line):
        c = line[i]
        if in_q:
            if in_q == "'" and c == "'":
                in_q = None
            elif in_q == '"' and c == "\\":
                i += 1
            elif in_q == '"' and c == '"':
                in_q = None
        elif c in "\"'":
            in_q = c
        elif c == "#" and (i == 0 or line[i - 1] in " \t"):
            return line[:i]
        i += 1
    return line


def _split_key(content: str) -> tuple[str, str] | None:
    """Split `key: rest` at the first ':' that ends the key (outside quotes,
    followed by space/EOL). Returns None when the line is not a map entry."""
    if content[:1] in "\"'":
        k, n = _quoted(content)
        rest = content[n:].lstrip()
        if rest[:1] != ":":
            return None
        return k, rest[1:].strip()
    i = 0
    while i < len(content):
        if content[i] == ":" and (i + 1 >= len(content) or content[i + 1] in " \t"):
            return content[:i].strip(), content[i + 1 :].strip()
        i += 1
    return None


def yaml_to_obj(text: str):
    """Parse one block-YAML document (subset, see module docstring)."""
    lines: list[tuple[int, str]] = []
    for raw in text.splitlines():
        if "\t" in raw[: len(raw) - len(raw.lstrip())]:
            raise YamlSyntaxError("tab indentation is not valid YAML")
        ln = _strip_comment(raw).rstrip()
        if not ln.strip():
            continue
        if ln.strip() in ("---", "..."):
            if lines:
                raise YamlSyntaxError("multi-document YAML streams unsupported")
            continue
        if ln.lstrip()[:1] == "%":
            raise YamlSyntaxError("YAML directives unsupported")
        lines.append((len(ln) - len(ln.lstrip()), ln.strip()))
    if not lines:
        return None
    val, nxt = _block(lines, 0, lines[0][0])
    if nxt != len(lines):
        raise YamlSyntaxError(f"unexpected dedent/content at line {nxt}")
    return val


def _block(lines: list[tuple[int, str]], i: int, indent: int):
    ind, content = lines[i]
    if content.startswith("- ") or content == "-":
        return _block_seq(lines, i, indent)
    if _split_key(content) is not None:
        return _block_map(lines, i, indent)
    # single scalar document
    return _scalar(content), i + 1


def _block_seq(lines, i, indent):
    out = []
    while i < len(lines):
        ind, content = lines[i]
        if ind < indent:
            break
        if ind > indent or not (content.startswith("- ") or content == "-"):
            raise YamlSyntaxError(f"bad sequence item at line {i}: {content!r}")
        rest = content[2:].strip() if content != "-" else ""
        if rest.startswith("- ") or rest == "-":
            # nested sequence sharing the dash line — unsupported; fail
            # closed rather than misparse the item as the string '- x'
            raise YamlSyntaxError("nested flow-on-dash sequences unsupported")
        if not rest:
            # nested block under the dash
            if i + 1 < len(lines) and lines[i + 1][0] > indent:
                v, i = _block(lines, i + 1, lines[i + 1][0])
                out.append(v)
                continue
            out.append(None)
            i += 1
            continue
        kv = _split_key(rest)
        if kv is not None:
            # map whose first entry shares the dash line: re-anchor the
            # entry at the dash's content column and parse the map block
            sub = [(indent + 2, rest)] + _take_deeper(lines, i + 1, indent)
            v, used = _block_map(sub, 0, indent + 2)
            if used != len(sub):
                raise YamlSyntaxError("bad inline-map sequence item")
            out.append(v)
            i += 1 + len(sub) - 1
            continue
        out.append(_scalar(rest))
        i += 1
    return out, i


def _take_deeper(lines, i, indent):
    out = []
    while i < len(lines) and lines[i][0] > indent:
        out.append(lines[i])
        i += 1
    return out


def _block_map(lines, i, indent):
    out: dict = {}
    while i < len(lines):
        ind, content = lines[i]
        if ind < indent:
            break
        if ind > indent:
            raise YamlSyntaxError(f"unexpected indent at line {i}: {content!r}")
        kv = _split_key(content)
        if kv is None:
            raise YamlSyntaxError(f"expected 'key: value' at line {i}: {content!r}")
        k, rest = kv
        if rest:
            out[k] = _scalar(rest)
            i += 1
        else:
            if i + 1 < len(lines) and lines[i + 1][0] > indent:
                out[k], i = _block(lines, i + 1, lines[i + 1][0])
            else:
                out[k] = None
                i += 1
    return out, i


def yaml_doc_to_json(text: str | None) -> str | None:
    """One YAML document -> canonical JSON string; None on any parse error
    (fails closed into `_yamlparsefailure`)."""
    if text is None:
        return None
    try:
        obj = yaml_to_obj(text)
    except (YamlSyntaxError, RecursionError):
        return None
    if not isinstance(obj, (dict, list)):
        # the plugin requires a mapping result to merge into the event
        return None
    return _json.dumps(obj, ensure_ascii=False)


def yaml_parse(
    df: DataFrame,
    source: str,
    schema: T.StructType | str = "auto",
    target: str | None = None,
) -> DataFrame:
    """`yaml` filter. YAML -> JSON in one Arrow-batched pandas UDF, then the
    typed parse is pure-JVM `from_json` (same fixed-schema contract as the
    json filter; `schema="auto"` samples ≤100 docs at plan time)."""
    @F.pandas_udf(T.StringType())
    def _to_json(s: pd.Series) -> pd.Series:
        return s.map(yaml_doc_to_json, na_action="ignore")

    jcol = f"__yaml_json_{source.replace('[', '').replace(']', '')}"
    df = df.withColumn(jcol, _to_json(F.col(source).cast("string")))
    from logstash_spark.operators.grok import _append_tag_unless
    from logstash_spark.operators.parse import infer_json_schema

    if schema == "auto":
        schema = infer_json_schema(df, jcol)
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)  # type: ignore[attr-defined]
    schema = T.StructType(list(schema.fields) + [T.StructField("_corrupt", T.StringType(), True)])
    parsed = F.from_json(F.col(jcol), schema, {"columnNameOfCorruptRecord": "_corrupt"})
    tname = target or "_yaml"
    df = df.withColumn(tname, parsed)
    ok = (
        F.col(jcol).isNotNull() & F.col(tname).isNotNull() & F.col(tname)["_corrupt"].isNull()
    ) | F.col(source).isNull()
    df = _append_tag_unless(df, "tags", "_yamlparsefailure", ok)
    df = df.withColumn(tname, F.col(tname).dropFields("_corrupt")).drop(jcol)
    if target is None:
        for f in df.schema[tname].dataType.fieldNames():  # type: ignore[union-attr]
            df = df.withColumn(f, F.col(tname)[f])
        df = df.drop(tname)
    return df

