"""Compile a parsed .conf AST into a Pipeline — the config_ast.rb analog.

The reference compiles the tree to straight-line Ruby closing over plugin
instances (lib/logstash/config/config_ast.rb:85-127); here each plugin node
becomes a Stage (with its enclosing conditional folded into `when`, else
branches as negations of the earlier conditions — config_ast.rb:416-436),
and the output section becomes routed sinks.

Plugin option names follow the public Logstash plugin contracts; the
translation table below maps them onto the engine's operators. Unknown
plugins/options raise ConfCompileError at compile time — the reference's
configtest fail-fast (agent.rb:142-145).
"""

from __future__ import annotations

import os
from typing import Any

from logstash_spark.coerce import CoerceError, coerce_options
from logstash_spark.condparser import parse_condition
from logstash_spark.conditions import And, ColRef, Expr, Not

# branch-snapshot column counter (unique names across one compile)
_BRANCH_SEQ = 0
from logstash_spark.confparser import Config, IfNode, PluginNode, parse_config
from logstash_spark.pipeline import Output, Pipeline, Stage
from logstash_spark.sinks import (
    CloudwatchSink,
    CollectSink,
    CountSink,
    CsvSink,
    EmailSink,
    EsBulkSink,
    GelfSink,
    GraphiteSink,
    JsonLinesSink,
    LumberjackSink,
    HttpSink,
    GangliaSink,
    HipchatSink,
    IrcSink,
    JuggernautSink,
    XmppSink,
    NagiosNscaSink,
    NagiosSink,
    NullSink,
    PagerdutySink,
    PipeSink,
    RabbitmqSink,
    ZeromqSink,
    RedisSink,
    SnsSink,
    SprintfFileSink,
    SqsSink,
    OpentsdbSink,
    ParquetSink,
    TcpSink,
    UdpSink,
)


class ConfCompileError(ValueError):
    pass


def _listify(v: Any) -> list:
    return v if isinstance(v, list) else [v]


_COMMON = {"add_field", "add_tag", "remove_field", "remove_tag", "type", "tags", "exclude_tags", "id", "codec"}

# per-plugin option TYPE declarations (the mixin.rb:333-493 validate table):
# values coerce at compile time, bad values fail fast with the option name
_OPTION_TYPES: dict[str, dict[str, str]] = {
    "drop": {"percentage": "number"},
    "throttle": {"max_count": "number", "period": "number", "key": "string"},
    "elapsed": {"start_tag": "string", "end_tag": "string",
                "unique_id_field": "string", "timeout": "number"},
    "multiline": {"negate": "boolean", "pattern": "string", "max_lines": "number"},
    # grok match: hash form is canonical, but the 1.5 tutorial form is the
    # array pair form `match => ["message", pat]` — the :hash coercion
    # converts it (NOT applicable to date's match, which is [field, fmt...])
    "grok": {"patterns_dir": "array", "tag_on_failure": "array", "break_on_match": "boolean",
             "match": "hash"},
    "metrics": {"flush_interval": "number", "meter": "array"},
    "translate": {"regex": "boolean", "dictionary": "hash", "fallback": "string", "override": "boolean"},
    "clone": {"clones": "array"},
    "csv": {"columns": "array", "separator": "string"},
    "split": {"terminator": "string"},
    "fingerprint": {"key": "password"},
    "anonymize": {"fields": "array", "key": "password"},
    "file": {"path": "path"},
    "s3": {"size_file": "bytes", "time_file": "number"},
    "tcp": {"port": "number"},
    "udp": {"port": "number"},
}


def _decorators(attrs: dict[str, Any]) -> dict[str, Any]:
    from logstash_spark.coerce import CoerceError, coerce

    try:
        # add_field accepts the array pair form too (mixin :hash validator)
        add_field = coerce(attrs.get("add_field", {}), "hash", "add_field")
    except CoerceError as e:
        raise ConfCompileError(str(e)) from None
    return dict(
        add_field=add_field,
        add_tag=_listify(attrs.get("add_tag", [])),
        remove_field=_listify(attrs.get("remove_field", [])),
        remove_tag=_listify(attrs.get("remove_tag", [])),
        type=attrs.get("type"),
        tags=_listify(attrs.get("tags", [])),
        exclude_tags=_listify(attrs.get("exclude_tags", [])),
    )


# Each translator: attrs -> list[(op, params)] (mutate expands to several).
def _check_opts(plugin: str, a: dict, allowed: set, noop: set = frozenset()) -> None:
    """Fail-fast on unknown plugin options (the module-header contract);
    ``noop`` lists REAL plugin options this engine accepts without effect
    because its behavior already matches (documented per call site)."""
    extra = set(a) - allowed - noop - _COMMON
    if extra:
        raise ConfCompileError(f"{plugin}: unsupported options {sorted(extra)}")


def _t_grok(a: dict) -> list[tuple[str, dict]]:
    # noop-accepted: named_captures_only (we only capture named, the
    # default), keep_empty_captures (empties null, the default), singles
    # (legacy no-op upstream too). overwrite is REAL: captures landing on
    # existing fields append into arrays by default (filters/base.rb:
    # 182-196); overwrite => [...] lists the fields that replace instead.
    _check_opts("grok", a, {"match", "pattern", "tag_on_failure", "patterns_dir",
                            "break_on_match", "overwrite"},
                {"named_captures_only", "keep_empty_captures", "singles"})
    match = a.get("match")
    if match is None and "pattern" in a:
        # legacy 1.1-era syntax (docs/tutorials/metrics-from-logs.md:41-44):
        # `pattern => "..."` over the default `message` field
        match = {"message": _listify(a["pattern"])}
    if not isinstance(match, dict) or not match:
        raise ConfCompileError("grok requires match => { field => pattern }")

    def base_params(fieldname: str, patterns: Any) -> dict[str, Any]:
        params: dict[str, Any] = {"source": fieldname, "patterns": _listify(patterns)}
        if "break_on_match" in a:
            params["break_on_match"] = a["break_on_match"]
        if "overwrite" in a:
            params["overwrite"] = _listify(a["overwrite"])
        if "patterns_dir" in a:
            params["extra_patterns"] = _load_patterns_dirs(_listify(a["patterns_dir"]))
        return params

    if len(match) == 1:
        ((fieldname, patterns),) = match.items()
        params = base_params(fieldname, patterns)
        if "tag_on_failure" in a:
            params["tag_on_failure"] = _listify(a["tag_on_failure"])
        return [("grok", params)]

    # MULTI-FIELD match is ONE filter instance in the reference: the match
    # entries share a single filter_matched — break_on_match (default true)
    # stops after the first matching entry, and the failure tag appends
    # only when NO entry matched. Compiling each field independently
    # tagged _grokparsefailure whenever ANY field missed, misrouting
    # successfully parsed events.
    break_on = a.get("break_on_match", True)
    fail_tags = _listify(a.get("tag_on_failure", ["_grokparsefailure"]))
    from logstash_spark.conditions import ColRef as _CR
    from logstash_spark.conditions import Not as _Not
    from logstash_spark.conditions import Or as _Or

    pieces: list = []
    accs: list[str] = []
    any_expr = None
    for i, (fieldname, patterns) in enumerate(match.items()):
        col = f"_gmf{i}"
        params = base_params(fieldname, patterns)
        params["tag_on_failure"] = []  # the COMPOSITE tags, not each field
        params["matched_col"] = col
        extra = _Not(any_expr) if (break_on and any_expr is not None) else None
        pieces.append(("grok", params, extra))
        accs.append(col)
        any_expr = _CR(col) if any_expr is None else _Or(any_expr, _CR(col))
    pieces.append(("tags.append", {"values": fail_tags}, _Not(any_expr)))
    # last piece carries the plugin's decorators (compiler contract) —
    # gated on ANY-field-matched = the reference's filter_matched; it also
    # drops the per-field flag carriers
    pieces.append(("branch.exit", {"names": accs}, any_expr))
    return pieces


def _load_patterns_dirs(dirs: list[str]) -> dict[str, str]:
    """Grok pattern files: `NAME regex` lines (the reference's patterns/)."""
    lib: dict[str, str] = {}
    for d in dirs:
        names = [os.path.join(d, f) for f in sorted(os.listdir(d))] if os.path.isdir(d) else [d]
        for path in names:
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if not line or line.startswith("#"):
                        continue
                    name, _, rx = line.partition(" ")
                    if name and rx:
                        lib[name] = rx.strip()
    return lib


def _t_date(a: dict) -> list[tuple[str, dict]]:
    _check_opts("date", a, {"match", "target", "timezone"}, {"locale"})
    match = _listify(a.get("match", []))
    if len(match) < 2:
        raise ConfCompileError("date requires match => [field, fmt, ...]")
    params = {"source": match[0], "formats": match[1:]}
    if "target" in a:
        params["target"] = a["target"]
    if "timezone" in a:
        params["timezone"] = a["timezone"]
    return [("date", params)]


_MUTATE_ORDER = [  # the mutate plugin's documented application order
    "rename", "update", "replace", "convert", "gsub", "uppercase",
    "capitalize", "lowercase", "strip", "split", "join", "merge",
]


def _t_mutate(a: dict) -> list[tuple[str, dict]]:
    out: list[tuple[str, dict]] = []
    for key in _MUTATE_ORDER:
        if key not in a:
            continue
        v = a[key]
        if key == "rename":
            out.append(("mutate.rename", {"mapping": dict(v)}))
        elif key in ("update", "replace"):
            for name, val in dict(v).items():
                out.append((f"mutate.{key}", {"name": name, "value": val}))
        elif key == "convert":
            out.append(("mutate.convert", {"mapping": dict(v)}))
        elif key == "gsub":
            flat = _listify(v)
            if len(flat) % 3:
                raise ConfCompileError("mutate gsub wants flat [field, pattern, replacement] triples")
            out.append(("mutate.gsub", {"triples": [tuple(flat[i:i + 3]) for i in range(0, len(flat), 3)]}))
        elif key in ("uppercase", "lowercase", "capitalize", "strip"):
            out.append((f"mutate.{key}", {"names": _listify(v)}))
        elif key == "split":
            for name, sep in dict(v).items():
                out.append(("mutate.split", {"name": name, "separator": sep}))
        elif key == "join":
            for name, sep in dict(v).items():
                out.append(("mutate.join", {"name": name, "separator": sep}))
        elif key == "merge":
            for dest, src in dict(v).items():
                out.append(("mutate.merge", {"dest": dest, "src": src}))
    unknown = set(a) - set(_MUTATE_ORDER) - _COMMON
    if unknown:
        raise ConfCompileError(f"mutate: unsupported options {sorted(unknown)}")
    return out


def _t_simple(op: str, allowed: dict[str, str], required: tuple[str, ...] = ()):
    def t(a: dict) -> list[tuple[str, dict]]:
        params = {}
        for conf_name, param_name in allowed.items():
            if conf_name in a:
                params[param_name] = a[conf_name]
        for r in required:
            if r not in params:
                raise ConfCompileError(f"{op}: missing required option {r!r}")
        extra = set(a) - set(allowed) - _COMMON
        if extra:
            raise ConfCompileError(f"{op}: unsupported options {sorted(extra)}")
        return [(op, params)]

    return t


def _t_json(a: dict) -> list[tuple[str, dict]]:
    _check_opts("json", a, {"source", "schema", "target"})
    if "source" not in a:
        raise ConfCompileError("json: missing source")
    if "schema" not in a:
        raise ConfCompileError(
            "json: this engine needs `schema => \"a bigint, b string\"` "
            "(fixed-schema model; see SURVEY §1.2) or `schema => \"auto\"` "
            "(plan-time inference from a bounded sample)"
        )
    params = {"source": a["source"], "schema": a["schema"]}
    if "target" in a:
        params["target"] = a["target"]
    return [("json", params)]


def _t_yaml(a: dict) -> list[tuple[str, dict]]:
    """yaml filter (logstash-filter-yaml, the manifest's last structured
    parser): same fixed-schema contract as json."""
    _check_opts("yaml", a, {"source", "schema", "target"})
    if "source" not in a:
        raise ConfCompileError("yaml: missing source")
    if "schema" not in a:
        raise ConfCompileError(
            "yaml: this engine needs `schema => \"a bigint, b string\"` "
            "(fixed-schema model, same contract as the json filter) or "
            "`schema => \"auto\"` (plan-time inference from a bounded sample)"
        )
    params = {"source": a["source"], "schema": a["schema"]}
    if "target" in a:
        params["target"] = a["target"]
    return [("yaml", params)]


def _t_kv(a: dict) -> list[tuple[str, dict]]:
    _check_opts("kv", a, {"source", "field_split", "value_split", "target", "include_keys",
                          "trim_key", "trim_value", "prefix"})
    params: dict[str, Any] = {"source": a.get("source", "message")}
    if "field_split" in a:
        params["field_split"] = a["field_split"]
    if "value_split" in a:
        params["value_split"] = a["value_split"]
    if "target" in a:
        params["target"] = a["target"]
    if "include_keys" in a:
        params["include_keys"] = _listify(a["include_keys"])
    for opt in ("trim_key", "trim_value", "prefix"):
        if opt in a:
            params[opt] = a[opt]
    return [("kv", params)]


def _t_drop(a: dict) -> list[tuple[str, dict]]:
    params = {}
    if "percentage" in a:
        params["percentage"] = a["percentage"]
    return [("drop", params)]


def _t_fingerprint(a: dict) -> list[tuple[str, dict]]:
    _check_opts("fingerprint", a,
                {"source", "target", "method", "key", "base64encode", "concatenate_sources"})
    params: dict[str, Any] = {"sources": _listify(a.get("source", ["message"]))}
    if "target" in a:
        params["target"] = a["target"]
    if "method" in a:
        params["method"] = str(a["method"]).upper().replace("SHA-", "SHA")
    if "key" in a:
        params["key"] = a["key"]
    if str(a.get("base64encode", "")).lower() in ("true", "1"):
        params["base64encode"] = True
    if str(a.get("concatenate_sources", "")).lower() in ("true", "1"):
        # plugin semantics: one digest over '|name|value' pairs of ALL sources
        params["include_names"] = True
    return [("fingerprint", params)]


def _load_dictionary_path(path: str) -> dict:
    """translate's ``dictionary_path``: YAML / CSV / JSON lookup file ->
    plain dict at COMPILE time (the plugin loads it once at register and
    broadcasts; here the literal map compiles straight into the plan).
    YAML support is the flat `key: value` subset the plugin documents —
    nested YAML raises (no yaml package in this runtime; the flat form
    covers the documented usage)."""
    import json as _json

    try:
        raw = open(path, encoding="utf-8").read()
    except OSError as e:
        raise ConfCompileError(f"translate: dictionary_path unreadable: {e}") from None
    if path.endswith(".json"):
        d = _json.loads(raw)
        if not isinstance(d, dict):
            raise ConfCompileError("translate: dictionary_path json must be an object")
        return {str(k): str(v) for k, v in d.items()}
    if path.endswith(".csv"):
        import csv as _csv
        import io as _io

        out = {}
        for row in _csv.reader(_io.StringIO(raw)):
            if len(row) >= 2:
                out[row[0]] = row[1]
        return out
    # YAML flat subset: `key: value`, optional quotes, # comments
    out = {}
    for ln in raw.splitlines():
        s = ln.strip()
        if not s or s.startswith("#"):
            continue
        if ":" not in s or s.endswith(":") or s.startswith("-"):
            raise ConfCompileError(
                f"translate: dictionary_path yaml line {ln!r} is not flat "
                "'key: value' (nested YAML unsupported in this runtime)"
            )
        k, v = s.split(":", 1)

        def unq(x: str) -> str:
            x = x.strip()
            if len(x) >= 2 and x[0] == x[-1] and x[0] in "\"'":
                return x[1:-1]
            return x

        out[unq(k)] = unq(v)
    return out


def _t_translate(a: dict) -> list[tuple[str, dict]]:
    _check_opts("translate", a, {"field", "source", "destination", "dictionary", "fallback",
                                 "regex", "override", "dictionary_path"},
                {"exact", "refresh_interval"})
    """translate plugin (community; named in the north star): inline
    ``dictionary => {...}`` or ``dictionary_path => file`` compiles to a
    literal map lookup / rlike cascade — no join. The DataFrame-dimension
    form stays on the library API (enrich.translate)."""
    if "dictionary" not in a and "dictionary_path" in a:
        a = dict(a)
        a["dictionary"] = _load_dictionary_path(str(a.pop("dictionary_path")))
    if "dictionary" not in a or not isinstance(a["dictionary"], dict):
        raise ConfCompileError(
            "translate: needs an inline dictionary => { ... } or "
            "dictionary_path => yaml/csv/json file "
            "(DataFrame dims: use enrich.translate)"
        )
    src = a.get("field") or a.get("source")
    if not src:
        raise ConfCompileError("translate: missing field")
    params: dict[str, Any] = {
        "source": src,
        "target": a.get("destination", "translation"),
        "dictionary": dict(a["dictionary"]),
    }
    if "fallback" in a:
        params["fallback"] = a["fallback"]
    if str(a.get("regex", "")).lower() in ("true", "1"):
        params["regex"] = True
    if str(a.get("override", "")).lower() == "true" or a.get("override") is True:
        # plugin default is override => false (keep existing destination);
        # only an explicit true clobbers
        params["override"] = True
    return [("translate_dict", params)]


def _has_sprintf_token(tmpl: str) -> bool:
    import re as _re

    return bool(_re.search(r"%\{[^}]+\}", str(tmpl)))


def _sprintf_field(tmpl: str) -> str:
    """The field a sprintf template references: '%{verb}' -> 'verb',
    '%{[req][duration]}' -> '[req][duration]' (nested refs stay WHOLE —
    operators resolve them through event.field_col); a template with no
    token returns itself (a bare field name)."""
    import re as _re

    m = _re.search(r"%\{([^}]+)\}", str(tmpl))
    if not m:
        return str(tmpl)
    inner = m.group(1)
    return inner if inner.startswith("[") else inner.strip("[]")


def _t_metrics(a: dict) -> list[tuple[str, dict]]:
    _check_opts("metrics", a, {"meter", "timer", "flush_interval", "timestamp_field"},
                {"rates", "percentiles", "clear_interval", "ignore_older_than"})
    """metrics plugin: ``meter => "prefix.%{field}"`` counts by the embedded
    field per flush window (metrics-from-logs.md)."""
    meter = _listify(a.get("meter", []))
    if not meter:
        raise ConfCompileError("metrics: needs meter => [sprintf key]")
    params: dict[str, Any] = {
        "key": _sprintf_field(meter[0]),
        "ts": a.get("timestamp_field", "@timestamp"),
    }
    if len(meter) > 1:
        # EVERY meter entry counts (the plugin loops @meter) — meter[0]-only
        # silently dropped the other metric families
        params["meters"] = [str(m) for m in meter]
    elif not _has_sprintf_token(meter[0]):
        # bare meter name = count-by-constant (the plugin's literal meter)
        params["key_is_literal"] = True
    else:
        # templated meter: the grouping key is the FULL rendered name
        # ('apache.%{response}' -> 'apache.200'), not the bare field value
        params["key_template"] = meter[0]
    if "flush_interval" in a:
        params["interval"] = f"{int(a['flush_interval'])} seconds"
    if "timer" in a:
        # timer => ["name", "%{duration}"] / { name => "%{duration}" }: the
        # VALUE is a sprintf template naming the timed field
        timer = a["timer"]
        tmpl = list(dict(timer).values())[0] if isinstance(timer, dict) else _listify(timer)[-1]
        params["timer_field"] = _sprintf_field(tmpl)
    return [("metrics", params)]


def _t_xml(a: dict) -> list[tuple[str, dict]]:
    _check_opts("xml", a, {"source", "schema", "xpath", "store_xml", "target"})
    if "source" not in a:
        raise ConfCompileError("xml: missing source")
    store_xml = str(a.get("store_xml", "true")).lower() not in ("false", "0")
    ops: list[tuple[str, dict]] = []
    if "xpath" in a:
        # xpath => { "expr" => "dest", ... } — ElementTree-subset evaluation,
        # arrays per dest field (logstash-filter-xml semantics)
        xp = a["xpath"]
        if not isinstance(xp, dict) or not xp:
            raise ConfCompileError("xml: xpath must be a hash of expr => dest_field")
        ops.append(("xml_xpath", {"source": a["source"], "xpath": dict(xp)}))
        if not store_xml or "schema" not in a:
            # plugin default is store_xml=true, but without a schema the
            # fixed-schema engine has nothing to store — xpath-only form
            return ops
    if "schema" not in a:
        raise ConfCompileError(
            "xml: this engine needs an explicit `schema => \"...\"` "
            "(fixed-schema model, same contract as the json filter) or an "
            "`xpath => {...}` hash"
        )
    if store_xml:
        params: dict[str, Any] = {"source": a["source"], "schema": a["schema"]}
        if "target" in a:
            params["target"] = a["target"]
        ops.append(("xml", params))
    return ops


def _t_throttle(a: dict) -> list[tuple[str, dict]]:
    _check_opts("throttle", a, {"key", "max_count", "period", "timestamp", "timestamp_field"},
                {"before_count", "after_count", "max_age"})
    """throttle plugin: key is a sprintf template (key => "%{host}"),
    period is SECONDS (number), the event-time column defaults to
    @timestamp — every documented config shape must compile to working
    operator params (a naive pass-through broke all three)."""
    if "key" not in a:
        raise ConfCompileError("throttle: missing required option 'key'")
    params: dict[str, Any] = {
        "key": _sprintf_field(a["key"]),
        # timestamp may arrive as a sprintf template (timestamp => "%{ts}")
        # exactly like key — resolve it to the referenced field, else the
        # raw '%{ts}' string hits the plan as an unresolved column
        "ts": _sprintf_field(a.get("timestamp", a.get("timestamp_field", "@timestamp"))),
    }
    if not _has_sprintf_token(str(a["key"])):
        # constant key = ONE global bucket (the plugin sprintf-renders the
        # key per event; a bare string renders to itself) — compiling it as
        # a column reference hit UNRESOLVED_COLUMN at run time
        params["key"] = str(a["key"])
        params["key_is_literal"] = True
    if "max_count" in a:
        params["max_count"] = int(a["max_count"])
    elif "after_count" in a:
        params["max_count"] = int(a["after_count"])
    if "period" in a:
        p = a["period"]
        params["period"] = f"{int(p)} seconds" if isinstance(p, (int, float)) or str(p).isdigit() else str(p)
    return [("throttle", params)]


def _t_multiline(a: dict) -> list[tuple[str, dict]]:
    _check_opts("multiline", a, {"pattern", "what", "negate", "source", "stream_identity",
                                 "order_by", "max_lines"}, {"max_bytes", "periodic_flush"})
    """multiline: source defaults to the plugin's 'message'; an explicit
    order column is required only when the frame has none — the operator
    falls back to ingestion order otherwise."""
    for r in ("pattern", "what"):
        if r not in a:
            raise ConfCompileError(f"multiline: missing required option {r!r}")
    params: dict[str, Any] = {
        "source": a.get("source", "message"),
        "pattern": a["pattern"],
        "what": a["what"],
    }
    if "negate" in a:
        params["negate"] = a["negate"]
    if "stream_identity" in a:
        params["stream_key"] = _sprintf_field(a["stream_identity"])
    if "order_by" in a:
        params["order_by"] = a["order_by"]
    if "max_lines" in a:
        params["max_lines"] = int(a["max_lines"])
    return [("multiline", params)]


def _t_geoip(a: dict) -> list[tuple[str, dict]]:
    _check_opts("geoip", a, {"source", "database", "fields", "target"}, {"lru_cache_size"})
    """geoip plugin: needs `database => path` (csv/parquet range table —
    the live MaxMind .dat reader is a binary-format concern outside the
    engine; export it to CSV once)."""
    if "source" not in a:
        raise ConfCompileError("geoip: missing source")
    if "database" not in a:
        raise ConfCompileError(
            "geoip: needs database => path to a csv/parquet ip-range table "
            "(columns ip_lo, ip_hi + attributes; dotted-quad or int64)"
        )
    params: dict[str, Any] = {"source": a["source"], "database": a["database"]}
    if "fields" in a:
        params["fields"] = _listify(a["fields"])
    if "target" in a:
        params["target"] = a["target"]
    return [("geoip_db", params)]


def _t_dns(a: dict) -> list[tuple[str, dict]]:
    _check_opts("dns", a, {"resolve", "reverse", "database", "action"},
                {"nameserver", "timeout", "max_retries"})
    if "database" not in a:
        raise ConfCompileError(
            "dns: needs database => path to a (host,address) csv/parquet "
            "(no live DNS inside a distributed job — resolve once, ship the dim)"
        )
    src_field = _listify(a.get("resolve") or a.get("reverse") or [])
    if not src_field:
        raise ConfCompileError("dns: needs resolve => [field] (or reverse)")
    params: dict[str, Any] = {"source": src_field[0], "database": a["database"]}
    if "action" in a:
        params["action"] = a["action"]
    return [("dns_db", params)]


def _raise_conf(msg: str):
    raise ConfCompileError(msg)


def _group_flat(vals: list, n: int, what: str) -> list[list]:
    """The 1.x config idiom: a flat list that means groups of ``n``
    (range's [field, min, max, action, field, ...])."""
    if vals and isinstance(vals[0], list):
        return [list(v) for v in vals]
    if len(vals) % n != 0:
        raise ConfCompileError(f"{what}: expected groups of {n}, got {len(vals)} items")
    return [list(vals[i : i + n]) for i in range(0, len(vals), n)]


def _t_prune(a: dict) -> list[tuple[str, dict]]:
    """prune plugin: field-NAME pruning compiles to plan-time column
    selection; value-based pruning (whitelist_values/interpolate) needs
    per-row schemas — rejected by _check_opts with the option name."""
    _check_opts("prune", a, {"whitelist_names", "blacklist_names"}, set())
    params: dict[str, Any] = {}
    if "whitelist_names" in a:
        params["whitelist_names"] = _listify(a["whitelist_names"])
    if "blacklist_names" in a:
        params["blacklist_names"] = _listify(a["blacklist_names"])
    if not params:
        raise ConfCompileError("prune: needs whitelist_names and/or blacklist_names")
    return [("prune", params)]


def _t_alter(a: dict) -> list[tuple[str, dict]]:
    """alter plugin: each option is its own sub-stage (mutate-style)."""
    _check_opts("alter", a, {"condrewrite", "condrewriteother", "coalesce"}, set())
    out: list[tuple[str, dict]] = []
    if "condrewrite" in a:
        out.append(("alter.condrewrite", {"triples": _listify(a["condrewrite"])}))
    if "condrewriteother" in a:
        out.append(("alter.condrewriteother", {"quads": _listify(a["condrewriteother"])}))
    if "coalesce" in a:
        out.append(("alter.coalesce", {"target_and_sources": _listify(a["coalesce"])}))
    if not out:
        raise ConfCompileError("alter: needs condrewrite/condrewriteother/coalesce")
    return out


def _t_elapsed(a: dict) -> list[tuple[str, dict]]:
    """elapsed plugin (logstash-filter-elapsed): start/end tag pairing by
    unique_id_field; timeout expires starts."""
    _check_opts("elapsed", a, {"start_tag", "end_tag", "unique_id_field"},
                {"timeout", "timestamp_field"})
    for req in ("start_tag", "end_tag", "unique_id_field"):
        if req not in a:
            raise ConfCompileError(f"elapsed: missing required option '{req}'")
    params: dict[str, Any] = {
        "start_tag": str(a["start_tag"]),
        "end_tag": str(a["end_tag"]),
        "unique_id_field": _sprintf_field(a["unique_id_field"]),
        "ts": a.get("timestamp_field", "@timestamp"),
    }
    if "timeout" in a:
        params["timeout"] = int(a["timeout"])
    return [("elapsed", params)]


_FILTER_TRANSLATORS = {
    "grok": _t_grok,
    "geoip": _t_geoip,
    "dns": _t_dns,
    "translate": _t_translate,
    "metrics": _t_metrics,
    "xml": _t_xml,
    "date": _t_date,
    "mutate": _t_mutate,
    "json": _t_json,
    "yaml": _t_yaml,
    "kv": _t_kv,
    "drop": _t_drop,
    "fingerprint": _t_fingerprint,
    "csv": _t_simple("csv", {"source": "source", "columns": "columns", "separator": "separator",
                             "quote_char": "quote_char", "target": "target"},
                     required=("source", "columns")),
    "urldecode": lambda a: [("urldecode", {"fields": tuple(_listify(a.get("field", "message")))})],
    "syslog_pri": _t_simple("syslog_pri", {"syslog_pri_field_name": "source", "use_labels": "use_labels"}),
    "useragent": _t_simple("useragent", {"source": "source", "prefix": "target_prefix"}, required=("source",)),
    "clone": lambda a: [("clone", {"clone_types": _listify(a.get("clones", []))})],
    "split": lambda a: [("split", {"source": a.get("field", "message"),
                                   **({"separator": a["terminator"]} if "terminator" in a else {})})],
    "multiline": _t_multiline,
    "checksum": lambda a: [("checksum", {"fields": _listify(a.get("keys", []))})],
    "anonymize": lambda a: [("anonymize", {"fields": _listify(a.get("fields", [])),
                                           **({"method": str(a["algorithm"]).upper()} if "algorithm" in a else {})})],
    "uuid": lambda a: [("uuid", {**({"target": a["target"]} if "target" in a else {})})],
    "sleep": lambda a: [("sleep", {})],
    "throttle": _t_throttle,
    "elapsed": _t_elapsed,
    "prune": _t_prune,
    "alter": _t_alter,
    "range": lambda a: (_check_opts("range", a, {"ranges", "negate"}) or
                        [("range", {"ranges": _group_flat(_listify(a.get("ranges", [])), 4, "range.ranges"),
                                    **({"negate": bool(a["negate"])} if "negate" in a else {})})]),
    "punct": _t_simple("punct", {"source": "source", "target": "target"}),
    "extractnumbers": _t_simple("extractnumbers", {"source": "source"}),
    "json_encode": _t_simple("json_encode", {"source": "source", "target": "target"},
                             required=("source",)),
    # NOTE: the row plugin's add_tag fires through filter_matched (tag only
    # on match); the engine's cidr op owns the match tag (default
    # 'network_match') and the common add_tag decorator keeps its standard
    # per-plugin semantics — custom match tags via the library op.
    "cidr": lambda a: (_check_opts("cidr", a, {"address", "network", "networks"}) or
                       [("cidr", {
        "address": (_sprintf_field(_listify(a["address"])[0]) if "address" in a
                    else _raise_conf("cidr: missing required option 'address'")),
        "networks": _listify(a.get("network", a.get("networks", []))) or
                    _raise_conf("cidr: missing required option 'network'"),
    })]),
    "metricize": lambda a: (_check_opts("metricize", a, {"metrics", "metric_field_name", "value_field_name"}) or
                            [("metricize", {
        "metrics": _listify(a.get("metrics", [])) or _raise_conf("metricize: missing required option 'metrics'"),
        **({"metric_field": a["metric_field_name"]} if "metric_field_name" in a else {}),
        **({"value_field": a["value_field_name"]} if "value_field_name" in a else {}),
    })]),
    "tld": lambda a: (_check_opts("tld", a, {"source", "prefix"}) or
                      [("tld", {**({"source": a["source"]} if "source" in a else {}),
                                **({"prefix": a["prefix"]} if "prefix" in a else {})})]),
    "math": lambda a: (_check_opts("math", a, {"calculate"}) or
                       [("math", {"calculations": _group_flat(_listify(a.get("calculate", [])), 4, "math.calculate")})]),
    "aggregate": lambda a: (_ for _ in ()).throw(ConfCompileError(
        "aggregate: the plugin's `code =>` is arbitrary per-event Ruby and "
        "cannot compile from .conf; the library op 'aggregate' "
        "(operators.aggregate.aggregate_task) covers the documented "
        "accumulator patterns (sum/min/max/count per task, emitted on the "
        "end event); arbitrary code goes through the 'ruby' escape hatch"
    )),
    "ruby": lambda a: (_ for _ in ()).throw(ConfCompileError(
        "ruby: arbitrary per-event code cannot compile from .conf; use the "
        "library API — registry op 'ruby' is the Arrow-batched mapInPandas "
        "escape hatch (fn(iterator_of_pandas) -> iterator_of_pandas, schema)"
    )),
}


def _compile_items(items: list, inherited: Expr | None, stages: list[Stage]) -> None:
    for node in items:
        if isinstance(node, PluginNode):
            if node.name not in _FILTER_TRANSLATORS:
                raise ConfCompileError(
                    f"unsupported filter plugin {node.name!r} "
                    f"(supported: {', '.join(sorted(_FILTER_TRANSLATORS))})"
                )
            deco = _decorators(node.attrs)
            try:
                attrs = coerce_options(node.attrs, _OPTION_TYPES.get(node.name, {}), node.name)
            except CoerceError as e:
                raise ConfCompileError(str(e)) from None
            pieces = _FILTER_TRANSLATORS[node.name](attrs)
            if not pieces:
                # a plugin whose attrs are all decorator options (e.g.
                # `mutate { add_tag => [...] }`) still runs its decorators
                pieces = [("noop", {})]
            # the legacy type/tags/exclude_tags GATING applies to the whole
            # plugin, so every emitted sub-stage must carry it — attaching it
            # only to the last stage would run earlier sub-ops ungated on
            # every event. The add/remove decorators fire once per plugin
            # (on success), so only the last stage carries those.
            gate = {k: deco[k] for k in ("type", "tags", "exclude_tags")}
            post = {k: deco[k] for k in ("add_field", "add_tag", "remove_field", "remove_tag")}
            for i, piece in enumerate(pieces):
                op, params = piece[0], piece[1]
                # optional 3rd element: an EXTRA per-piece condition the
                # translator computed (the multi-field grok composite's
                # break-on-match / shared-failure-tag gating)
                extra = piece[2] if len(piece) > 2 else None
                if extra is None:
                    when = inherited
                elif inherited is None:
                    when = extra
                else:
                    when = And(inherited, extra)
                d = {**gate, **(post if i == len(pieces) - 1 else {})}
                stages.append(Stage(op=op, params=params, when=when, **d))
        elif isinstance(node, IfNode):
            # Branch conditions are SNAPSHOT into boolean columns at branch
            # entry (config_ast.rb:375-436 evaluates them once per event):
            # without the snapshot, a stage that edits a field its own
            # condition reads silently disabled every LATER stage in the
            # same branch (the when Expr recompiled against the mutated
            # frame). The snapshot also fixes else-if: Not(cond_i) must use
            # the value cond_i had at ITS entry, not a re-evaluation.
            negated: Expr | None = None
            snap_cols: list[str] = []
            for cond_src, sub in node.branches:
                this: Expr | None = None
                if cond_src is not None:
                    parsed = parse_condition(cond_src)
                    global _BRANCH_SEQ
                    _BRANCH_SEQ += 1
                    col = f"_br_{_BRANCH_SEQ}"
                    snap_cols.append(col)
                    stages.append(Stage(op="branch.enter", params={"name": col, "cond": parsed}))
                    this = ColRef(col)
                branch_cond: Expr | None
                if this is not None and negated is not None:
                    branch_cond = And(negated, this)
                elif this is not None:
                    branch_cond = this
                else:
                    branch_cond = negated
                eff = branch_cond if inherited is None else (
                    And(inherited, branch_cond) if branch_cond is not None else inherited
                )
                _compile_items(sub, eff, stages)
                if this is not None:
                    negated = Not(this) if negated is None else And(negated, Not(this))
            if snap_cols:
                stages.append(Stage(op="branch.exit", params={"names": snap_cols}))
        else:  # pragma: no cover
            raise ConfCompileError(f"unexpected node {node!r}")


# gating + plumbing options every output accepts (outputs/base.rb config)
_OUTPUT_COMMON = {"type", "tags", "exclude_tags", "codec", "workers"}

# per-plugin allowed option names; a plugin absent here (the parquet
# stand-in buses) skips the check
_OUTPUT_OPTS: dict[str, set] = {
    "file": {"path", "message_format", "flush_interval", "gzip"},
    "stdout": {"debug"},
    "null": set(),
    "statsd": {"increment", "decrement", "count", "timing", "gauge", "set",
               "host", "port", "namespace", "sender", "sample_rate", "debug"},
    "elasticsearch": {"index", "document_id", "host", "port", "cluster",
                      "embedded", "protocol", "flush_size", "idle_flush_time",
                      "template", "template_overwrite", "manage_template",
                      "index_type", "node_name"},
    "elasticsearch_http": {"index", "document_id", "host", "port",
                           "flush_size", "idle_flush_time", "index_type"},
    "graphite": {"metrics", "host", "port", "reconnect_interval",
                 "fields_are_metrics", "include_metrics", "exclude_metrics",
                 "metrics_format"},
    "csv": {"path", "fields", "csv_options", "flush_interval", "gzip"},
    "tcp": {"host", "port", "mode", "message_format"},
    "udp": {"host", "port"},
    "gelf": {"sender", "level", "host", "port", "facility", "full_message",
             "short_message", "ship_metadata", "ship_tags", "custom_fields"},
    "opentsdb": {"metrics", "host", "port"},
    "lumberjack": {"hosts", "port", "ssl_certificate", "flush_size",
                   "idle_flush_time", "window_size"},
    "redis": {"key", "data_type", "host", "port", "db", "password",
              "batch", "batch_events", "batch_timeout"},
    "http": {"url", "http_method", "content_type", "format", "headers",
             "mapping"},
    "nagios": {"commandfile", "host", "service", "nagios_level"},
    "nagios_nsca": {"host", "port", "send_nsca_bin", "send_nsca_config",
                    "nagios_host", "nagios_service", "nagios_status",
                    "message_format"},
    "ganglia": {"host", "port", "metric", "value", "units", "ganglia_type",
                "slope", "lifetime", "max_interval", "group"},
    "irc": {"host", "port", "nick", "user", "real", "password", "channels",
            "format", "secure"},
    "rabbitmq": {"exchange", "exchange_type", "key", "host", "port", "user",
                 "password", "vhost", "durable", "persistent"},
    "zeromq": {"topology", "topic", "address", "mode", "sockopts"},
    "pipe": {"command", "message_format", "ttl"},
    "pagerduty": {"service_key", "description", "incident_key", "event_type",
                  "details"},
    "email": {"to", "from", "subject", "body", "htmlbody", "via", "options",
              "match", "attachments", "contenttype"},
    "cloudwatch": {"namespace", "metricname", "unit", "value", "field_value",
                   "timeframe", "region", "queue_size",
                   "access_key_id", "secret_access_key"},
    "sns": {"arn", "subject", "region", "format",
            "access_key_id", "secret_access_key"},
    "sqs": {"queue", "region", "batch", "batch_events", "batch_timeout",
            "access_key_id", "secret_access_key"},
    "xmpp": {"users", "rooms", "message", "user", "password", "host"},
    "hipchat": {"room_id", "from", "color", "trigger_notify", "format",
                "token"},
    "juggernaut": {"channels", "message_format", "host", "port", "db",
                   "password", "timeout"},
}


def _compile_outputs(items: list, inherited: Expr | None, outputs: list[Output], out_dir: str) -> None:
    for node in items:
        if isinstance(node, IfNode):
            negated: Expr | None = None
            for cond_src, sub in node.branches:
                this = parse_condition(cond_src) if cond_src is not None else None
                if this is not None and negated is not None:
                    branch_cond: Expr | None = And(negated, this)
                elif this is not None:
                    branch_cond = this
                else:
                    branch_cond = negated
                eff = branch_cond if inherited is None else (
                    And(inherited, branch_cond) if branch_cond is not None else inherited
                )
                _compile_outputs(sub, eff, outputs, out_dir)
                if this is not None:
                    negated = Not(this) if negated is None else And(negated, Not(this))
            continue
        assert isinstance(node, PluginNode)
        name = f"{node.name}_{len(outputs)}"
        try:
            node = PluginNode(node.name, coerce_options(node.attrs, _OPTION_TYPES.get(node.name, {}), node.name))
        except CoerceError as e:
            raise ConfCompileError(str(e)) from None
        allowed = _OUTPUT_OPTS.get(node.name)
        if allowed is not None:
            # reference outputs fail registration on unknown settings
            # (mixin.rb validate); silently dropping a typo'd option (or a
            # filter-only decorator — 1.5 outputs have no add_field/add_tag)
            # is run-time misbehavior the compiler must catch
            unknown = set(node.attrs) - allowed - _OUTPUT_COMMON
            if unknown:
                raise ConfCompileError(
                    f"{node.name} output: unsupported options {sorted(unknown)} "
                    f"(allowed: {sorted(allowed | _OUTPUT_COMMON)})"
                )
        deco = _decorators(node.attrs)
        gate = {k: deco[k] for k in ("type", "tags", "exclude_tags")}
        if node.name == "file":
            path = node.attrs.get("path")
            if not path:
                raise ConfCompileError("file output requires path")
            codec = node.attrs.get("codec", "parquet")
            if "%{" in str(path):
                # per-event path template -> partitioned write (one dir per
                # rendered path, the scale-safe form of one-file-per-key)
                sink = SprintfFileSink(
                    os.path.join(out_dir, f"file_{len(outputs)}"),
                    template=str(path),
                )
            else:
                target = os.path.join(out_dir, os.path.basename(str(path)))
                if codec in ("json", "json_lines"):
                    sink = JsonLinesSink(target)
                else:
                    sink = ParquetSink(target, mode="append")
        elif node.name == "stdout":
            # codec => dots: liveness count, no event data to the driver
            sink = NullSink() if node.attrs.get("codec") == "dots" else CollectSink()
        elif node.name == "null":
            sink = NullSink()
        elif node.name == "statsd":
            key = None
            for opt in ("increment", "count", "timing"):
                if opt in node.attrs:
                    key = str(_listify(node.attrs[opt])[0])
                    break
            if key is None:
                raise ConfCompileError("statsd output requires increment/count/timing")
            sink = CountSink(
                key=_statsd_key_field(key),
                literal=not _has_sprintf_token(key),
                template=key if _has_sprintf_token(key) else None,
            )
        elif node.name in ("elasticsearch", "elasticsearch_http"):
            # no live cluster here, but the WIRE format is real: es_bulk
            # action+doc NDJSON text, one POST away from a _bulk endpoint
            sink = EsBulkSink(
                os.path.join(out_dir, f"{node.name}_{len(outputs)}"),
                index=str(node.attrs.get("index", "logstash-%{+yyyy.MM.dd}")),
                id_field=node.attrs.get("document_id"),
            )
        elif node.name == "graphite":
            # real carbon line protocol to text files (one socket write from
            # a live daemon); metrics => { "name.tmpl" => "%{value_field}" }
            m = node.attrs.get("metrics")
            if not isinstance(m, dict) or not m:
                raise ConfCompileError(
                    "graphite output requires metrics => { \"name\" => \"%{field}\" }"
                )
            pairs = [(str(k), _sprintf_field(str(v))) for k, v in dict(m).items()]
            sink = GraphiteSink(
                os.path.join(out_dir, f"graphite_{len(outputs)}"),
                metric=pairs[0][0], value=pairs[0][1],
                metrics=tuple(pairs[1:]),  # EVERY entry of the hash emits
            )
        elif node.name == "csv" and node.attrs.get("fields"):
            sink = CsvSink(
                os.path.join(out_dir, f"csv_{len(outputs)}"),
                fields=tuple(str(f) for f in _listify(node.attrs["fields"])),
                separator=str(node.attrs.get("csv_options", {}).get("col_sep", ","))
                if isinstance(node.attrs.get("csv_options"), dict) else ",",
            )
        elif node.name in ("tcp", "udp"):
            if "port" not in node.attrs:
                raise ConfCompileError(f"{node.name} output requires port")
            codec = node.attrs.get("codec", "json_lines")
            codec = codec.name if isinstance(codec, PluginNode) else str(codec)
            cls = TcpSink if node.name == "tcp" else UdpSink
            sink = cls(
                host=str(node.attrs.get("host", "127.0.0.1")),
                port=int(node.attrs["port"]),
                codec=codec,
            )
        elif node.name == "gelf":
            sink = GelfSink(
                os.path.join(out_dir, f"gelf_{len(outputs)}"),
                host_field=str(node.attrs.get("sender", "host")),
                level=int(node.attrs["level"]) if str(node.attrs.get("level", "")).isdigit() else 6,
            )
        elif node.name == "opentsdb":
            m = node.attrs.get("metrics")
            if not isinstance(m, dict) or not m:
                raise ConfCompileError(
                    "opentsdb output requires metrics => { \"name\" => \"%{field}\" }"
                )
            pairs = [(str(k), _sprintf_field(str(v))) for k, v in dict(m).items()]
            sink = OpentsdbSink(
                os.path.join(out_dir, f"opentsdb_{len(outputs)}"),
                metric=pairs[0][0], value=pairs[0][1],
                metrics=tuple(pairs[1:]),  # EVERY entry of the hash emits
            )
        elif node.name == "lumberjack":
            # hosts/port/ssl_certificate are the live-socket options; the
            # file-backed form writes the same wire bytes as stream blobs
            sink = LumberjackSink(
                os.path.join(out_dir, f"lumberjack_{len(outputs)}"),
                flush_size=int(node.attrs.get("flush_size", 1024)),
            )
        elif node.name == "http":
            if "url" not in node.attrs:
                raise ConfCompileError("http output requires url")
            sink = HttpSink(
                os.path.join(out_dir, f"http_{len(outputs)}"),
                url=str(node.attrs["url"]),
                http_method=str(node.attrs.get("http_method", "post")),
                content_type=str(node.attrs.get("content_type", "application/json")),
            )
        elif node.name == "cloudwatch":
            tf = node.attrs.get("timeframe", "60")
            sink = CloudwatchSink(
                os.path.join(out_dir, f"cloudwatch_{len(outputs)}"),
                namespace=str(node.attrs.get("namespace", "Logstash")),
                metricname=str(node.attrs.get("metricname", "EventCount")),
                unit=str(node.attrs.get("unit", "Count")),
                value_field=_sprintf_field(str(node.attrs["field_value"]))
                if "field_value" in node.attrs else None,
                timeframe=f"{int(tf)} seconds" if str(tf).isdigit() else str(tf),
            )
        elif node.name == "email":
            if "to" not in node.attrs:
                raise ConfCompileError("email output requires to")
            sink = EmailSink(
                os.path.join(out_dir, f"email_{len(outputs)}"),
                to=str(node.attrs["to"]),
                from_addr=str(node.attrs.get("from", "logstash.alert@example.com")),
                subject=str(node.attrs.get("subject", "")),
                body=str(node.attrs.get("body", "")),
            )
        elif node.name == "sns":
            if "arn" not in node.attrs:
                raise ConfCompileError("sns output requires arn")
            sink = SnsSink(
                os.path.join(out_dir, f"sns_{len(outputs)}"),
                arn=str(node.attrs["arn"]),
                subject=str(node.attrs.get("subject", "%{host}")),
            )
        elif node.name == "sqs":
            if "queue" not in node.attrs:
                raise ConfCompileError("sqs output requires queue")
            sink = SqsSink(
                os.path.join(out_dir, f"sqs_{len(outputs)}"),
                queue=str(node.attrs["queue"]),
            )
        elif node.name == "rabbitmq":
            if "exchange" not in node.attrs:
                raise ConfCompileError("rabbitmq output requires exchange")
            sink = RabbitmqSink(
                os.path.join(out_dir, f"rabbitmq_{len(outputs)}"),
                exchange=str(node.attrs["exchange"]),
                key=str(node.attrs["key"]) if "key" in node.attrs else None,
            )
        elif node.name == "pipe":
            if "command" not in node.attrs:
                raise ConfCompileError("pipe output requires command")
            sink = PipeSink(
                command=str(node.attrs["command"]),
                message_format=(
                    str(node.attrs["message_format"])
                    if "message_format" in node.attrs else None
                ),
            )
        elif node.name == "zeromq":
            topo = str(node.attrs.get("topology", "pushpull"))
            if topo not in ("pushpull", "pubsub", "pair"):
                raise ConfCompileError(
                    "zeromq output: topology must be pushpull, pubsub or pair"
                )
            sink = ZeromqSink(
                os.path.join(out_dir, f"zeromq_{len(outputs)}"),
                topology=topo,
                topic=str(node.attrs["topic"]) if "topic" in node.attrs else None,
            )
        elif node.name == "irc":
            if "channels" not in node.attrs:
                raise ConfCompileError("irc output requires channels")
            sink = IrcSink(
                os.path.join(out_dir, f"irc_{len(outputs)}"),
                channels=tuple(str(c) for c in _listify(node.attrs["channels"])),
                format=str(node.attrs.get("format", "%{message}")),
            )
        elif node.name == "xmpp":
            users = tuple(str(u) for u in _listify(node.attrs.get("users", [])))
            rooms = tuple(str(r) for r in _listify(node.attrs.get("rooms", [])))
            if not users and not rooms:
                raise ConfCompileError("xmpp output requires users and/or rooms")
            sink = XmppSink(
                os.path.join(out_dir, f"xmpp_{len(outputs)}"),
                users=users,
                rooms=rooms,
                message=str(node.attrs.get("message", "%{message}")),
            )
        elif node.name == "hipchat":
            if "room_id" not in node.attrs:
                raise ConfCompileError("hipchat output requires room_id")
            sink = HipchatSink(
                os.path.join(out_dir, f"hipchat_{len(outputs)}"),
                room_id=str(node.attrs["room_id"]),
                from_name=str(node.attrs.get("from", "logstash")),
                color=str(node.attrs.get("color", "yellow")),
                trigger_notify=bool(node.attrs.get("trigger_notify", False)),
                format=str(node.attrs.get("format", "%{message}")),
            )
        elif node.name == "juggernaut":
            if "channels" not in node.attrs:
                raise ConfCompileError("juggernaut output requires channels")
            sink = JuggernautSink(
                os.path.join(out_dir, f"juggernaut_{len(outputs)}"),
                channels=tuple(str(c) for c in _listify(node.attrs["channels"])),
                message_format=str(node.attrs.get("message_format", "")),
            )
        elif node.name == "nagios":
            sink = NagiosSink(
                os.path.join(out_dir, f"nagios_{len(outputs)}"),
                level=int(node.attrs["nagios_level"])
                if str(node.attrs.get("nagios_level", "")).isdigit() else 2,
            )
        elif node.name == "nagios_nsca":
            sink = NagiosNscaSink(
                os.path.join(out_dir, f"nagios_nsca_{len(outputs)}"),
                nagios_host=str(node.attrs.get("nagios_host", "%{host}")),
                nagios_service=str(node.attrs.get("nagios_service", "LogstashAlert")),
                nagios_status=str(node.attrs.get("nagios_status", "2")),
                message_format=str(node.attrs.get(
                    "message_format", "%{@timestamp} %{host}: %{message}")),
            )
        elif node.name == "ganglia":
            if "metric" not in node.attrs or "value" not in node.attrs:
                raise ConfCompileError("ganglia output requires metric and value")
            slope_s = str(node.attrs.get("slope", "both"))
            slopes = {"zero": 0, "positive": 1, "negative": 2, "both": 3}
            if slope_s not in slopes:
                # the plugin enum-validates slope; fail fast like coerce.py
                raise ConfCompileError(
                    f"ganglia output: slope must be one of {sorted(slopes)}, "
                    f"got {slope_s!r}")
            try:
                # plugin declares :number — '3.5' is accepted and the XDR
                # packers take ints, so coerce float->int like the gem does
                lifetime = int(float(node.attrs.get("lifetime", 300)))
                max_interval = int(float(node.attrs.get("max_interval", 60)))
            except (TypeError, ValueError):
                raise ConfCompileError(
                    "ganglia output: lifetime/max_interval must be numbers")
            sink = GangliaSink(
                os.path.join(out_dir, f"ganglia_{len(outputs)}"),
                metric=str(node.attrs["metric"]),
                value=str(node.attrs["value"]),
                units=str(node.attrs.get("units", "")),
                ganglia_type=str(node.attrs.get("ganglia_type", "uint8")),
                slope=slopes[slope_s],
                lifetime=lifetime,
                max_interval=max_interval,
            )
        elif node.name == "pagerduty":
            if "service_key" not in node.attrs:
                raise ConfCompileError("pagerduty output requires service_key")
            sink = PagerdutySink(
                os.path.join(out_dir, f"pagerduty_{len(outputs)}"),
                service_key=str(node.attrs["service_key"]),
                description=str(node.attrs.get("description", "Logstash event")),
                incident_key=str(node.attrs.get("incident_key", "logstash/%{host}")),
                event_type=str(node.attrs.get("event_type", "trigger")),
            )
        elif node.name == "redis":
            if str(node.attrs.get("data_type", "list")) not in ("list", "channel"):
                raise ConfCompileError("redis output: data_type must be list or channel")
            sink = RedisSink(
                os.path.join(out_dir, f"redis_{len(outputs)}"),
                key=str(node.attrs.get("key", "logstash")),
            )
        elif node.name in ("s3", "kafka", "csv"):
            # durable sinks with no live backend here -> parquet stand-in
            sink = ParquetSink(os.path.join(out_dir, f"{node.name}_{len(outputs)}"), mode="append")
        else:
            raise ConfCompileError(f"unsupported output plugin {node.name!r}")
        outputs.append(Output(name=name, sink=sink, when=inherited, **gate))


def _statsd_key_field(key: str | None) -> str:
    """statsd increment keys are sprintf-templated (metrics-from-logs.md:34-68:
    `increment => "apache.response.%{response}"`): count by the embedded
    field; bare keys count by the key constant."""
    if key is None:
        raise ConfCompileError("statsd output requires increment/count/timing")
    return _sprintf_field(key)


def compile_config(
    src: str,
    *,
    out_dir: str = "/tmp/logstash_spark_out",
) -> tuple[Pipeline, list[PluginNode]]:
    """.conf source -> (Pipeline, input plugin nodes).

    Input plugins are returned as parsed nodes: the caller binds them to
    actual Spark sources (tables/streams) — in a cluster engine the input
    binding is deployment config, not pipeline logic.
    """
    cfg: Config = parse_config(src)
    stages: list[Stage] = []
    _compile_items(cfg.section("filter"), None, stages)
    outputs: list[Output] = []
    _compile_outputs(cfg.section("output"), None, outputs, out_dir)
    return Pipeline(filters=stages, outputs=outputs), [
        n for n in cfg.section("input") if isinstance(n, PluginNode)
    ]


def compile_file(path: str, **kw) -> tuple[Pipeline, list[PluginNode]]:
    with open(path) as f:
        return compile_config(f.read(), **kw)


# ---------------------------------------------------------------------------
# input binding — the agent's input->queue step (pipeline.rb:147-151).
# Deployment-grade sources (Iceberg paths, kafka brokers) are bound by the
# caller; this covers the common .conf inputs so compile+run is end-to-end.
# ---------------------------------------------------------------------------


def bind_input(spark, node: PluginNode, *, stdin_lines=None):
    """PluginNode from the input section -> DataFrame (batch) with the
    input `decorate` applied (type/tags/add_field, filters/base.rb).
    ``stdin_lines``: the agent CLI feeds the process's stdin here so the
    reference's default `input { stdin {} }` (agent.rb:99-101) binds."""
    from pyspark.sql import functions as F

    a = node.attrs
    if node.name == "generator":
        # generator { message => "..." count => N } (conditionals_spec.rb:29-34)
        count = int(a.get("count", 1000))
        message = str(a.get("message", "Hello world!"))
        df = spark.range(count).select(
            F.lit(message).alias("message"), F.col("id").alias("sequence")
        )
    elif node.name in ("file", "s3"):
        raw_path = _listify(a.get("path", []))
        paths = [str(x) for x in raw_path if x is not None and str(x).strip()]
        if not paths:
            raise ConfCompileError(f"{node.name} input requires path")
        codec = a.get("codec", "plain")
        codec_name = codec.name if isinstance(codec, PluginNode) else str(codec)
        if paths[0].endswith(".parquet") or codec_name == "parquet":
            df = spark.read.parquet(*paths)
        else:
            # EVERY configured path binds (a prior version silently read
            # only the first — silent data loss on multi-path inputs)
            df = spark.read.text(paths).withColumnRenamed("value", "message")
            if codec_name in ("json", "json_lines"):
                from logstash_spark.operators.parse import json_parse

                # block form's schema wins; plugin-level schema is the
                # string-form fallback so both spellings behave identically
                schema = (
                    (codec.attrs.get("schema") if isinstance(codec, PluginNode) else None)
                    or a.get("schema")
                )
                df = json_parse(df, "message", str(schema or "auto"))
            elif codec_name == "multiline":
                # `codec => multiline { pattern => ... what => ... }` — the
                # classic stack-trace input shape. Codec options go through
                # the SAME validation/coercion as the filter-path multiline
                # (negate => "false" must be False, typos must fail fast).
                if not isinstance(codec, PluginNode) or "pattern" not in codec.attrs:
                    raise ConfCompileError("multiline codec needs pattern/what options")
                _check_opts(
                    "multiline codec", codec.attrs,
                    {"pattern", "what", "negate", "max_lines"}, {"charset", "auto_flush_interval"},
                )
                try:
                    cattrs = coerce_options(
                        codec.attrs, _OPTION_TYPES["multiline"], "multiline codec"
                    )
                except CoerceError as e:
                    raise ConfCompileError(str(e)) from None
                from logstash_spark.operators.multiline import multiline as _ml

                # per-FILE grouping: continuation lines must never merge
                # across file boundaries on multi-path inputs, and the file
                # key keeps the window parallel instead of single-partition
                df = df.withColumn("_src_file", F.input_file_name())
                import warnings as _w

                with _w.catch_warnings():
                    # only the ingestion-order fallback warning is expected
                    _w.filterwarnings("ignore", message=".*INGESTION.*")
                    df = _ml(
                        df,
                        source="message",
                        pattern=str(cattrs["pattern"]),
                        what=str(cattrs.get("what", "previous")),
                        negate=bool(cattrs.get("negate", False)),
                        stream_key="_src_file",
                        max_lines=int(cattrs["max_lines"]) if "max_lines" in cattrs else None,
                    )
                df = df.drop("_src_file")
    elif node.name == "heartbeat":
        from logstash_spark.sources.readers import heartbeat_stream

        df = heartbeat_stream(spark, interval_seconds=int(a.get("interval", 1)))
    elif node.name == "kafka":
        from logstash_spark.sources.bus import kafka_source

        df = kafka_source(
            spark,
            brokers=str(a.get("bootstrap_servers", a.get("zk_connect", "localhost:9092"))),
            topic=str(_listify(a.get("topic_id", a.get("topics", "logstash")))[0]),
            value_schema=str(a.get("schema", "message string")),
        )
    elif node.name == "stdin":
        if stdin_lines is None:
            raise ConfCompileError(
                "stdin input: interactive; bind a DataFrame yourself "
                "(jobs/agent.py feeds it from the process stdin)"
            )
        df = spark.createDataFrame([(str(l),) for l in stdin_lines], "message string")
    elif node.name in ("tcp", "udp", "syslog"):
        # bounded socket capture (mode => server, the plugin default).
        # max_events/idle_timeout bound the batch plan; the live streaming
        # form is sources.sockets.tcp_socket_stream.
        from logstash_spark.sources import sockets as _sk

        if "port" not in a:
            raise ConfCompileError(f"{node.name} input requires port")
        kw = dict(
            host=str(a.get("host", "127.0.0.1")),
            port=int(a["port"]),
            max_events=int(a["max_events"]) if "max_events" in a else None,
            idle_timeout=float(a.get("idle_timeout", 5.0)),
        )
        if node.name == "syslog":
            df = _sk.syslog_capture(spark, protocol=str(a.get("protocol", "tcp")), **kw)
        elif node.name == "tcp":
            df = _sk.tcp_capture(spark, **kw)
        else:
            df = _sk.udp_capture(spark, **kw)
    elif node.name == "http":
        from logstash_spark.sources import sockets as _sk

        if "port" not in a:
            raise ConfCompileError("http input requires port")
        df = _sk.http_capture(
            spark,
            host=str(a.get("host", "127.0.0.1")),
            port=int(a["port"]),
            max_events=int(a["max_events"]) if "max_events" in a else None,
            idle_timeout=float(a.get("idle_timeout", 5.0)),
        )
    elif node.name == "unix":
        from logstash_spark.sources import sockets as _sk

        if "path" not in a:
            raise ConfCompileError("unix input requires path")
        df = _sk.unix_capture(
            spark,
            path=str(a["path"]),
            max_events=int(a["max_events"]) if "max_events" in a else None,
            idle_timeout=float(a.get("idle_timeout", 5.0)),
        )
    elif node.name == "exec":
        from logstash_spark.sources.pull import exec_input

        if "command" not in a:
            raise ConfCompileError("exec input requires command")
        df = exec_input(spark, str(a["command"]), count=int(a.get("count", 1)))
    elif node.name == "pipe":
        from logstash_spark.sources.pull import pipe_input

        if "command" not in a:
            raise ConfCompileError("pipe input requires command")
        df = pipe_input(
            spark,
            str(a["command"]),
            max_events=int(a["max_events"]) if "max_events" in a else None,
        )
    elif node.name == "gelf":
        # live UDP daemon is a deployment concern; the sandbox binding
        # decodes a CAPTURED datagram table (parquet with a binary column)
        # through the real GELF wire decoder — chunk reassembly, zlib/gzip
        # inflate, '_'-field stripping — the same file-backed wire-contract
        # stance as the kafka/elasticsearch shims.
        from logstash_spark.operators.codecs import decode_gelf

        path = a.get("export") or a.get("path")
        if not path:
            raise ConfCompileError(
                "gelf input: needs export => parquet of captured datagrams "
                "(binary column, default name 'bytes')"
            )
        df = decode_gelf(spark.read.parquet(str(path)), str(a.get("source", "bytes")))
    elif node.name == "ganglia":
        # gmond UDP datagrams captured to a parquet binary column, decoded
        # through the real gmetric 3.1 XDR reader (metadata + value packet
        # pairing) — same file-backed wire-contract stance as gelf
        from logstash_spark.operators.netproto import decode_ganglia

        path = a.get("export") or a.get("path")
        if not path:
            raise ConfCompileError(
                "ganglia input: needs export => parquet of captured gmond "
                "datagrams (binary column, default name 'bytes')"
            )
        df = decode_ganglia(spark.read.parquet(str(path)), str(a.get("source", "bytes")))
    elif node.name == "snmptrap":
        # SNMPv1/v2c trap datagrams captured to a parquet binary column,
        # decoded through the pure-Python BER reader (netproto.py) — the
        # vendored-reader stance (msgpack/EDN precedent)
        from logstash_spark.operators.netproto import decode_snmptrap

        path = a.get("export") or a.get("path")
        if not path:
            raise ConfCompileError(
                "snmptrap input: needs export => parquet of captured trap "
                "datagrams (binary column, default name 'bytes')"
            )
        df = decode_snmptrap(spark.read.parquet(str(path)), str(a.get("source", "bytes")))
    elif node.name == "lumberjack":
        # forwarder streams captured to a parquet of binary stream blobs;
        # same file-backed wire-contract stance as the gelf/kafka shims
        from logstash_spark.operators.codecs import decode_lumberjack

        path = a.get("export") or a.get("path")
        if not path:
            raise ConfCompileError(
                "lumberjack input: needs export => parquet of captured "
                "client streams (binary column, default name 'stream')"
            )
        df = decode_lumberjack(spark.read.parquet(str(path)), str(a.get("source", "stream")))
        # the plugin surfaces the forwarder's fields as top-level event
        # fields; 'line' is the message
        df = df.select(
            "lj_seq",
            F.col("fields")["line"].alias("message"),
            F.col("fields")["host"].alias("host"),
            "fields",
        )
    elif node.name == "redis":
        # the broker hop of the reference's shipper->redis->indexer
        # architecture; live BLPOP is a deployment concern — the binding
        # decodes a captured list export (the exact frame RedisSink
        # writes), same file-backed wire-contract stance as kafka/gelf
        from logstash_spark.sources.bus import decode_redis_records

        path = a.get("export") or a.get("path")
        if not path or "schema" not in a:
            raise ConfCompileError(
                "redis input: needs export => parquet of the list capture "
                "(key, list_index, value) + schema => for the json events "
                "(file-backed wire contract, same stance as the kafka shim)"
            )
        df = decode_redis_records(spark.read.parquet(str(path)), str(a["schema"]))
    elif node.name == "log4j":
        # log4j v1 SocketAppender capture: each file is one connection's
        # serialized LoggingEvent stream; vendored Java-serialization
        # reader (operators/javaser.py), file-backed capture stance
        from logstash_spark.operators.javaser import decode_log4j

        path = a.get("export") or a.get("path")
        if not path:
            raise ConfCompileError(
                "log4j input: needs export => captured SocketAppender "
                "stream file(s) (read via binaryFile)"
            )
        raw = spark.read.format("binaryFile").load(str(path)).select(
            F.col("content").alias("bytes")
        )
        df = decode_log4j(raw, "bytes")
    elif node.name == "zeromq":
        # brokerless socket capture (docs/tutorials/zeromq.md): decode a
        # captured frame export (the exact parquet ZeromqSink writes) with
        # the documented SUB-side topic-PREFIX filter; live sockets are a
        # deployment concern — same file-backed stance as kafka/redis
        from logstash_spark.sources.bus import decode_zeromq_records

        path = a.get("export") or a.get("path")
        if not path or "schema" not in a:
            raise ConfCompileError(
                "zeromq input: needs export => parquet of the frame capture "
                "(topic, value, peer, seq) + schema => for the json events "
                "(file-backed wire contract, same stance as the kafka shim)"
            )
        df = decode_zeromq_records(
            spark.read.parquet(str(path)),
            str(a["schema"]),
            topic_filter=str(a["topic"]) if "topic" in a else None,
        )
    elif node.name == "graphite":
        # graphite line-protocol listener: decode captured lines (text
        # export) or a live tcp capture through the graphite codec
        from logstash_spark.operators.codecs import decode_graphite

        path = a.get("export") or a.get("path")
        if path:
            raw = spark.read.text(str(path)).withColumnRenamed("value", "message")
        elif "port" in a:
            from logstash_spark.sources import sockets as _sk

            raw = _sk.tcp_capture(
                spark,
                host=str(a.get("host", "127.0.0.1")),
                port=int(a["port"]),
                max_events=int(a["max_events"]) if "max_events" in a else None,
                idle_timeout=float(a.get("idle_timeout", 5.0)),
            )
        else:
            raise ConfCompileError(
                "graphite input: needs export => text file of protocol "
                "lines, or port => for a live capture"
            )
        df = decode_graphite(raw, "message")
    elif node.name == "couchdb_changes":
        from logstash_spark.sources.pull import couchdb_changes_input

        path = a.get("export") or a.get("path")
        if not path or "schema" not in a:
            raise ConfCompileError(
                "couchdb_changes input: live feed tail is out of sandbox "
                "scope; needs export => NDJSON of the _changes feed + "
                "schema => for the docs (file-backed contract, same stance "
                "as the elasticsearch shim)"
            )
        df = couchdb_changes_input(spark, str(path), schema=str(a["schema"]))
    elif node.name == "sqs":
        # queue capture of (queue, body) json frames — the frame SqsSink
        # writes; same file-backed bus stance as kafka/redis
        path = a.get("export") or a.get("path")
        if not path or "schema" not in a:
            raise ConfCompileError(
                "sqs input: needs export => parquet of the queue capture "
                "(queue, body) + schema => for the json events"
            )
        raw = spark.read.parquet(str(path))
        df = raw.select(
            F.col("queue").alias("sqs_queue"),
            F.from_json(F.col("body"), str(a["schema"])).alias("_v"),
        ).select("sqs_queue", "_v.*")
    elif node.name == "rabbitmq":
        # AMQP payloads map onto the kafka wire contract (exchange ->
        # topic, routing key -> key) — the documented bus mapping; the
        # binding decodes a captured queue export
        from logstash_spark.sources.bus import decode_kafka_records

        path = a.get("export") or a.get("path")
        if not path or "schema" not in a:
            raise ConfCompileError(
                "rabbitmq input: needs export => parquet of the queue "
                "capture (kafka wire columns; exchange->topic, routing "
                "key->key) + schema => for the json payloads"
            )
        df = decode_kafka_records(spark.read.parquet(str(path)), str(a["schema"]))
    elif node.name == "elasticsearch":
        from logstash_spark.sources.pull import elasticsearch_input

        path = a.get("export") or a.get("path")
        if not path or "schema" not in a:
            raise ConfCompileError(
                "elasticsearch input: live scroll is out of sandbox scope; "
                "needs export => path to a scroll-export NDJSON + schema => "
                "(file-backed wire contract, same stance as the kafka shim)"
            )
        df = elasticsearch_input(spark, str(path), schema=str(a["schema"]))
    elif node.name == "irc":
        # live IRC session is a deployment concern; decode a captured
        # session transcript (text export of server-delivered lines) —
        # same file-backed stance as the graphite line capture
        from logstash_spark.sources.chat import decode_irc_lines

        path = a.get("export") or a.get("path")
        if not path:
            raise ConfCompileError(
                "irc input: needs export => text file of delivered IRC "
                "protocol lines (a session transcript)"
            )
        raw = spark.read.text(str(path)).withColumnRenamed("value", "line")
        df = decode_irc_lines(raw, "line")
        if "channels" in a:
            chans = [str(c) for c in _listify(a["channels"])]
            df = df.filter(F.col("channel").isin(chans))
    elif node.name == "xmpp":
        from logstash_spark.sources.chat import decode_xmpp_stanzas

        path = a.get("export") or a.get("path")
        if not path:
            raise ConfCompileError(
                "xmpp input: needs export => text file of message stanzas "
                "(one per line — the XmppSink capture shape)"
            )
        raw = spark.read.text(str(path)).withColumnRenamed("value", "stanza")
        df = decode_xmpp_stanzas(raw, "stanza")
    elif node.name == "imap":
        # live IMAP poll is a deployment concern; decode a mailbox export
        # of RFC822 messages (parquet with an rfc822 column — the exact
        # shape EmailSink writes, so email output -> imap input round-trips)
        from logstash_spark.sources.chat import decode_rfc822

        path = a.get("export") or a.get("path")
        if not path:
            raise ConfCompileError(
                "imap input: needs export => parquet of RFC822 messages "
                "(rfc822 column — the EmailSink capture shape)"
            )
        df = decode_rfc822(spark.read.parquet(str(path)), "rfc822")
    elif node.name == "twitter":
        # live streaming API is a deployment concern; decode a captured
        # NDJSON export of public-API status objects
        from logstash_spark.sources.chat import decode_twitter_statuses

        path = a.get("export") or a.get("path")
        if not path:
            raise ConfCompileError(
                "twitter input: needs export => NDJSON file of status "
                "objects (one public-API JSON document per line)"
            )
        raw = spark.read.text(str(path)).withColumnRenamed("value", "status_json")
        df = decode_twitter_statuses(raw, "status_json")
        if "keywords" in a:
            kws = [str(k) for k in _listify(a["keywords"])]
            cond = None
            for k in kws:
                this = F.col("message").contains(k)
                cond = this if cond is None else (cond | this)
            if cond is not None:
                df = df.filter(cond)
    else:
        raise ConfCompileError(
            f"input plugin {node.name!r} has no sandbox binding "
            "(eventlog is a Windows-API input with no capturable wire "
            "shape in this sandbox; pass your own DataFrame)"
        )
    # input decorate (filters/base.rb decorate): type/tags/add_field
    if a.get("type") is not None:
        df = df.withColumn("type", F.lit(a["type"]))
    tags = _listify(a.get("tags", []))
    if tags:
        # decorate APPENDS (filters/base.rb): a codec may already have
        # tagged rows (multiline) — never clobber the existing tags column
        new_tags = F.array(*[F.lit(t) for t in tags])
        if "tags" in df.columns:
            df = df.withColumn(
                "tags",
                F.concat(F.coalesce(F.col("tags"), F.array().cast("array<string>")), new_tags),
            )
        else:
            df = df.withColumn("tags", new_tags)
    for k, v in dict(a.get("add_field", {})).items():
        df = df.withColumn(k, F.lit(v))
    return df

