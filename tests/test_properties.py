"""Property-based tests (hypothesis) for the plan-time compilers — these run
without a SparkSession, so they can explore thousands of cases cheaply.

Mirrors the reference's spec strategy of pinning the event/grok/sprintf
micro-semantics exhaustively (spec/core/event_spec.rb)."""

import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from logstash_spark.event import joda_to_java, parse_path
from logstash_spark.operators.grok import compile_grok

words = st.text(alphabet=string.ascii_letters + string.digits + "_", min_size=1, max_size=12)
numbers = st.integers(min_value=-10**12, max_value=10**12)


@settings(max_examples=200)
@given(words, words)
def test_grok_word_captures(a, b):
    cg = compile_grok("^%{WORD:first} %{WORD:second}$")
    m = cg.python_re().match(f"{a} {b}")
    assert m is not None
    assert m.group(1) == a and m.group(2) == b
    # named variant agrees
    nm = re.match(cg.named_regex, f"{a} {b}")
    assert nm.group("c1") == a and nm.group("c2") == b


@settings(max_examples=200)
@given(numbers, st.floats(allow_nan=False, allow_infinity=False, width=32))
def test_grok_typed_number_captures(i, f):
    cg = compile_grok(r"^i=%{INT:i:int} f=%{NUMBER:f:float}$")
    line = f"i={i} f={abs(f):.6f}"
    m = cg.python_re().match(line)
    assert m is not None
    assert int(m.group(1)) == i
    assert abs(float(m.group(2)) - abs(f)) < max(1e-6 * abs(f), 1e-6)


@settings(max_examples=100)
@given(st.lists(words, min_size=1, max_size=5))
def test_field_reference_roundtrip(toks):
    ref = "".join(f"[{t}]" for t in toks)
    assert parse_path(ref) == toks


@settings(max_examples=100)
@given(st.ip_addresses(v=4))
def test_grok_ip_pattern(ip):
    cg = compile_grok("^%{IP:addr}$")
    m = cg.python_re().match(str(ip))
    assert m is not None and m.group(1) == str(ip)


def test_grok_group_numbering_stable_with_nested_parens():
    """Library patterns containing bare parens must not shift capture
    indexes (the renumber-plain pass)."""
    cg = compile_grok(
        "%{PAIR:p} %{WORD:w}", extra_patterns={"PAIR": r"(\d+)-(\d+)"}
    )
    m = cg.python_re().match("12-34 tail")
    assert m.group(1) == "12-34"  # whole PAIR is the capture, inner parens neutralized
    assert m.group(2) == "tail"


@given(st.sampled_from(["YYYY-MM-dd", "yyyy.MM.dd HH:mm:ss", "dd/MMM/YYYY:HH:mm:ss Z", "YYYY"]))
def test_joda_translation_never_emits_week_year(fmt):
    out = joda_to_java(fmt)
    assert "Y" not in out  # java week-year never reachable


def test_apache_log_corpus_reference_lines():
    """Every line of the reference's shipped corpus must parse
    (docs/tutorials/10-minute-walkthrough/apache_log.1)."""
    import bz2

    base = "/root/reference/docs/tutorials/10-minute-walkthrough"
    cg = compile_grok("%{COMBINEDAPACHELOG}")
    rx = cg.python_re()
    lines = open(f"{base}/apache_log.1", errors="replace").read().splitlines()
    lines += bz2.open(f"{base}/apache_log.2.bz2", "rt", errors="replace").read().splitlines()
    lines = [l for l in lines if l.strip()]
    failed = [l for l in lines if not rx.search(l)]
    assert len(lines) > 100
    assert not failed, f"{len(failed)}/{len(lines)} corpus lines failed, e.g. {failed[0][:200]!r}"


# ---------------------------------------------------------------------------
# condition-language round trip: render(Expr) -> parse -> same Expr
# ---------------------------------------------------------------------------

from logstash_spark.condparser import parse_condition  # noqa: E402
from logstash_spark.conditions import (  # noqa: E402
    And, Cmp, Field, In, Nand, Not, Or, Rx, Truthy, Xor,
)

_fields = st.sampled_from(["[foo]", "[response]", "[a][b]", "[tags]"])
_strings = st.text(alphabet=string.ascii_letters + string.digits + " ._-", max_size=10)
_scalars = st.one_of(_strings, st.integers(-1000, 1000))


def _rv(v):
    if isinstance(v, Field):
        return v.ref
    if isinstance(v, str):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if isinstance(v, list):
        return "[" + ", ".join(_rv(x) for x in v) + "]"
    return repr(v)


def _render(e) -> str:
    if isinstance(e, Cmp):
        return f"{_rv(e.left)} {e.op} {_rv(e.right)}"
    if isinstance(e, Rx):
        return f"{_rv(e.left)} {'!~' if e.negate else '=~'} /{e.pattern}/"
    if isinstance(e, In):
        return f"{_rv(e.item)} {'not in' if e.negate else 'in'} {_rv(e.coll)}"
    if isinstance(e, Truthy):
        return e.ref
    if isinstance(e, Not):
        return f"!({_render(e.inner)})"
    if isinstance(e, (And, Or, Xor, Nand)):
        op = {And: "and", Or: "or", Xor: "xor", Nand: "nand"}[type(e)]
        return f"({_render(e.left)}) {op} ({_render(e.right)})"
    raise AssertionError(e)


_leaf = st.one_of(
    st.builds(Cmp, st.builds(Field, _fields), st.sampled_from(["==", "!=", "<", ">", "<=", ">="]), _scalars),
    st.builds(Rx, st.builds(Field, _fields), st.sampled_from(["^5", "foo.*bar", "a|b"]), st.booleans()),
    st.builds(In, _strings, st.builds(Field, _fields), st.booleans()),
    st.builds(In, st.builds(Field, _fields), st.lists(_strings, min_size=1, max_size=3), st.booleans()),
    st.builds(Truthy, _fields),
)

_exprs = st.recursive(
    _leaf,
    lambda kids: st.one_of(
        st.builds(And, kids, kids),
        st.builds(Or, kids, kids),
        st.builds(Xor, kids, kids),
        st.builds(Nand, kids, kids),
        st.builds(Not, kids),
    ),
    max_leaves=8,
)


@settings(max_examples=300)
@given(_exprs)
def test_condition_language_round_trip(expr):
    assert parse_condition(_render(expr)) == expr


# ---------------------------------------------------------------------------
# .conf language round trip: render(Config AST) -> parse -> same AST
# ---------------------------------------------------------------------------

from logstash_spark.confparser import Config, IfNode, PluginNode, Section, parse_config  # noqa: E402

_names = st.sampled_from(["grok", "date", "mutate", "my_plugin", "x1"])
_attr_names = st.sampled_from(["match", "add_tag", "value", "path", "k_1"])
_conf_strings = st.text(alphabet=string.ascii_letters + string.digits + " ._-/%{}", max_size=12)

_conf_values = st.recursive(
    st.one_of(
        _conf_strings,
        st.integers(-9999, 9999),
        st.booleans(),
    ),
    lambda kids: st.one_of(
        st.lists(kids, max_size=3),
        st.dictionaries(st.sampled_from(["a", "b", "c"]), kids, max_size=3),
    ),
    max_leaves=6,
)

_plugins = st.builds(
    PluginNode, _names,
    st.dictionaries(_attr_names, _conf_values, max_size=3),
)

_cond_srcs = st.sampled_from([
    '[type] == "apache"', "[n] >= 10", "[msg] =~ /^5/", '"x" in [tags]', "![flag]",
])

_items = st.recursive(
    _plugins,
    lambda kids: st.builds(
        IfNode,
        st.lists(
            st.tuples(_cond_srcs, st.lists(kids, max_size=2)),
            min_size=1, max_size=2,
        ).map(lambda bs: [(c, list(items)) for c, items in bs]),
    ),
    max_leaves=5,
)

_configs = st.builds(
    lambda f_items, o_items: Config(sections=[
        Section("filter", list(f_items)), Section("output", list(o_items)),
    ]),
    st.lists(_items, max_size=3), st.lists(_plugins, max_size=2),
)


def _render_value(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if isinstance(v, list):
        return "[" + ", ".join(_render_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{ " + " ".join(f'"{k}" => {_render_value(x)}' for k, x in v.items()) + " }"
    raise AssertionError(v)


def _render_items(items, indent="  ") -> str:
    out = []
    for node in items:
        if isinstance(node, PluginNode):
            attrs = " ".join(f"{k} => {_render_value(v)}" for k, v in node.attrs.items())
            out.append(f"{indent}{node.name} {{ {attrs} }}")
        else:
            for i, (cond, sub) in enumerate(node.branches):
                kw = "if" if i == 0 else ("else if" if cond is not None else "else")
                cond_txt = f" {cond} " if cond is not None else " "
                out.append(f"{indent}{kw}{cond_txt}{{")
                out.append(_render_items(sub, indent + "  "))
                out.append(f"{indent}}}")
    return "\n".join(out)


def _render_config(cfg: Config) -> str:
    parts = []
    for s in cfg.sections:
        parts.append(f"{s.kind} {{")
        parts.append(_render_items(s.items))
        parts.append("}")
    return "\n".join(parts)


@settings(max_examples=150)
@given(_configs)
def test_conf_language_round_trip(cfg):
    parsed = parse_config(_render_config(cfg))
    assert parsed == cfg


def _edn_render(v) -> str:
    """Minimal EDN renderer for the round-trip property (reader lives in
    codecs._edn_read)."""
    if v is None:
        return "nil"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, str):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n") + '"'
    if isinstance(v, list):
        return "[" + " ".join(_edn_render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + " ".join(f":{k} {_edn_render(x)}" for k, x in v.items()) + "}"
    raise AssertionError(type(v))


@given(
    st.dictionaries(
        st.from_regex(r"[a-z][a-z0-9_-]{0,8}", fullmatch=True),
        st.recursive(
            st.one_of(
                st.none(), st.booleans(), st.integers(-10**9, 10**9),
                st.floats(allow_nan=False, allow_infinity=False, width=32),
                st.text(max_size=20),
            ),
            lambda inner: st.lists(inner, max_size=4),
            max_leaves=8,
        ),
        max_size=5,
    )
)
@settings(max_examples=200, deadline=None)
def test_edn_reader_roundtrip(value):
    """render -> _edn_read must reproduce any generated EDN map (the codec's
    reader is hand-written; the property pins the full value grammar)."""
    from logstash_spark.operators.codecs import _edn_read

    assert _edn_read(_edn_render(value)) == value


@given(
    st.lists(
        st.one_of(
            st.from_regex(r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3} [A-Z]{3,5} /[a-z/]{0,10} [0-9]{3}", fullmatch=True),
            st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60),
            st.just(""),
            st.none(),
        ),
        min_size=2, max_size=6,
    ),
    st.sampled_from([
        r"%{IP:ip} %{WORD:verb} %{URIPATH:path} %{INT:code:int}",
        r"%{IP:ip} %{WORD:w} %{GREEDYDATA:rest}",
        r"^%{WORD:a}\s+%{WORD:a}",          # duplicate capture -> array
        r"(?<inline>[A-Z]{3,5}) %{INT:n:int}",
    ]),
)
@settings(max_examples=40, deadline=None)
def test_grok_backends_agree(spark, lines, pattern):
    """expr (JVM regex), arrow (RE2) and a test-side Python ``re`` oracle
    are three INDEPENDENT regex engines running the same compiled pattern
    — they must produce identical captures, match flags and failure tags
    on arbitrary input."""
    from logstash_spark.operators.grok import capture_groups, grok

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(lines)], "id long, text string"
    ).cache()
    results = {}
    for backend in ("expr", "arrow"):
        rows = grok(df, "text", pattern, backend=backend).collect()
        results[backend] = {
            r["id"]: {k: (tuple(v) if isinstance(v, list) else v)
                      for k, v in r.asDict().items() if k != "_grok_matched"}
            for r in rows
        }

    cg = compile_grok(pattern)
    rx = re.compile(cg.regex, re.ASCII)

    def value(m, idx, typ):
        v = m.group(idx) or None  # '' (optional group not taken) -> unset
        if v is not None and typ == "int":
            v = int(v) if -(2**63) <= int(v) < 2**63 else None
        return v

    oracle = {}
    for i, s in enumerate(lines):
        m = rx.search(s) if s is not None else None
        row = {"id": i, "text": s, "tags": None if m else ("_grokparsefailure",)}
        for name, occ in capture_groups(cg).items():
            vals = [value(m, idx, typ) for idx, typ in occ] if m else [None]
            # a duplicated name collects every occurrence; none -> unset
            row[name] = tuple(v for v in vals if v is not None) or None if len(occ) > 1 else vals[0]
        oracle[i] = row
    assert results["expr"] == results["arrow"] == oracle


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=30),
       st.integers(min_value=1, max_value=64))
def test_sequence_pack_tiles_stream_for_any_corpus(spark, token_counts, capacity):
    """Property: offsets tile the concatenated token stream exactly (no
    gaps, no overlaps) and sequence ids are the floor-division of the
    offsets, for ANY corpus shape and capacity."""
    from logstash_spark.functions.pack import sequence_pack

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(token_counts)], "doc_id long, n_tokens long"
    )
    rows = sorted(sequence_pack(df, capacity=capacity).collect(),
                  key=lambda r: r["start_off"])
    pos = 0
    for r in rows:
        assert r["start_off"] == pos
        pos += r["n_tokens"]
        assert r["seq_first"] == r["start_off"] // capacity
        assert r["seq_last"] == (r["start_off"] + r["n_tokens"] - 1) // capacity
    assert pos == sum(token_counts)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet="abc", min_size=1, max_size=4), min_size=0, max_size=25),
       st.integers(min_value=1, max_value=8))
def test_chunk_text_strides_reconstruct_document(spark, tokens, stride):
    """Property: concatenating each chunk's first `stride` tokens (all of
    the last chunk) reproduces the document's token sequence — windows
    cover everything, in order, for any doc length and stride."""
    from logstash_spark.functions.pack import chunk_text

    text = " ".join(tokens)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = sorted(chunk_text(df, chunk_tokens=stride + 2, stride=stride).collect(),
                    key=lambda r: r["chunk_id"])
    rebuilt = []
    for i, r in enumerate(chunks):
        toks = r["chunk"].split(" ") if r["chunk"] else [""]
        rebuilt.extend(toks if i == len(chunks) - 1 else toks[:stride])
    expected = text.strip().split(" ") if text.strip() else [""]
    # trailing duplicate from the final overlapping window folds away
    assert rebuilt[: len(expected)] == expected
