"""Grok capture skeleton: derivation, and differential parity of the
skeleton path (``arrow_extract``) with the full regex.

The pure-pyarrow tests need no Spark session: they compare
``arrow_extract(cg, arr)`` with ``pc.extract_regex(arr, cg.named_regex)``
on both the captures and the match flag of every row."""

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from logstash_spark.operators.grok import arrow_extract, compile_grok

TS = "18/Aug/2011:06:00:14 -0700"


def apache(ip="1.2.3.4", ident="-", auth="-", ts=TS, request="GET /x HTTP/1.1",
           resp="200", nbytes="1820", ref='"-"', agent='"Mozilla/5.0"'):
    return f'{ip} {ident} {auth} [{ts}] "{request}" {resp} {nbytes} {ref} {agent}'


HAND = [
    apache(),
    # leading junk: the skeleton's leftmost start (0) is not the full regex's
    'a!b c d [18/Aug/2011:06:00:14 -0700] "GET / HTTP/1.1" 200 1 "-" "-"',
    apache(request="G-T /x HTTP/1.1"),            # non-word verb -> rawrequest
    apache(nbytes="-"),                           # bytes via the '-' branch
    apache(resp="2x0"),                           # NUMBER-looking, no match
    apache(ref=r'"http://r/\"q\""', agent=r'"Moz \"a\" b"'),  # escaped quotes
    apache(ident="us\ter"),                       # tab inside a token
    apache(auth="usér", ip="hôst"),               # non-ASCII inside tokens
    apache(request="GET /x"),                     # no HTTP/ version
    apache(request="GET /x HTTP/1.1 extra"),      # version check fails
    apache(ts="99/Xxx/9999:99:99:99 +9999"),      # HTTPDATE check fails
    apache(agent='"' + "a" * 65536 + '"'),        # 64 KB line
    "a" * 65536,
    "",
    None,
]

PATTERNS = [
    "%{COMBINEDAPACHELOG}",
    "%{COMMONAPACHELOG}",
    "%{IP:ip} %{WORD:verb} %{URIPATH:path} %{INT:code:int}",
    "%{IPORHOST:host} %{USER:u} \\[%{HTTPDATE:ts}\\] %{NUMBER:n}",
    "%{SYSLOGBASE} %{GREEDYDATA:msg}",
]


def assert_same_as_full(cg, lines):
    arr = pa.array(lines, pa.string())
    full = pc.extract_regex(arr, cg.named_regex)
    got = arrow_extract(cg, arr)
    assert got.is_valid().to_pylist() == full.is_valid().to_pylist()
    assert got.to_pylist() == full.to_pylist()


def test_combined_apache_skeleton_shape():
    cg = compile_grok("%{COMBINEDAPACHELOG}")
    assert cg.skeleton is not None and len(cg.skeleton) < len(cg.named_regex) / 2
    # IPORHOST, USER x2, HTTPDATE, WORD and the three NUMBERs reduce
    assert sorted(idx for idx, _, _ in cg.checks) == [1, 2, 3, 4, 5, 7, 9, 10]
    assert r"(?P<c4>[^\x5d]+)" in cg.skeleton  # HTTPDATE up to ']'
    # \S+-then-optional, .*? and QS are kept verbatim
    assert r"(?P<c6>\S+)(?: HTTP/" in cg.skeleton
    assert "|(?P<c8>.*?))" in cg.skeleton
    qs = cg.named_regex[cg.named_regex.index("(?P<c11>"):]
    assert cg.skeleton.endswith(qs)


@pytest.mark.parametrize("pattern", [
    "%{GREEDYDATA:a} %{WORD:b}",     # GREEDYDATA can produce ' '; b is last
    "%{WORD:a}",                     # capture at the end of the pattern
    "(?:%{WORD:a} )+x",              # capture in a loop that may run twice
    "%{WORD:a}%{WORD:b}",            # a is followed by a capture, b ends
    "(?i)%{WORD:a} x",               # flags change what a literal matches
    "%{EDGE:a} x",                   # word boundary at the capture's edge
    "%{ANY:a}x",                     # '.' can produce the delimiter
    "%{TWO:a} x",                    # the delimiter is a literal inside
    "%{NOTSPACE:a}/",                # \S can produce '/'
    "%{NEG:a}x",                     # so can a negated class
    "%{RNG:a}m",                     # and a range
])
def test_no_skeleton_when_nothing_reduces_safely(pattern):
    extra = {"EDGE": r"\b[a-z]+", "ANY": r"[a-w].", "TWO": r"\w+ \w+",
             "NEG": r"[^ ]+", "RNG": r"[a-z0-9]+"}
    cg = compile_grok(pattern, extra)
    assert cg.skeleton is None and cg.checks == ()


def test_interior_word_boundary_reduces():
    cg = compile_grok("%{MID:a} x", {"MID": r"[a-z]+\b-[a-z]+"})
    assert [idx for idx, _, _ in cg.checks] == [1]
    assert_same_as_full(cg, ["ab-cd x", "ab-cd-ef x", "-cd x", "zz ab-cd x"])


def test_empty_capable_capture_reduces_to_star():
    cg = compile_grok("<%{OPT:a}>", {"OPT": r"[0-9]*"})
    assert r"(?P<c1>[^\x3e]*)" in cg.skeleton and cg.checks[0][2] is False
    assert_same_as_full(cg, ["<>", "<12>", "<1a>", "x<1a><3>", "<"])


@pytest.mark.parametrize("pattern", PATTERNS)
def test_hand_cases_match_full_regex(pattern):
    assert_same_as_full(compile_grok(pattern), HAND)


def test_fallback_reextracts_only_failing_rows(monkeypatch):
    cg = compile_grok("%{COMBINEDAPACHELOG}")
    calls = []
    real = pc.extract_regex

    def spy(arr, pattern):
        calls.append((pattern, len(arr)))
        return real(arr, pattern)

    monkeypatch.setattr(pc, "extract_regex", spy)
    good = [apache(), apache(ip="::1"), apache(ip="10.0.0.1", request="GET /y")]
    # bytes '-' fails too: `[^ ]+` takes '-' before the '|-' branch is tried
    failing = [HAND[1], apache(request="G-T /x HTTP/1.1"), apache(resp="2x0"),
               apache(nbytes="-")]
    arr = pa.array(good * 3 + failing + ["junk"], pa.string())
    out = arrow_extract(cg, arr)
    assert calls == [(cg.skeleton, len(arr)), (cg.named_regex, len(failing))]
    calls.clear()
    assert out.to_pylist() == real(arr, cg.named_regex).to_pylist()
    # a batch where every row verifies never runs the full regex
    arrow_extract(cg, pa.array(good, pa.string()))
    assert calls == [(cg.skeleton, len(good))]


FIELD = {
    "ip": ["1.2.3.4", "::1", "host.example.com", "a!b", "1.2.3.4.5", "-"],
    "user": ["-", "bob", "us er", "u\tx", "é"],
    "ts": [TS, "1/Jan/99:1:00:00 +0000", "18/Aug/2011:06:00:14", "x] y"],
    "verb": ["GET", "G-T", "", "POST"],
    "path": ["/", "/a?b=c", "/x HTTP/1.0", ""],
    "ver": [" HTTP/1.1", "", " HTTP/", " HTTP/1.1 x", " HTTP/2\""],
    "num": ["200", "-", "2x0", "+1.5", "", "1 2"],
    "qs": ['"-"', '"a \\"b\\" c"', "'x'", '"open', '""'],
}
TOKEN = st.text(alphabet='09az.:-_/"[]\' \t\\é+', max_size=8)


def field(name):
    return st.one_of(st.sampled_from(FIELD[name]), TOKEN)


@st.composite
def near_apache(draw):
    f = {k: draw(field(k)) for k in FIELD}
    line = (f'{f["ip"]} {draw(field("user"))} {f["user"]} [{f["ts"]}] '
            f'"{f["verb"]} {f["path"]}{f["ver"]}" {f["num"]} {draw(field("num"))} '
            f'{f["qs"]} {draw(field("qs"))}')
    return draw(st.text(alphabet="a !", max_size=3)) + line + draw(st.text(alphabet=' x"', max_size=2))


@given(st.lists(st.one_of(near_apache(), TOKEN, st.text(max_size=40), st.none()),
                min_size=1, max_size=20),
       st.sampled_from(PATTERNS))
@settings(max_examples=300, deadline=None)
def test_skeleton_differential(lines, pattern):
    assert_same_as_full(compile_grok(pattern), lines)


def test_mixed_spark_batch_matches_full_regex(spark):
    """One Arrow batch mixing verified rows, rows whose check fails and
    rows that do not match: per row, the arrow backend (skeleton +
    fallback) equals the expr backend (the full regex on the JVM)."""
    from logstash_spark.operators.grok import grok

    # not the 64 KB quoted agent: Java regex overflows its stack on QS there
    lines = [apache(), *HAND[1:11], apache(nbytes="-"), "nope", None, apache(ip="::1")]
    df = spark.createDataFrame(list(enumerate(lines)), "id long, text string").coalesce(1)
    rows = {}
    for backend in ("expr", "arrow"):
        rows[backend] = {r["id"]: r.asDict() for r in
                         grok(df, "text", "%{COMBINEDAPACHELOG}", backend=backend).collect()}
    assert rows["arrow"] == rows["expr"]
    assert rows["arrow"][2]["rawrequest"] == "G-T /x HTTP/1.1"
    assert rows["arrow"][1]["clientip"] == "b"
