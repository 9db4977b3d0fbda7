"""Grok: the pattern library compiled to ONE vectorized regex.

Reference behavior (plugin `logstash-filter-grok`, manifest
rakelib/default_plugins.rb:34; golden fixture docs/tutorials/
10-minute-walkthrough/apache-parse.conf + step-5-output.txt):

- ``%{NAME:field}`` captures as string; ``%{NAME:field:int}`` / ``:float``
  cast the capture.
- multiple match patterns per field: first that matches wins
  (``break_on_match``-style).
- no pattern matches -> tag ``_grokparsefailure``, no fields set.
- captures land as event fields next to existing ones.

Spark design (NOT the reference's per-event Ruby regex loop):

1. The pattern tree is expanded ONCE at plan-build time into a single flat
   regex with numbered groups (named groups are tracked positionally so the
   same compiled text works in Python `re`, Java regex, and RE2/DuckDB).
2. Two physical backends (``backend='auto'`` picks by capture count):
   - ``expr``  — pure JVM: one ``regexp_extract`` per capture group inside
     whole-stage codegen. Zero Python in the hot path; Catalyst CSE shares
     the match work. Best when capture count is small.
   - ``arrow`` — one ``arrow_udf`` running RE2 (``pyarrow.compute``)
     over the whole Arrow batch, returning a struct of string captures
     (Arrow in and out, no pandas). Best from 2 captures up
     (COMBINEDAPACHELOG: 12 captures = 1 pass instead of 12 regex scans).
     When ``compile_grok`` can prove it safe, the pass extracts with a
     reduced *capture skeleton* and verifies it (``arrow_extract``).
     Never row-at-a-time Python.
   Both backends cast ``:int``/``:float`` captures with the same Spark
   cast in ``grok()``.
At 100 TB both backends scale linearly with input partitions; there is no
shuffle in a grok stage.
"""

from __future__ import annotations

import re
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from logstash_spark.operators.patterns import BASE_PATTERNS
from logstash_spark.session import drop_zip_finders

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w\[\]@.-]+))?(?::(int|float))?\}")
GROK_FAILURE_TAG = "_grokparsefailure"


@dataclass
class CompiledGrok:
    """A grok pattern flattened to a single regex.

    ``regex`` uses only numbered groups (portable to Java regex / DuckDB);
    ``named_regex`` names each capture ``(?P<cN>...)`` positionally (for
    RE2 / pyarrow ``extract_regex``); ``captures`` maps field name ->
    (1-based group index, type). Non-capture groups are ``(?:...)`` so group
    numbering is stable across engines.

    ``skeleton`` is ``named_regex`` with some captures reduced to a
    delimiter class, and ``checks`` holds ``(group index, anchored original
    sub-pattern, reduced to '+')`` per reduced capture (see
    ``_capture_skeleton``); ``skeleton`` is None when nothing reduces.
    """

    source: str
    regex: str
    named_regex: str = ""
    captures: list[tuple[str, int, str]] = field(default_factory=list)
    skeleton: str | None = None
    checks: tuple[tuple[int, str, bool], ...] = ()

    def python_re(self) -> "re.Pattern[str]":
        # re.ASCII: Python's \w/\b/\d/\s are UNICODE by default, but the
        # JVM expr backend, RE2 (arrow backend + the DuckDB oracles) and
        # Ruby's Oniguruma (the reference) all treat them as ASCII — a '¹'
        # matched \w only under Unicode classes (hypothesis-found
        # cross-engine divergence)
        return re.compile(self.regex, re.ASCII)


def compile_grok(pattern: str, extra_patterns: dict[str, str] | None = None) -> CompiledGrok:
    """Expand ``%{NAME:field:type}`` references into one flat regex.

    Capture groups are emitted ONLY for named captures; library expansions
    become non-capturing. Duplicate capture names each get their OWN group —
    the reference's grok keeps every occurrence and the field becomes an
    array (mirrored by the backends via capture_groups()).
    """
    lib = dict(BASE_PATTERNS)
    if extra_patterns:
        lib.update(extra_patterns)

    captures: list[tuple[str, int, str]] = []
    bodies: dict[int, str] = {}  # group index -> expanded sub-pattern text
    group_counter = [0]

    def raw(segment: str) -> str:
        """Raw regex text between %{} refs: bare ``(`` groups become
        non-capturing; Oniguruma-style INLINE NAMED CAPTURES
        ``(?<name>...)`` (the reference grok's second capture syntax)
        become tracked capture groups."""

        def named_cap(m: re.Match) -> str:
            group_counter[0] += 1
            idx = group_counter[0]
            captures.append((m.group(1), idx, "string"))
            return f"(?P<c{idx}>"

        segment = _INLINE_NAMED.sub(named_cap, segment)
        return _PLAIN_GROUP.sub("(?:", segment)

    def expand(pat: str, depth: int) -> str:
        if depth > 20:
            raise ValueError(f"grok pattern recursion too deep in {pattern!r}")
        out: list[str] = []
        pos = 0
        for m in _GROK_REF.finditer(pat):
            out.append(raw(pat[pos : m.start()]))
            name, fieldname, typ = m.group(1), m.group(2), m.group(3)
            if name not in lib:
                raise KeyError(f"unknown grok pattern %{{{name}}}")
            if fieldname:
                group_counter[0] += 1
                idx = group_counter[0]
                captures.append((fieldname, idx, typ or "string"))
                bodies[idx] = expand(lib[name], depth + 1)
                out.append(f"(?P<c{idx}>{bodies[idx]})")
            else:
                out.append("(?:" + expand(lib[name], depth + 1) + ")")
            pos = m.end()
        out.append(raw(pat[pos:]))
        return "".join(out)

    named = expand(pattern, 0)
    regex = re.sub(r"\(\?P<c\d+>", "(", named)
    skeleton, checks = _capture_skeleton(named, bodies)
    return CompiledGrok(source=pattern, regex=regex, named_regex=named, captures=captures,
                        skeleton=skeleton, checks=checks)


def capture_groups(cg: CompiledGrok) -> dict[str, list[tuple[int, str]]]:
    """field name -> [(group index, type), ...] in occurrence order.
    More than one entry means the reference's duplicate-name semantics:
    the field collects ALL occurrences as an array."""
    d: dict[str, list[tuple[int, str]]] = {}
    for name, idx, typ in cg.captures:
        d.setdefault(name, []).append((idx, typ))
    return d


_PLAIN_GROUP = re.compile(r"(?<!\\)\((?!\?)")
# (?<name>...) but NOT lookbehinds (?<= / (?<!
_INLINE_NAMED = re.compile(r"(?<!\\)\(\?<(?![=!])([A-Za-z][\w@.\[\]]*)>")


# ---------------------------------------------------------------------------
# capture skeleton
# ---------------------------------------------------------------------------

try:
    from re import _constants as _sc, _parser as _sp
except ImportError:  # Python < 3.11
    import sre_constants as _sc
    import sre_parse as _sp


class _Unsafe(Exception):
    """The pattern holds a construct the skeleton analysis does not model."""


# Membership of a printable-ASCII char in each class; \s is only ' ' there,
# and every engine (Python re, RE2, Java) agrees on ASCII \d and \w.
_CATEGORY = {
    _sc.CATEGORY_DIGIT: str.isdigit,
    _sc.CATEGORY_NOT_DIGIT: lambda c: not c.isdigit(),
    _sc.CATEGORY_SPACE: lambda c: c == " ",
    _sc.CATEGORY_NOT_SPACE: lambda c: c != " ",
    _sc.CATEGORY_WORD: lambda c: c.isalnum() or c == "_",
    _sc.CATEGORY_NOT_WORD: lambda c: not (c.isalnum() or c == "_"),
}


def _capture_skeleton(
    named: str, bodies: dict[int, str]
) -> tuple[str | None, tuple[tuple[int, str, bool], ...]]:
    """Reduce the captures a following literal delimits to ``[^d]+``.

    Rule: a capture ``(?P<cN>A)`` reduces when every path that leaves it
    next matches the literal ``d`` (a printable ASCII char), ``A`` can never
    produce ``d`` (judged from its ``sre_parse`` tree), ``A`` holds no
    capture, no assertion and no word boundary at its edges, and the
    capture sits in no loop that can run twice. Its body becomes
    ``[^d]+`` (``[^d]*`` if ``A`` can be empty); the rest of the regex is
    kept verbatim, alternation order included. Anything the analysis does
    not model (flags, lookaround, back-references, syntax Python parses
    differently from RE2) leaves the pattern unreduced.

    Soundness (the skeleton S vs the full regex R, leftmost-first):
    since ``A`` cannot produce ``d`` and ``d`` must come next, ``A`` can
    only end at the first ``d`` after its start -- and so must ``[^d]+``.
    Every choice outside the reduced captures is therefore explored in the
    same order by R and S, and at each capture the span is the same; S
    accepts a path whenever R does (``[^d]+`` accepts a superset of ``A``
    there), and R accepts it exactly when each reduced span it went
    through is in ``A``. So S rejects every row R rejects, and if S's first
    accepted path has every reduced span matching ``^(?:A)$`` (the
    ``checks``; a DFA-only match), it is R's first accepted path: same
    start, same captures. Rows whose check fails are re-extracted with R.
    """
    if "{," in named:  # RE2 reads `x{,n}` as literal text, Python as a repeat
        return None, ()
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # e.g. nested-set POSIX classes
            tree = _sp.parse(named)
        st = tree.state
        if st.flags & ~_sc.SRE_FLAG_UNICODE or st.groupdict != {
            f"c{i}": i for i in range(1, st.groups)
        }:
            return None, ()
        follow: dict[int, int | None] = {}
        _followers(tree.data, None, False, follow)
    except (re.error, Warning, _Unsafe):
        return None, ()

    skeleton, checks = named, []
    for idx, body in bodies.items():
        d = follow.get(idx)
        if d is None or not 0x20 <= d < 0x7F:
            continue
        sub = _sp.parse(body)
        if not _excludes(sub.data, chr(d), 0, 0):
            continue
        plus = sub.getwidth()[0] > 0
        skeleton = skeleton.replace(
            f"(?P<c{idx}>{body})", f"(?P<c{idx}>[^\\x{d:02x}]{'+' if plus else '*'})", 1
        )
        checks.append((idx, f"^(?:{body})$", plus))
    return (skeleton, tuple(checks)) if checks else (None, ())


def _first_literal(rest: list, cont: int | None) -> int | None:
    """The literal every path through ``rest`` (then ``cont``) matches first."""
    if not rest:
        return cont
    op, av = rest[0]
    if op is _sc.LITERAL:
        return av
    if op is _sc.SUBPATTERN:
        return _first_literal([*av[3], *rest[1:]], cont)
    return None


def _followers(items: list, cont: int | None, loop: bool, out: dict) -> None:
    """Map each capture group to the literal that must follow it (None if
    unknown, or if the capture sits in a loop that may run twice)."""
    for i, (op, av) in enumerate(items):
        nxt = _first_literal(items[i + 1 :], cont)
        if op is _sc.SUBPATTERN:
            group, add_flags, del_flags, sub = av
            if add_flags or del_flags:
                raise _Unsafe
            if group is not None:
                out[group] = None if loop else nxt
            _followers(sub, nxt, loop, out)
        elif op is _sc.BRANCH:
            for alt in av[1]:
                _followers(alt, nxt, loop, out)
        elif op in (_sc.MAX_REPEAT, _sc.MIN_REPEAT):
            _lo, hi, sub = av
            _followers(sub, nxt if hi == 1 else None, loop or hi > 1, out)
        elif op not in (_sc.LITERAL, _sc.NOT_LITERAL, _sc.IN, _sc.ANY, _sc.AT):
            raise _Unsafe


def _excludes(items: list, d: str, pre: int, post: int) -> bool:
    """True iff ``items`` can never consume ``d`` and ``^(?:items)$`` judges
    a span exactly as the surrounding text would: no capture, assertion or
    anchor, and word boundaries only with >= 1 char on both sides inside
    the span (``pre``/``post``: chars consumed before/after ``items``)."""
    widths = [_sp.SubPattern(_sp.State(), [it]).getwidth()[0] for it in items]
    for i, (op, av) in enumerate(items):
        before, after = pre + sum(widths[:i]), post + sum(widths[i + 1 :])
        if op is _sc.LITERAL:
            ok = chr(av) != d
        elif op is _sc.NOT_LITERAL:
            ok = chr(av) == d
        elif op is _sc.IN:
            ok = not _in_class(av, d)
        elif op is _sc.AT:
            ok = av in (_sc.AT_BOUNDARY, _sc.AT_NON_BOUNDARY) and before > 0 and after > 0
        elif op is _sc.SUBPATTERN:
            ok = av[0] is None and _excludes(av[3], d, before, after)
        elif op is _sc.BRANCH:
            ok = all(_excludes(alt, d, before, after) for alt in av[1])
        elif op in (_sc.MAX_REPEAT, _sc.MIN_REPEAT):
            ok = av[1] == 0 or _excludes(av[2], d, before, after)
        else:  # ANY and everything unmodelled
            ok = False
        if not ok:
            return False
    return True


def _in_class(items: list, d: str) -> bool:
    """May the ``[...]`` class ``items`` match ``d``? Unknown -> True."""
    hit, negate = False, False
    for op, av in items:
        if op is _sc.NEGATE:
            negate = True
        elif op is _sc.LITERAL:
            hit = hit or chr(av) == d
        elif op is _sc.RANGE:
            hit = hit or av[0] <= ord(d) <= av[1]
        elif op is _sc.CATEGORY and av in _CATEGORY:
            hit = hit or _CATEGORY[av](d)
        else:
            return True
    return hit != negate


def _cast_type(typ: str) -> str:
    return {"int": "bigint", "float": "double", "string": "string"}[typ]


# ---------------------------------------------------------------------------
# backends
# ---------------------------------------------------------------------------


def _capture_columns(cg: CompiledGrok, group: Callable[[int], Column]) -> dict[str, Column]:
    """field name -> typed Column, from ``group(idx)``: capture group
    ``idx`` as a string Column, null where it did not take part. A
    duplicated capture name collects its non-null occurrences into an
    array (reference grok semantics); no occurrence -> null, not []."""

    def one(idx: int, typ: str) -> Column:
        return group(idx).cast(_cast_type(typ))

    cols: dict[str, Column] = {}
    for name, occ in capture_groups(cg).items():
        if len(occ) == 1:
            cols[name] = one(*occ[0])
        else:
            arr = F.array_compact(F.array(*[one(i, t) for i, t in occ]))
            cols[name] = F.when(F.size(arr) > 0, arr)
    return cols


def grok_expr_columns(cg: CompiledGrok, source: Column) -> dict[str, Column]:
    """JVM backend: one regexp_extract per capture (whole-stage codegen).

    regexp_extract returns '' on no-match; grok semantics are null -> use a
    matched-guard so non-matching rows yield nulls for every capture.
    """
    matched = source.rlike(cg.regex)

    def group(idx: int) -> Column:
        c = F.when(matched, F.regexp_extract(source, cg.regex, idx))
        # '' capture from an optional group -> null, matching reference's
        # "field not set" for unmatched optional captures.
        return F.when(c == "", F.lit(None)).otherwise(c)

    cols = _capture_columns(cg, group)
    cols["_grok_matched"] = matched
    return cols


def arrow_extract(cg: CompiledGrok, arr):
    """``pc.extract_regex(arr, cg.named_regex)``, computed through the
    capture skeleton when ``compile_grok`` derived one: one RE2 extract
    with the skeleton, one DFA-only ``^(?:A)$`` match per reduced capture
    on its field, and the full extract only on the rows where a check
    failed, scattered back. Same captures and match flags on every row
    (argument in ``_capture_skeleton``).

    A/B (measured, 4-core shared Xeon host; COMBINEDAPACHELOG over
    perfbench generator rows, 70% apache lines): on one core, 150k rows,
    5 reps, the full extract took 2.74-2.83 s; the skeleton extract
    0.76-0.80 s plus 0.10 s for the 8 checks (this function: 0.85-0.89 s).
    perfbench flagship_agg at local[4], 12 alternating pairs: 66.3k ->
    89.4k docs/s median (+35%, 12/12 pairs; parent IQR 7.9k); grok's
    summed Python time 4.6-5.8 s -> 3.3-3.4 s per pass over 3 traced
    pairs."""
    if cg.skeleton is None:
        return pc.extract_regex(arr, cg.named_regex)
    ext = pc.extract_regex(arr, cg.skeleton)  # null row = no match
    matched = verified = ext.is_valid()
    for idx, check, plus in cg.checks:
        col = ext.field(f"c{idx}")
        ok = pc.match_substring_regex(col, check)
        if plus:  # '' from `[^d]+` means the capture did not take part
            ok = pc.or_(ok, pc.equal(col, ""))
        verified = pc.and_(verified, pc.fill_null(ok, False))
    bad = pc.xor(matched, verified)  # matched, but a check failed
    if not pc.any(bad).as_py():
        return ext
    redo = pc.extract_regex(arr.filter(bad), cg.named_regex)
    fields = [pc.replace_with_mask(ext.field(i), bad, redo.field(i))
              for i in range(ext.type.num_fields)]
    valid = pc.replace_with_mask(matched, bad, redo.is_valid())
    return pa.StructArray.from_arrays(fields, fields=list(ext.type), mask=pc.invert(valid))


def grok_arrow_udf(cg: CompiledGrok):
    """RE2 backend: one ``arrow_udf`` over ``arrow_extract`` — vectorized
    C++ passes over the Arrow batch, no per-row Python and no pandas hop.
    It returns a non-null struct of every capture group ``cN`` as a
    string ('' from an optional group that did not take part -> null) and
    ``_grok_matched``; ``grok()`` types and names the captures with the
    same Spark expressions as the expr backend (``_capture_columns``).

    A/B against the pandas UDF this replaced (perfbench flagship_agg,
    local[4], 4-core shared Xeon host, 3 traced pairs, with
    ``drop_zip_finders``): ``grok.python_run_s`` 2.86-3.07 s -> 1.34-1.58 s
    per pass, the same bytes returned.

    Measured alternative (rejected): a ``mapInArrow`` formulation ships
    EVERY column through the Python worker; on the real pages table (html
    binary present) it was ~30% SLOWER than a scalar UDF, which Spark
    feeds just the one input column."""
    out_type = T.StructType(
        [T.StructField(f"c{idx}", T.StringType()) for _, idx, _ in cg.captures]
        + [T.StructField("_grok_matched", T.BooleanType())]
    )

    @arrow_udf(out_type)
    def _grok(arr: pa.Array) -> pa.Array:
        drop_zip_finders()
        ext = arrow_extract(cg, arr)  # StructArray; null row = no match
        caps = [pc.if_else(pc.equal(c, ""), None, c) for c in ext.flatten()]
        return pa.StructArray.from_arrays(
            [*caps, ext.is_valid()], names=[*(f.name for f in ext.type), "_grok_matched"])

    return _grok


def grok(
    df: DataFrame,
    source: str,
    patterns: str | list[str],
    *,
    backend: str = "auto",
    extra_patterns: dict[str, str] | None = None,
    tag_on_failure: str | list[str] = GROK_FAILURE_TAG,
    overwrite_tags: bool = False,
    break_on_match: bool = True,
    overwrite: list[str] | None = None,
    matched_col: str = "_grok_matched",
) -> DataFrame:
    """Apply grok to ``df[source]``; adds one column per capture + failure tag.

    Multiple patterns implement the reference's first-match-wins list: later
    patterns only fill fields for rows the earlier ones missed.
    ``break_on_match=False`` (the plugin option) instead applies EVERY
    pattern — each matching pattern contributes its fields (first
    non-null value wins per field, the plugin's no-overwrite default).

    **Append-to-existing default** (reference filters/base.rb:182-196, the
    semantics grok captures inherit): a capture whose target column ALREADY
    EXISTS appends into an array ``[existing, captured]`` instead of
    replacing it — the famous `%{GREEDYDATA:message}`-over-`message` gotcha
    real configs silence with ``overwrite => ["message"]``. Fields listed in
    ``overwrite`` get plain replacement. Fixed-schema note: once a column is
    appendable its type is array; rows where only one side exists hold a
    1-element array (the engine's documented scalar->array promotion; the
    row engine keeps a scalar there).

    ``backend='auto'`` picks ``expr`` for a pattern with at most 1 capture
    and ``arrow`` from 2 up. A pattern using QUOTEDSTRING (``QS``) always
    goes to ``arrow``: Java regex recurses once per iteration of its loop,
    so a ~64 KB quoted field overflows the stack and takes the local JVM
    down; RE2 does not recurse. The JVM expr backend rescans once per
    capture; the arrow backend extracts every capture in one RE2 pass,
    through the verified capture skeleton whenever ``compile_grok``
    derived one (``arrow_extract``). Measured (4-core Xeon host, local[4],
    400k perfbench rows, warm): 1 capture expr 0.73 s / arrow 0.85 s,
    2 captures 1.79 / 0.61 s, 3 captures 2.14 / 0.58 s.
    """
    pats = [patterns] if isinstance(patterns, str) else list(patterns)
    ow = set(overwrite or [])
    pre_cols = set(df.columns)
    compiled = [compile_grok(p, extra_patterns) for p in pats]
    if backend == "auto":
        max_caps = max((len(cg.captures) for cg in compiled), default=0)
        quoted = any(BASE_PATTERNS["QUOTEDSTRING"] in cg.regex for cg in compiled)
        backend = "expr" if max_caps < 2 and not quoted else "arrow"
    if backend not in ("expr", "arrow"):
        raise ValueError(f"grok backend must be 'expr', 'arrow' or 'auto', not {backend!r}")

    # (name, type, is_array): a field duplicated inside ANY pattern becomes
    # an array everywhere (the reference's per-event union type is
    # unrepresentable in a fixed schema; scalar matches wrap in 1-arrays)
    all_fields: list[tuple[str, str, bool]] = []
    field_pos = {}
    for cg in compiled:
        for name, occ in capture_groups(cg).items():
            is_arr = len(occ) > 1
            if name not in field_pos:
                field_pos[name] = len(all_fields)
                all_fields.append((name, occ[0][1], is_arr))
            elif is_arr and not all_fields[field_pos[name]][2]:
                n, t, _ = all_fields[field_pos[name]]
                all_fields[field_pos[name]] = (n, t, True)

    matched_any = F.lit(False)
    per_pattern: list[dict[str, Column]] = []
    # SNAPSHOT the source: a capture named after the source column (e.g.
    # '%{WORD:verb} %{GREEDYDATA:message}' over 'message') overwrites it,
    # and the expr backend's unanchored Column expressions would re-resolve
    # against the overwritten value — corrupting later captures and the
    # failure tag. The temp column pins the original text for every
    # backend and pattern.
    snap = "_grok_src"
    while snap in df.columns:
        snap += "_"
    df = df.withColumn(snap, F.col(source).cast("string"))
    src = F.col(snap)
    for i, cg in enumerate(compiled):
        this_src = src
        if break_on_match and i > 0:
            # rows an earlier pattern already matched are first-match-won:
            # NULL the input so later patterns' regex engines skip them
            # instead of scanning every row with every pattern (UDFs are
            # evaluated unconditionally — a when() around the CALL wouldn't
            # help, masking the INPUT does)
            this_src = F.when(
                _matched_before(per_pattern, i), F.lit(None)
            ).otherwise(src)
        if backend == "arrow":
            udf = grok_arrow_udf(cg)
            sname = f"_grok_{i}"
            df = df.withColumn(sname, udf(this_src))
            cols = _capture_columns(cg, lambda idx: F.col(sname)[f"c{idx}"])
            cols["_grok_matched"] = F.col(sname)["_grok_matched"]
        else:
            cols = grok_expr_columns(cg, this_src)
            # masked (null) input -> rlike null: settle to definite false
            cols["_grok_matched"] = F.coalesce(cols["_grok_matched"], F.lit(False))
        per_pattern.append(cols)

    # first-match-wins merge across the pattern list
    out_cols: dict[str, Column] = {}
    for fname, typ, is_arr in all_fields:
        chain: Column | None = None
        for i, cg in enumerate(compiled):
            groups_i = capture_groups(cg)
            if fname not in groups_i:
                continue
            val = per_pattern[i][fname]
            if is_arr and len(groups_i[fname]) == 1:
                # field is an array overall but scalar in this pattern
                val = F.when(val.isNotNull(), F.array(val))
            gate = per_pattern[i]["_grok_matched"]
            if break_on_match:
                gate = gate & ~_matched_before(per_pattern, i)
            this = F.when(gate, val)
            chain = this if chain is None else F.coalesce(chain, this)
        target_t = f"array<{_cast_type(typ)}>" if is_arr else _cast_type(typ)
        out_cols[fname] = chain.cast(target_t)

    from logstash_spark.event import set_path

    cap_shape = {n: (t, a) for n, t, a in all_fields}
    for fname, col in out_cols.items():
        if fname.startswith("["):
            # nested field-reference capture target `%{WORD:[a][b]}`
            # (reference grok supports field refs as capture names; nested
            # targets replace — append applies to top-level columns)
            df = set_path(df, fname, col)
        elif fname in pre_cols and fname not in ow:
            typ, is_arr = cap_shape[fname]
            df = df.withColumn(
                fname, _append_existing(df, fname, col, _cast_type(typ), is_arr)
            )
        else:
            df = df.withColumn(fname, col)

    matched_any = per_pattern[0]["_grok_matched"]
    for cols in per_pattern[1:]:
        matched_any = matched_any | cols["_grok_matched"]
    # matched_col: the multi-field .conf composite gives each field its own
    # flag name so the compiler can OR them into ONE filter_matched
    df = df.withColumn(matched_col, matched_any)
    # the plugin's tag_on_failure is an ARRAY (default [_grokparsefailure]);
    # every listed tag appends on failure
    for t in ([tag_on_failure] if isinstance(tag_on_failure, str) else list(tag_on_failure)):
        df = _append_tag_unless(df, "tags", t, matched_any)
    # drop struct temporaries
    drop = [c for c in df.columns if c.startswith("_grok_") and c not in (matched_col,)]
    # (includes the source snapshot _grok_src*)
    if drop:
        df = df.drop(*drop)
    return df


def _append_existing(
    df: DataFrame, fname: str, cap: Column, cap_elem: str, cap_is_arr: bool
) -> Column:
    """Array-append merge for a capture landing on an existing column
    (filters/base.rb:187-193: existing value wraps to an array, capture
    appends). Null capture keeps the existing value; both-null stays null.
    Element types unify to the common type, else string; complex existing
    values serialize via to_json (the row engine would nest them)."""
    ex_t = df.schema[fname].dataType
    if isinstance(ex_t, T.ArrayType):
        ex_elem_t = ex_t.elementType
        ex_is_arr = True
    else:
        ex_elem_t = ex_t
        ex_is_arr = False
    if isinstance(ex_elem_t, (T.StructType, T.MapType)):
        ex_cast = None  # serialize below
        elem = "string"
    else:
        elem = cap_elem if ex_elem_t.simpleString() == cap_elem else "string"
        ex_cast = elem
    empty = F.array().cast(f"array<{elem}>")
    ex_col = F.col(fname)
    if ex_is_arr:
        if ex_cast is None:
            ex_arr = F.transform(ex_col, lambda x: F.to_json(x))
        else:
            ex_arr = ex_col.cast(f"array<{elem}>")
        ex_arr = F.coalesce(ex_arr, empty)
    else:
        scalar = F.to_json(ex_col) if ex_cast is None else ex_col.cast(elem)
        ex_arr = F.when(ex_col.isNotNull(), F.array(scalar)).otherwise(empty)
    if cap_is_arr:
        cap_arr = F.coalesce(cap.cast(f"array<{elem}>"), empty)
    else:
        cap_c = cap.cast(elem)
        cap_arr = F.when(cap_c.isNotNull(), F.array(cap_c)).otherwise(empty)
    merged = F.concat(ex_arr, cap_arr)
    return F.when(F.size(merged) > 0, merged)


def _matched_before(per_pattern: list[dict[str, Column]], i: int) -> Column:
    if i == 0:
        return F.lit(False)
    acc = per_pattern[0]["_grok_matched"]
    for j in range(1, i):
        acc = acc | per_pattern[j]["_grok_matched"]
    return acc


def _append_tag_unless(df: DataFrame, tags_col: str, tag: str, ok: Column) -> DataFrame:
    """Append ``tag`` to the tags array where NOT ok (filters/base.rb:205-210)."""
    existing = F.col(tags_col) if tags_col in df.columns else F.lit(None).cast(T.ArrayType(T.StringType()))
    tagged = F.array_append(F.coalesce(existing, F.array().cast(T.ArrayType(T.StringType()))), F.lit(tag))
    return df.withColumn(tags_col, F.when(ok, existing).otherwise(tagged))
