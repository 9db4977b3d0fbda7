"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (SURVEY §2): language-ID, quality scoring,
token counting, document fingerprinting over the `documents` table. All are
pure JVM column expressions (regexp counts + arithmetic) so they stay inside
whole-stage codegen and are exactly mirrorable in the DuckDB oracle — no
Python in the path, linear scaling, no shuffle.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Per-language marker words (tiny stopword lists). Deliberately ASCII and
# word-boundary anchored so Java regex, RE2 (DuckDB) and Python agree.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is|that|for|with|was)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b",
    "fr": r"\b(le|la|les|et|est|une|des|dans|pour|que)\b",
    "es": r"\b(el|la|los|las|es|una|con|para|por|del)\b",
}


def marker_counts(text: Column) -> dict[str, Column]:
    # regexp_count == len(regexp_extract_all) without materializing the
    # match array per row
    return {lang: F.regexp_count(F.lower(text), F.lit(pat)) for lang, pat in LANG_MARKERS.items()}


def lang_id(df: DataFrame, source: str = "text", target: str = "lang_pred") -> Column | DataFrame:
    """N-gram/stopword-heuristic language ID: argmax of marker-word counts,
    'und' (undetermined) when no marker hits. Deterministic tie-break by
    language code order (en < de is resolved by fixed comparison chain).

    The counts are STAGED as their own projection before the argmax CASE
    chain: each when() level references the running best twice (condition
    + else), so inlining the regexp_extract_all counts duplicates them
    2^k-fold — conditional branches defeat codegen subexpression
    elimination, and composing this op with other maps blew the combined
    projection past JIT limits (measured: 5.8s alone, 3x the component
    sum when composed, at 1M rows). Staged: one regexp pass per language."""
    cnames = [f"_lid_{lang}" for lang in LANG_MARKERS]
    counts = marker_counts(F.col(source))
    out = df.withColumns({n: counts[lang] for n, lang in zip(cnames, LANG_MARKERS)})
    best = F.lit("und")
    best_n = F.lit(0)
    # fixed-order scan: strictly-greater wins -> first language in LANG_MARKERS
    # order wins ties; mirrors a deterministic CASE chain in the oracle SQL.
    # Duplicating plain column refs in the chain is free.
    for name, lang in reversed(list(zip(cnames, LANG_MARKERS))):
        c = F.col(name)
        best = F.when(c >= best_n, F.lit(lang)).otherwise(best)
        best_n = F.when(c >= best_n, c).otherwise(best_n)
    best = F.when(best_n > 0, best).otherwise(F.lit("und"))
    return out.withColumn(target, best).drop(*cnames)


def token_count(df: DataFrame, source: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword proxy (runs of letters, digits,
    or single punctuation — the GPT-2 pre-tokenizer shape)."""
    txt = F.col(source)
    df = df.withColumn("n_ws_tokens", F.size(F.split(F.trim(txt), r"\s+")))
    df = df.withColumn(
        # the punctuation branch uses Java class INTERSECTION [\S&&[^...]]
        # instead of the equivalent negation [^A-Za-z0-9\s] — the negated
        # multi-range class is a measured 4x JDK regex slow path (see
        # normalize_text); the oracle keeps the portable negated form
        "n_bpe_tokens",
        F.regexp_count(txt, F.lit(r"[A-Za-z]+|[0-9]|[\S&&[^A-Za-z0-9]]")),
    )
    return df


def quality_score(df: DataFrame, source: str = "text") -> DataFrame:
    """Heuristic document-quality features + a composite score in [0,1]:
    length band, mean word length sanity, alpha ratio, stopword presence.
    The exact formula is arbitrary but FROZEN — it's an oracle-checked
    contract, mirrored in SQL."""
    txt = F.col(source)
    n_chars = F.length(txt)
    # Stage the regex/split-derived features once, then derive ratios and
    # the score from the STAGED columns — the score's CASE branches would
    # otherwise re-inline each feature expression per reference (regex
    # passes multiply; see lang_id's staging note).
    # n_alpha via translate (delete the 52 ASCII letters, subtract lengths),
    # NOT regexp_replace('[^A-Za-z]'): same value, ~2x faster, and the
    # complement-class regex triggered a measured 20x JVM regex slowdown
    # when co-resident in one projection with the PII email pattern
    # (JIT call-site pollution across java.util.regex predicates; the
    # composed corpus-cleaning map went 5.8s -> 28s at 1M rows).
    _letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    out = df.withColumns({
        "n_words": F.size(F.split(F.trim(txt), r"\s+")),
        "_q_alpha": F.length(txt) - F.length(F.translate(txt, _letters, "")),
        "_q_stop": F.regexp_count(F.lower(txt), F.lit(LANG_MARKERS["en"])),
    })
    n_words = F.col("n_words")
    mean_wlen = (n_chars - (n_words - 1)) / n_words  # chars minus separators
    alpha_ratio = F.col("_q_alpha") / F.greatest(n_chars, F.lit(1))
    stop_ratio = F.col("_q_stop") / F.greatest(n_words, F.lit(1))
    score = (
        F.when((n_words >= 10) & (n_words <= 100000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_wlen >= 3) & (mean_wlen <= 12), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.least(alpha_ratio, F.lit(0.8)) * 0.3125  # 0.25 at ratio 0.8
        + F.least(stop_ratio * 2.5, F.lit(1.0)) * 0.25
    )
    return (
        out.withColumn("mean_word_len", F.round(mean_wlen, 4))
        .withColumn("alpha_ratio", F.round(alpha_ratio, 4))
        .withColumn("stopword_ratio", F.round(stop_ratio, 4))
        .withColumn("quality", F.round(score, 4))
        .drop("_q_alpha", "_q_stop")
    )


GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(df: DataFrame, source: str = "text") -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, 'Scaling
    Language Models: ... Gopher', Appendix A — the MassiveWeb heuristics),
    as staged JVM column expressions:

    - 50 <= word count <= 100,000
    - 3 <= mean word length <= 10
    - symbol-to-word ratio ('#' or '...') <= 0.1
    - <= 90% of lines start with a bullet; <= 30% end with an ellipsis
    - >= 80% of words contain at least one alphabetic character
    - >= 2 distinct stop words from {the, be, to, of, and, that, have, with}

    Emits the individual signals + ``gopher_pass``. Counting is via
    length-difference / list ops (no complement-class regex — see the
    quality_score staging note for the measured JVM regex cliff).
    """
    txt = F.col(source)
    words = F.split(F.trim(txt), r"\s+")
    lines = F.split(txt, "\n")
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_ell = (
        F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))
    ) / 3 + (
        F.length(txt) - F.length(F.replace(txt, F.lit("…"), F.lit("")))
    )
    out = df.withColumns({
        "n_words": F.size(words),
        "_g_nonspace": F.length(F.regexp_replace(txt, r"\s+", "")),
        "_g_sym": (n_hash + n_ell).cast("double"),
        "_g_alpha_words": F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))),
        "_g_bullet": F.size(
            F.filter(lines, lambda l: l.rlike(r"^\s*(\-|\*|•) "))
        ),
        "_g_ellend": F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))),
        "_g_nlines": F.size(lines),
        "_g_stops": F.size(
            F.array_intersect(
                F.array_distinct(F.transform(words, F.lower)),
                F.array(*[F.lit(s) for s in GOPHER_STOPS]),
            )
        ),
    })
    n_words = F.greatest(F.col("n_words"), F.lit(1))
    n_lines = F.greatest(F.col("_g_nlines"), F.lit(1))
    mean_wlen = F.col("_g_nonspace") / n_words
    sym_ratio = F.col("_g_sym") / n_words
    alpha_frac = F.col("_g_alpha_words") / n_words
    bullet_frac = F.col("_g_bullet") / n_lines
    ell_frac = F.col("_g_ellend") / n_lines
    ok = (
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
        & (mean_wlen >= 3) & (mean_wlen <= 10)
        & (sym_ratio <= 0.1)
        & (bullet_frac <= 0.9) & (ell_frac <= 0.3)
        & (alpha_frac >= 0.8)
        & (F.col("_g_stops") >= 2)
    )
    return (
        out.withColumn("mean_word_len_g", F.round(mean_wlen, 4))
        .withColumn("symbol_ratio", F.round(sym_ratio, 4))
        .withColumn("alpha_word_frac", F.round(alpha_frac, 4))
        .withColumn("bullet_line_frac", F.round(bullet_frac, 4))
        .withColumn("ellipsis_line_frac", F.round(ell_frac, 4))
        .withColumn("n_stop_words", F.col("_g_stops"))
        .withColumn("gopher_pass", ok)
        .drop("_g_nonspace", "_g_sym", "_g_alpha_words", "_g_bullet",
              "_g_ellend", "_g_nlines", "_g_stops")
    )


def repetition_ratio(
    df: DataFrame, source: str = "text", n: int = 2, target: str = "rep_ratio"
) -> DataFrame:
    """Within-document duplicate n-gram fraction — the standard repetition
    signal of published corpus-cleaning rules (Gopher/MassiveText-style
    filters drop documents whose duplicate-2-gram fraction is high):
    ``1 - distinct_ngrams / total_ngrams`` over word n-grams.

    Pure JVM: split -> transform(sequence) n-gram build -> array_distinct;
    no Python, no shuffle, linear per row — survives 100 TB as a map."""
    words = F.split(F.trim(F.col(source)), r"\s+")
    k = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    # sequence(1, k) only evaluates on the k>0 branch (CASE short-circuits
    # per row), so short docs never build a descending sequence
    ratio = F.when(
        k > 0, F.lit(1.0) - F.size(F.array_distinct(grams)) / k.cast("double")
    ).otherwise(F.lit(0.0))
    return df.withColumn("n_ngrams", F.greatest(k, F.lit(0))).withColumn(
        target, F.round(ratio, 4)
    )


# ---------------------------------------------------------------------------
# PII redaction (corpus-cleaning staple: strip emails/IPs/SSNs/phones before
# training). Regexes are chosen to parse identically under Java regex (Spark)
# and RE2 (DuckDB): no lookaround, no backrefs, ASCII \b word boundaries.
# ---------------------------------------------------------------------------

# category -> (pattern, replacement token); ORDER MATTERS and is part of the
# frozen contract: email first (its local part can contain digits a later
# phone pass would eat), SSN before phone (a bare SSN also matches loose
# phone shapes), IP last (nothing else contains dotted quads).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    # octets bounded to 0-255: the naive \d{1,3} quad redacted version
    # strings like '537.36.1.15' as <IP> (false positives on UA/version
    # tokens all over web text)
    ("ip", r"\b(25[0-5]|2[0-4]\d|1?\d?\d)(\.(25[0-5]|2[0-4]\d|1?\d?\d)){3}\b", "<IP>"),
]


def pii_redact(df: DataFrame, source: str = "text", target: str = "text_redacted") -> DataFrame:
    """Redact PII spans and count them per category (``n_email`` ...).

    Counts are measured STAGE-WISE — each category counts on the text
    after the previous categories were already replaced — so one span is
    attributed to exactly one category (an email's digits never also count
    as a phone). Pure JVM regexp cascade: zero Python, no shuffle, linear
    per row; at 100 TB this composes with html_to_text_col in the same
    codegen'd map stage.

    Each intermediate text is staged as its OWN projection and referenced
    twice (by its count and by the next replace): inlining the cumulative
    replace chain into every count column re-runs the whole chain per
    count (~14 regex passes/row, measured 9x slower at sf0.1); Catalyst's
    CollapseProject declines to inline non-cheap multi-referenced exprs,
    so the staging sticks. Counts use regexp_count (no match-array
    materialization)."""
    out = df
    cur_name = source
    for i, (name, pat, tok) in enumerate(PII_PATTERNS):
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col(cur_name), F.lit(pat)))
        nxt = target if i == len(PII_PATTERNS) - 1 else f"_pii_t{i}"
        out = out.withColumn(nxt, F.regexp_replace(F.col(cur_name), pat, tok))
        cur_name = nxt
    return out.drop(*[f"_pii_t{i}" for i in range(len(PII_PATTERNS) - 1)])


# ---------------------------------------------------------------------------
# URL canonicalization + domain extraction (web-corpus dedup/blocklists key
# on the canonical URL, mixture stats on the registered domain).
# ---------------------------------------------------------------------------

_TRACKING_PARAM = r"(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*"


def canonicalize_url(df: DataFrame, source: str = "url", target: str = "canon_url") -> DataFrame:
    """Canonical URL + host + registered domain, all JVM regex:

    - scheme and host lowercased (path/query case is significant, kept)
    - fragment dropped; tracking params (utm_*, fbclid, gclid, ref) dropped
      with their separators, then a dangling '?'/'&' is trimmed
    - default ports (:80 http, :443 https) dropped
    - trailing slash trimmed (except a bare root, normalized to no slash)

    ``host`` = the authority as written (lowercased); ``domain`` = the last
    two labels (the e-TLD+1 of generic TLDs; a public-suffix table slots in
    as a broadcast dim where precision matters)."""
    u = F.col(source)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    rest = F.regexp_replace(rest, r"#.*$", "")  # fragment
    host = F.lower(F.regexp_extract(rest, r"^([^/?]+)", 1))
    tail = F.regexp_replace(rest, r"^[^/?]+", "")
    # tracking params, LEFT-ANCHORED on the separator (an unanchored pass
    # corrupted params merely ENDING in a tracking name: 'aref=1' lost its
    # 'ref=1'): pass 1 collapses a RUN of tracking params that have a
    # following param, keeping the leading separator; pass 2 drops a final
    # tracking param with its separator. No lookbehind — RE2 (the DuckDB
    # oracle) has none.
    tail = F.regexp_replace(tail, r"([?&])(?:" + _TRACKING_PARAM + r"&)+", "$1")
    tail = F.regexp_replace(tail, r"[?&]" + _TRACKING_PARAM, "")
    tail = F.regexp_replace(tail, r"\?$", "")
    host_n = F.when(
        scheme == "http", F.regexp_replace(host, r":80$", "")
    ).when(scheme == "https", F.regexp_replace(host, r":443$", "")).otherwise(host)
    # path-final slash trims both at end-of-url and before the query
    # (two literal passes — no backreference, so Java and RE2 agree)
    tail = F.regexp_replace(F.regexp_replace(tail, r"/\?", "?"), r"/$", "")
    canon = F.concat(scheme, F.lit("://"), host_n, tail)
    bare_host = F.regexp_replace(host_n, r":\d+$", "")
    domain = F.regexp_extract(bare_host, r"([^.]+\.[^.]+)$", 1)
    return (
        df.withColumn(target, canon)
        .withColumn("host", bare_host)
        .withColumn("domain", domain)
    )


def normalize_text(txt: Column) -> Column:
    """Canonical form for dedup/fingerprint: lowercase, collapse whitespace,
    strip non-alphanumerics (keeps spaces).

    The strip class is written as a Java class INTERSECTION
    ``[\\S&&[^a-z0-9]]`` (non-space AND non-alphanumeric) instead of the
    equivalent negation ``[^a-z0-9\\s]``: a negated class holding two
    ranges plus anything else compiles to a JDK regex slow path measured
    at 40x (14.1s vs 0.37s per 1M rows) — it gated every exact-dedup and
    fingerprint hash. Oracle SQL keeps the portable negated form (DuckDB's
    RE2 has no such cliff); values are identical (property-tested on
    punctuation/unicode/control chars)."""
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(txt), r"[\S&&[^a-z0-9]]", ""), r"\s+", " "))


def doc_fingerprint(df: DataFrame, source: str = "text", target: str = "fp") -> DataFrame:
    """Content fingerprint = md5 of normalized text (exact-dup key), plus a
    64-bit rolling-hash-style numeric fingerprint (xxhash64) for cheap
    bucketing. md5 is oracle-mirrorable; xxhash64 is Spark-internal."""
    norm = normalize_text(F.col(source))
    df = df.withColumn(target, F.md5(norm))
    df = df.withColumn(target + "64", F.xxhash64(norm))
    return df


def hashed_linear_score(
    df: DataFrame,
    *,
    source: str = "text",
    target: str = "clf_score",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Linear bag-of-words quality classifier applied at corpus scale — the
    plan shape of a fasttext-style filter: tokenize, look up a weight per
    token, mean, squash to (0,1). Weights here are hash-derived (keeps the
    oracle external-data-free); a learned vocabulary swaps in as a
    broadcast map lookup with the identical plan (map-side, zero shuffle,
    whole-stage codegen — the per-doc cost is one hash per token).

    Determinism across engines: per-token weights are INTEGER units in
    [-1000, 1000] (integer sum is order-independent, unlike float sums) and
    the squash is the rational fast-sigmoid 0.5 + x/(2(1+|x|)) — IEEE-exact
    division, no libm exp whose last ulp differs between JVM and C.

    ``hash_fn='md5'``: units from the first 4 hex chars of md5(token)
    (DuckDB-verifiable family, same trick as dedup_minhash_lsh);
    'xxhash64' is production.
    """
    toks = F.filter(
        F.split(F.lower(F.col(source)), r"\s+"), lambda t: t != F.lit("")
    )
    if hash_fn == "md5":
        unit = lambda t: (  # noqa: E731
            F.pmod(F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long"), F.lit(2001))
            - F.lit(1000)
        )
    else:
        unit = lambda t: F.pmod(F.xxhash64(t), F.lit(2001)) - F.lit(1000)  # noqa: E731
    units = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + unit(t))
    n = F.size(toks)
    x = units / (F.lit(1000.0) * n)
    score = F.lit(0.5) + x / (F.lit(2.0) * (F.lit(1.0) + F.abs(x)))
    return df.withColumn(
        target,
        F.when(n > 0, F.round(score, 6)).otherwise(F.lit(0.5)),
    ).withColumn(target + "_n_tokens", n.cast("bigint"))


_HTML_ENTITIES = [
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&"),  # &amp; LAST (double-escape safety)
]


def html_to_text_col(html_str: Column) -> Column:
    """Extract visible text from an HTML string — pure JVM regex cascade
    (the north rule's per-url byte-identical extraction invariant rides on
    this): drop script/style subtrees, strip tags, decode the common
    entities, collapse inter-tag whitespace runs.

    At 100 TB this is the hottest map in a web pipeline: zero Python, no
    shuffle, fully codegen'd; one pass per regex over the page.
    """
    # guard the expensive passes behind cheap containment checks: codegen
    # evaluates only the taken CASE branch, so pages without script/style
    # blocks (most) skip that backtracking regex and pages without '&'
    # skip all seven entity scans — measured ~2x on the synthetic corpus
    has_block = F.lower(html_str).contains("<script") | F.lower(html_str).contains("<style")
    s = F.when(
        has_block,
        F.regexp_replace(html_str, r"(?is)<(script|style)[^>]*>.*?</\1>", " "),
    ).otherwise(html_str)
    s = F.regexp_replace(s, r"(?s)<[^>]+>", " ")
    ent_chain = s
    for ent, rep in _HTML_ENTITIES:
        ent_chain = F.regexp_replace(ent_chain, ent, rep)
    s = F.when(s.contains("&"), ent_chain).otherwise(s)
    # collapse runs of whitespace that tag-stripping created; preserve the
    # page's own single spaces
    s = F.trim(F.regexp_replace(s, r"\s{2,}", " "))
    return s


def c4_line_rules(
    df: DataFrame,
    source: str = "text",
    id_col: str = "doc_id",
    *,
    min_words: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4's line-level cleaning rules (Raffel et al. 2020 §2.2, public):
    keep a line only if it (a) ends in terminal punctuation (. ! ? "),
    (b) has at least ``min_words`` words, (c) does not contain
    "javascript", "lorem ipsum", or a curly brace (code/boilerplate
    markers — the published rule set). A document whose surviving lines
    number fewer than ``min_lines`` is dropped entirely (kept here with
    ``kept = false`` so the funnel accounts for it — no silent removal).

    Returns ``(id_col, n_lines, n_kept_lines, kept, text_clean)`` where
    ``text_clean`` is the newline-rejoin of surviving lines (empty when
    the document is dropped).

    Scale shape: pure per-row JVM — split / filter / array_join inside
    the scan stage; no explode, no shuffle, composes with dedup and
    quality gates downstream at zero exchange cost.

    Line framing: splits on ``\r?\n`` so CRLF corpora behave like LF
    ones (and the punctuation anchor never sees a stray ``\r``);
    ``text_clean`` rejoins with ``\n``. NULL text counts as one empty
    line -> kept=false, never a NULL row (the no-silent-removal
    contract)."""
    lines = F.split(F.coalesce(F.col(source), F.lit("")), "\r?\n")

    def keep(l: Column) -> Column:
        lt = F.trim(l)
        low = F.lower(lt)
        return (
            lt.rlike(r'[.!?"]$')
            & (F.size(F.split(lt, r"\s+")) >= min_words)
            & ~low.contains("javascript")
            & ~low.contains("lorem ipsum")
            & ~lt.contains("{")
            & ~lt.contains("}")
        )

    survivors = F.filter(lines, keep)
    n_kept = F.array_size(survivors)
    kept_doc = n_kept >= min_lines
    return df.select(
        F.col(id_col),
        F.array_size(lines).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept_lines"),
        kept_doc.alias("kept"),
        F.when(kept_doc, F.array_join(survivors, "\n")).otherwise(F.lit("")).alias("text_clean"),
    )


# ---------------------------------------------------------------------------
# main-content extraction (jusText/Boilerpipe-style block heuristic)
# ---------------------------------------------------------------------------

_BLOCK_TAGS = "p|div|h[1-6]|li|blockquote|article|section|footer|nav|td|pre|table|ul|ol|header|aside"


def main_content(
    df: DataFrame,
    source: str = "html_str",
    *,
    min_words: int = 3,
    max_link_density: float = 0.5,
    target: str = "main_text",
) -> DataFrame:
    """Boilerplate-aware main-content extraction (the jusText/Boilerpipe
    block heuristic, Pomikalek 2011 reduced to its two load-bearing
    rules): segment the page at block-level tag boundaries, score each
    block by word count and link density (anchor-text chars / text
    chars), keep blocks with >= ``min_words`` words and link density <=
    ``max_link_density``, re-join survivors with newlines. Navigation
    bars and footers are short and link-saturated, so both rules fire
    on exactly the boilerplate a flat tag-strip (html_to_text_col) keeps.

    Entirely higher-order column functions over ONE split array —
    per-row, no explode, no shuffle, no Python; at corpus scale this is
    a map stage that composes with the page scan. Adds ``target``,
    ``n_blocks`` and ``n_kept`` (drop accounting, never silent).

    Documented simplifications vs full jusText: no short/near-good
    context propagation between blocks, and stopword density is not
    scored (language-agnostic by design; compose with lang_id +
    quality_score for that axis)."""
    # head/script/style subtrees first: their text (titles, JS, CSS) must
    # not leak into any block's word count
    h = F.regexp_replace(
        F.col(source), r"(?is)<(script|style|head)[^>]*>.*?</\1>", " "
    )
    marker = "\x01"
    blocks = F.split(
        F.regexp_replace(
            h, f"(?i)<(/?)({_BLOCK_TAGS})\\b", marker + "<$1$2"
        ),
        marker,
    )
    if not 0 < max_link_density <= 1:
        raise ValueError("max_link_density must be in (0, 1]")
    # exact fraction p/q so the density test stays integer: lk*q <= len*p
    ld = Fraction(max_link_density).limit_denominator(1000)

    def _visible(c: Column) -> Column:
        return F.trim(
            F.regexp_replace(F.regexp_replace(c, r"(?s)<[^>]+>", " "), r"\s+", " ")
        )

    scored = F.transform(
        blocks,
        lambda b: F.struct(
            _visible(b).alias("txt"),
            # the density numerator measures the VISIBLE anchor text —
            # same tag-strip + whitespace-collapse as the denominator, so
            # markup inside links (<strong>, multi-line anchors) cannot
            # inflate it
            F.coalesce(
                F.length(
                    _visible(
                        F.array_join(
                            F.regexp_extract_all(
                                b, F.lit(r"(?is)<a[^>]*>(.*?)</a>"), 1
                            ),
                            " ",
                        )
                    )
                ),
                F.lit(0),
            ).alias("lk"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (s["txt"] != "")
        & (F.size(F.split(s["txt"], " ")) >= min_words)
        & (s["lk"] * ld.denominator <= F.length(s["txt"]) * ld.numerator),
    )
    return (
        df.withColumn("_blocks", scored)
        .withColumn(
            "n_blocks",
            F.size(F.filter(F.col("_blocks"), lambda s: s["txt"] != "")).cast(
                "bigint"
            ),
        )
        .withColumn("_kept", kept)
        .withColumn("n_kept", F.size("_kept").cast("bigint"))
        .withColumn(
            target, F.array_join(F.transform("_kept", lambda s: s["txt"]), "\n")
        )
        .drop("_blocks", "_kept")
    )


def host_boilerplate_strip(
    df: DataFrame,
    *,
    host_col: str = "host",
    id_col: str = "page_id",
    text_col: str = "text",
    min_pages: int = 2,
    share_den: int = 4,
) -> DataFrame:
    """Per-host template-line removal (the CCNet/refinedweb boilerplate
    rule): a line is boilerplate for a host when it appears in at least
    ``max(min_pages, ceil(n_host / share_den))`` DISTINCT pages of that
    host — nav bars, cookie banners, footers repeat on every page of a
    site; real content does not. Scoping by host is the point: the same
    sentence on two different sites is NOT boilerplate.

    Lines are keyed by md5 of the trimmed line (32-byte shuffle keys
    instead of arbitrary-length text — the dedup_lines trick; corpus-wide
    md5 collision on trimmed lines is negligible and both engines hash
    identically). Blank lines never count and are always kept.

    Scale shape — counting explodes lines once: distinct (host, key,
    page) then groupBy (host, key), both map-side-combined, hot keys
    bounded by their own host's page count. The REASSEMBLY never
    re-shuffles the corpus: the per-host boilerplate key list is provably
    small (each entry repeats on >= n/share_den pages, so a host has at
    most share_den * avg_lines_per_page entries), gets collect_list'd to
    one row per host, and joins back host-keyed; the strip itself is a
    higher-order array filter on the original text — row order, blank
    lines and intra-line whitespace all survive verbatim.

    Returns the input plus ``clean_text``, ``n_lines``, ``n_removed``."""
    host, pid, txt = F.col(host_col), F.col(id_col), F.col(text_col)
    lines = df.select(
        host.alias("_h"),
        pid.alias("_p"),
        F.explode(F.split(txt, "\n")).alias("_l"),
    ).filter(F.trim("_l") != "")
    per_page = lines.select("_h", F.md5(F.trim("_l")).alias("_k"), "_p").distinct()
    counts = per_page.groupBy("_h", "_k").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    n_host = df.groupBy(host.alias("_h")).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    thr = F.greatest(
        F.lit(min_pages).cast("long"),
        F.expr(f"(_n + {int(share_den) - 1}) div {int(share_den)}"),
    )
    bp = counts.join(n_host, "_h").filter(F.col("_c") >= thr)
    bpl = bp.groupBy("_h").agg(F.collect_list("_k").alias("_ks"))
    joined = df.join(bpl, df[host_col] == bpl["_h"], "left").drop("_h")
    ks = F.coalesce(F.col("_ks"), F.array().cast("array<string>"))
    split = F.split(txt, "\n")
    kept = F.filter(
        split,
        lambda l: (F.trim(l) == "") | ~F.array_contains(ks, F.md5(F.trim(l))),
    )
    return (
        joined.withColumn("clean_text", F.array_join(kept, "\n"))
        .withColumn("n_lines", F.size(split).cast("int"))
        .withColumn("n_removed", (F.size(split) - F.size(kept)).cast("int"))
        .drop("_ks")
    )


def markdown_to_text(
    df: DataFrame, *, source: str = "md", target: str = "text"
) -> DataFrame:
    """Markdown -> plain text (the GitHub/docs slice of a web corpus:
    READMEs and .md pages need the same clean-text treatment as HTML).
    A JVM regexp_replace cascade over the CommonMark constructs that
    carry markup, in dependency order — with fenced code PROTECTED:
    the document splits on ``` fence-marker lines (dropping the markers
    and language hints), odd segments are fence CONTENT and pass
    through VERBATIM (code text is corpus text and must not be mangled
    by the markup rules — a '# comment' or 'a * b * c' inside a fence
    stays intact), and only even (outside) segments run the cascade:

    images become their alt text BEFORE links become their anchor text
    (image syntax embeds link syntax); autolink angle brackets drop;
    emphasis/strong/inline code markers strip; ATX heading hashes,
    blockquote '>' and list markers (bullet + ordered) strip at line
    starts; thematic-break lines drop. After rejoining, 3+ newlines
    collapse to a paragraph break and the ends trim. No Python, no
    shuffle."""

    def cascade(s: Column) -> Column:
        # images -> alt, then links -> anchor
        s = F.regexp_replace(s, r"!\[([^\]]*)\]\([^)]*\)", "$1")
        s = F.regexp_replace(s, r"\[([^\]]*)\]\([^)]*\)", "$1")
        s = F.regexp_replace(s, r"<(https?://[^>\s]+)>", "$1")
        # emphasis / strong / inline code
        s = F.regexp_replace(s, r"\*\*([^*]+)\*\*|__([^_]+)__", "$1$2")
        s = F.regexp_replace(s, r"\*([^*\n]+)\*|\b_([^_\n]+)_\b", "$1$2")
        s = F.regexp_replace(s, r"`([^`\n]+)`", "$1")
        # line-start structure: headings, quotes, list markers
        s = F.regexp_replace(s, r"(?m)^#{1,6}[ \t]+", "")
        s = F.regexp_replace(s, r"(?m)^[ \t]*>[ \t]?", "")
        s = F.regexp_replace(s, r"(?m)^[ \t]*([-*+]|\d{1,3}\.)[ \t]+", "")
        # thematic breaks + per-line trailing whitespace
        s = F.regexp_replace(s, r"(?m)^[ \t]*([-*_][ \t]*){3,}$", "")
        s = F.regexp_replace(s, r"(?m)[ \t]+\n", "\n")
        return s

    segs = F.split(F.col(source).cast("string"), r"(?m)^```[^\n]*$")
    out = F.array_join(
        F.zip_with(
            segs,
            F.sequence(F.lit(0), F.greatest(F.size(segs) - 1, F.lit(0))),
            lambda seg, i: F.when(i % 2 == 1, seg).otherwise(cascade(seg)),
        ),
        "")
    out = F.regexp_replace(out, r"\n{3,}", "\n\n")
    # Spark trim() strips spaces only — newlines need the regex form
    out = F.regexp_replace(out, r"^\s+|\s+$", "")
    return df.withColumn(target, out)


def fix_mojibake(
    df: DataFrame, *, source: str = "text", target: str = "text_fixed"
) -> DataFrame:
    """UTF-8-as-Latin-1 mojibake repair (the ftfy-style pass every web
    corpus needs: '\u00c3\u00a9' -> '\u00e9'). The repair is the exact
    inverse of the corruption — re-encode as Latin-1, re-decode as
    UTF-8 — applied ONLY when the text shows telltale lead bytes
    (U+00C2/U+00C3/U+00E2 followed by a high-Latin-1 char) AND the
    round trip is strictly lossless (no replacement char, and
    re-corrupting the repair reproduces the input — genuine text
    merely mentioning '\u00c3' stays untouched). Adds ``target`` and
    ``was_mojibake``. Pure JVM encode/decode — no Python, no shuffle."""
    s = F.col(source).cast("string")
    # lead bytes of 2-byte (C2-DF) and 3-byte (E0-EF) UTF-8 sequences
    # followed by a continuation byte — covers Latin-Extended, Cyrillic,
    # Greek, Hebrew, CJK mojibake, not just the Western-European leads
    candidate = s.rlike("[\u00c2-\u00ef][\u0080-\u00bf]")
    repaired = F.decode(F.encode(s, "ISO-8859-1"), "UTF-8")
    lossless = (
        ~repaired.contains("\ufffd")
        & (F.decode(F.encode(repaired, "UTF-8"), "ISO-8859-1") == s))
    fix = candidate & lossless & (repaired != s)
    return df.withColumn(
        target, F.when(fix, repaired).otherwise(s)
    ).withColumn("was_mojibake", fix)


def normalize_nfc(
    df: DataFrame, *, source: str = "text", target: str = "text_nfc"
) -> DataFrame:
    """Unicode NFC normalization — combining sequences compose to the
    canonical precomposed forms ('e' + U+0301 -> U+00E9), so dedup
    keys, fingerprints and tokenizers see ONE spelling per grapheme.
    Spark ships no normalize builtin, so this is an Arrow-batched
    stdlib unicodedata.normalize pass (map-only, no shuffle); the
    oracle side uses DuckDB's independent nfc_normalize — two
    implementations of the standard, not a replay."""
    import unicodedata

    from pyspark.sql import types as T

    schema = T.StructType(
        [f for f in df.schema.fields if f.name not in (target, "changed")]
        + [T.StructField(target, T.StringType()),
           T.StructField("changed", T.BooleanType())])

    def batches(it):
        for pdf in it:
            vals = pdf[source].tolist()
            fixed = [
                unicodedata.normalize("NFC", v) if v is not None else None
                for v in vals]
            pdf = pdf.drop(
                columns=[c for c in (target, "changed") if c in pdf.columns])
            pdf[target] = fixed
            pdf["changed"] = [
                f != v if v is not None else None
                for f, v in zip(fixed, vals)]
            yield pdf[[f.name for f in schema.fields]]

    return df.mapInPandas(batches, schema)


# Unicode script blocks as JVM-safe character-class ranges. Counting uses
# regexp_count per class — one pass each, no explode.
_SCRIPT_RANGES = {
    "latin": "[A-Za-z\\u00c0-\\u00d6\\u00d8-\\u00f6\\u00f8-\\u024f]",  # excl. non-letters U+00D7/U+00F7
    "cyrillic": "[\\u0400-\\u04ff]",
    "greek": "[\\u0370-\\u03ff]",
    "arabic": "[\\u0600-\\u06ff]",
    "hebrew": "[\\u0590-\\u05ff]",
    "devanagari": "[\\u0900-\\u097f]",
    "cjk": "[\\u4e00-\\u9fff\\u3040-\\u30ff\\uac00-\\ud7af]",
}


def script_detect(df: DataFrame, source: str = "text") -> DataFrame:
    """Unicode-script profile per document — the signal that catches
    wrong-charset decodes and script-mixing spam that stopword lang-ID
    misses entirely (lang_id only speaks Latin-alphabet languages).
    Emits per-script letter counts, the dominant script (deterministic
    first-wins tie order = the _SCRIPT_RANGES order), and
    ``script_mix_ratio`` = 1 - dominant/total in exact integer-derived
    arithmetic. Pure JVM regexp_count passes; no shuffle."""
    txt = F.col(source)
    cnames = [f"_sc_{k}" for k in _SCRIPT_RANGES]
    out = df.withColumns({
        n: F.regexp_count(txt, F.lit(rng))
        for n, rng in zip(cnames, _SCRIPT_RANGES.values())
    })
    total = None
    for n in cnames:
        total = F.col(n) if total is None else total + F.col(n)
    best = F.lit("none")
    best_n = F.lit(0)
    for name, script in reversed(list(zip(cnames, _SCRIPT_RANGES))):
        c = F.col(name)
        best = F.when(c >= best_n, F.lit(script)).otherwise(best)
        best_n = F.when(c >= best_n, c).otherwise(best_n)
    best = F.when(best_n > 0, best).otherwise(F.lit("none"))
    mix = F.when(
        total > 0,
        F.round(1.0 - best_n.cast("double") / total.cast("double"), 4)
    ).otherwise(F.lit(0.0))
    out = out.withColumn("script", best).withColumn("script_mix_ratio", mix)
    renames = dict(zip(cnames, (f"n_{k}" for k in _SCRIPT_RANGES)))
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out


def luhn_redact(
    df: DataFrame, *, source: str = "text", target: str = "text_safe"
) -> DataFrame:
    """Payment-card redaction with LUHN VALIDATION — the check that
    separates real card numbers (must be scrubbed) from order ids and
    tracking numbers of the same shape (must be kept; blanket 13-19
    digit redaction destroys legitimate corpus text). Candidates are
    13-19 digit runs with optional space/dash group separators; each
    candidate's digits run the mod-10 double-every-second-from-the-
    right checksum as EXACT integer higher-order-function arithmetic
    (aggregate over the reversed digit array — no Python, no float),
    and only checksum-valid candidates are replaced with [CARD].
    Adds ``target``, ``n_cards`` and ``n_card_like`` (candidates seen,
    valid or not — the audit denominator). Map-only JVM."""
    cand_rx = r"\b\d(?:[ -]?\d){12,18}\b"
    s = F.col(source).cast("string")
    cands = F.regexp_extract_all(s, F.lit(cand_rx), 0)

    def is_luhn(c: Column) -> Column:
        digits = F.split(F.regexp_replace(c, r"[ -]", ""), "")
        digits = F.filter(digits, lambda d: d != "")
        rev = F.reverse(digits)
        total = F.aggregate(
            F.zip_with(
                rev,
                F.sequence(F.lit(0), F.size(rev) - 1),
                lambda d, i: F.when(
                    i % 2 == 1,
                    F.when(d.cast("int") * 2 > 9, d.cast("int") * 2 - 9)
                    .otherwise(d.cast("int") * 2),
                ).otherwise(d.cast("int")),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        return total % 10 == 0
    valid = F.filter(cands, is_luhn)
    out = df.withColumn("n_card_like", F.size(cands)) \
            .withColumn("n_cards", F.size(valid)) \
            .withColumn("_valid", valid)
    # replace each VALID candidate literally (escaped), longest first so
    # a shorter valid prefix never clobbers a longer match
    # \b-anchored regexp replace: a valid card that is a SUBSTRING of a
    # longer digit run (an invalid order id) must not be redacted inside
    # it — candidates always start/end on digits, so \b anchors exactly
    # reproduce the extraction boundaries (review-pass pin)
    repl = F.aggregate(
        F.reverse(F.array_sort(F.transform(
            F.col("_valid"), lambda v: F.struct(
                F.length(v).alias("l"), v.alias("v"))))),
        s,
        lambda acc, st: F.regexp_replace(
            acc,
            F.concat(F.lit(r"\b"), st.getField("v"), F.lit(r"\b")),
            F.lit("[CARD]")),
    )
    return out.withColumn(target, repl).drop("_valid")
