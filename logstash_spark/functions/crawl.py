"""Crawl-compliance operators — robots.txt parsing + URL filtering.

A web-corpus pipeline's legal/etiquette gate: before text ever reaches
cleaning or training, URLs are checked against each host's robots.txt.
Semantics follow the public RFC 9309 (Robots Exclusion Protocol):

- records group under one or more ``User-agent`` lines; the group for
  the MOST SPECIFIC matching agent applies (RFC 9309-compatible,
  Google-parser longest-prefix specificity — a named token matches when
  it is a case-insensitive prefix of the crawler's product token, the
  longest match wins, ``*`` only when no named group matches);
- ``Allow``/``Disallow`` values are path prefixes; ``*`` matches any
  character sequence; an empty ``Disallow:`` permits everything (the
  rule is skipped);
- the LONGEST matching rule wins; on a length tie ``Allow`` wins;
- a URL with no matching rule is allowed (and so is a host with no
  robots.txt at all).

The ``$`` end anchor IS supported (r4g: trailing '$' anchors the rule;
'$' elsewhere stays literal).

Everything is columnar: the line parse is split+posexplode, record
grouping is one per-host window (robots files are tiny, hosts are many —
the window partitions by host so parallelism is the host count), rule
matching is a host-keyed join + non-foldable regex. No Python in the
path, and every step mirrors into DuckDB SQL for the value oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# regex metacharacters escaped before the wildcard expands; '*' expands
# LAST via a placeholder so escaped backslashes can't re-trigger it
_META = ["\\", ".", "+", "?", "(", ")", "[", "]", "{", "}", "^", "$", "|"]


def _rule_regex(path: Column) -> Column:
    """robots path (prefix + '*' wildcards + optional trailing '$'
    end-anchor, RFC 9309 §2.2.3) -> anchored regex string, built with a
    replace chain identical in Spark and DuckDB. A '$' anywhere but the
    end stays literal (rule '/a$b' matches the literal dollar)."""
    anchored = path.rlike(r"\$$")
    body = F.when(anchored, F.regexp_replace(path, r"\$$", "")).otherwise(path)
    c = F.replace(body, F.lit("*"), F.lit("\x00"))
    for m in _META:
        c = F.replace(c, F.lit(m), F.lit("\\" + m))
    c = F.replace(c, F.lit("\x00"), F.lit(".*"))
    return F.concat(
        F.lit("^"), c, F.when(anchored, F.lit("$")).otherwise(F.lit(""))
    )


def _robots_chosen_blocks(
    robots: DataFrame,
    *,
    host_col: str,
    text_col: str,
    user_agent: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared robots.txt line/record machinery: returns ``(blocks,
    chosen)`` — every directive line tagged with its record block id,
    and the (host, block) set whose User-agent group applies to
    ``user_agent`` — RFC 9309 §2.2.1 most-specific matching: a named
    group matches when its product token is a case-insensitive PREFIX
    of the crawler's token ('gpt' and 'gptbot' both match crawler
    'gptbot'; 'gptbot-extra' does not), the LONGEST matching token
    wins, and the ``*`` groups apply only when no named group matches
    (r5: replaces the earlier exact-vs-star-only ranking)."""
    ua = user_agent.lower()
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), r"\r?\n")).alias(
            "pos", "line"
        ),
    )
    key = F.lower(F.trim(F.regexp_extract(F.col("line"), r"^([^:#]+):", 1)))
    val = F.trim(F.regexp_extract(F.col("line"), r"^[^:#]+:\s*([^#\s]*)", 1))
    parsed = lines.select(
        "host", "pos", key.alias("k"), val.alias("v"),
        (key == "user-agent").alias("is_ua"),
    )
    w = W.partitionBy("host").orderBy("pos")
    # a block STARTS at a user-agent line not preceded by another one
    starts = (
        F.col("is_ua") & ~F.coalesce(F.lag("is_ua").over(w), F.lit(False))
    ).cast("int")
    blocks = parsed.withColumn(
        "block", F.sum(starts).over(w.rowsBetween(W.unboundedPreceding, 0))
    ).filter(F.col("block") > 0)

    # named-agent specificity: token must be a prefix of the crawler's
    # product token; its LENGTH is the rank (exact match = max length)
    named_len = F.when(
        (F.col("v") != "*") & F.lit(ua).startswith(F.lower(F.col("v"))),
        F.length("v"),
    ).otherwise(F.lit(0))
    agents = blocks.filter(F.col("is_ua")).groupBy("host", "block").agg(
        F.max(named_len).alias("match_len"),
        F.max((F.col("v") == "*").cast("int")).alias("has_star"),
    )
    # the longest-matching named group(s) win; '*' only when none match
    wb = W.partitionBy("host")
    chosen = (
        agents.withColumn("best_len", F.max("match_len").over(wb))
        .filter(
            ((F.col("match_len") > 0) & (F.col("match_len") == F.col("best_len")))
            | ((F.col("best_len") == 0) & (F.col("has_star") == 1))
        )
        .select("host", "block")
    )
    return blocks, chosen


def parse_robots(
    robots: DataFrame,
    *,
    host_col: str = "host",
    text_col: str = "robots_txt",
    user_agent: str = "*",
) -> DataFrame:
    """Per-host robots.txt text -> the rule set that applies to
    ``user_agent``: ``(host, allow, path, spec, pattern)`` where ``spec``
    is the rule-length specificity and ``pattern`` the compiled regex.

    One per-host window drives the record grouping (block id = running
    count of User-agent lines that START a group); group selection is an
    aggregate over the host's blocks (exact agent match if any block has
    one, else the ``*`` blocks)."""
    blocks, chosen = _robots_chosen_blocks(
        robots, host_col=host_col, text_col=text_col, user_agent=user_agent
    )
    rules = (
        blocks.filter(F.col("k").isin("allow", "disallow") & (F.col("v") != ""))
        .join(chosen, ["host", "block"])
        .select(
            "host",
            (F.col("k") == "allow").alias("allow"),
            F.col("v").alias("path"),
            F.length("v").cast("long").alias("spec"),
            _rule_regex(F.col("v")).alias("pattern"),
        )
    )
    return rules


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    *,
    url_col: str = "url",
) -> DataFrame:
    """URL table + parse_robots rules -> every URL with its verdict:
    ``(... , allowed, matched_path)``. Longest matching rule wins, Allow
    wins length ties, no match (or no robots for the host) = allowed.

    Scale shape: host extraction is a scan-stage regex; the rule attach
    is ONE host-keyed LEFT broadcast join carrying the rlike as a join
    predicate (rules are per-host tiny and pre-aggregated; a URL with no
    matching rule keeps a single null-rule row), and the winner is one
    per-row window — rn=1 per input row restores the input row set
    EXACTLY (a per-row id keys the window, so duplicate urls keep their
    multiplicity), with NO corpus-sized join-back (a url-keyed SMJ in
    the earlier formulation). Hosts compare case-insensitively (scheme
    and authority are case-insensitive per RFC 3986); rule PATHS stay
    case-sensitive per RFC 9309."""
    # case-insensitive scheme match + lowercased host; path keeps case
    _sch = r"(?i)^[a-z][a-z0-9+.-]*://"
    u = (
        urls.withColumn("_rid", F.monotonically_increasing_id())
        .withColumn(
            "_host",
            F.lower(F.regexp_extract(F.col(url_col), _sch + r"([^/?#]+)", 1)),
        )
        .withColumn(
            "_path",
            F.when(
                F.regexp_extract(F.col(url_col), _sch + r"[^/?#]+(/[^#]*)", 1)
                == "",
                F.lit("/"),
            ).otherwise(
                F.regexp_extract(F.col(url_col), _sch + r"[^/?#]+(/[^#]*)", 1)
            ),
        )
    )
    r = rules.select(
        F.lower(F.col("host")).alias("_rhost"),  # never collide with url cols
        "allow", "path", "spec", "pattern",
    )
    cand = u.join(
        r,
        (u["_host"] == r["_rhost"]) & F.expr("_path rlike pattern"),
        "left",
    )
    wbest = W.partitionBy("_rid").orderBy(
        F.col("spec").desc_nulls_last(),
        F.col("allow").desc_nulls_last(),
        F.col("path").asc_nulls_last(),
    )
    out = (
        cand.withColumn("_r", F.row_number().over(wbest))
        .filter(F.col("_r") == 1)
        .select(
            *urls.columns,
            F.coalesce(F.col("allow"), F.lit(True)).alias("allowed"),
            F.col("path").alias("matched_path"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Sitemaps (sitemaps.org XML protocol) — the discovery side of the crawl
# compliance pair: robots.txt says what MAY be fetched, sitemaps say what
# EXISTS. Reference analog: the xml filter's extraction surface
# (default_plugins.rb:69, logstash-filter-xml) applied to the two public
# sitemap document shapes (<urlset> pages, <sitemapindex> children).
# ---------------------------------------------------------------------------

_URL_EL = r"(?is)<url\s*>.*?</url\s*>"
_SMAP_EL = r"(?is)<sitemap\s*>.*?</sitemap\s*>"


def _xml_text(el: Column, tag: str) -> Column:
    """Trimmed text of the first <tag> child (CDATA unwrapped, the five
    predefined XML entities decoded). NULL when the tag is absent —
    regexp_extract returns '' on no-match, mapped here via nullif. The
    entity replace chain is identical in Spark and DuckDB; &amp; is
    decoded LAST so '&amp;lt;' yields the literal '&lt;' (correct XML
    semantics, double-decode bug otherwise).

    The opening tag may carry attributes — real-world feeds ship
    '<guid isPermaLink="false">' and '<title type="html">' — but a
    SELF-CLOSING '<tag .../>'' must NOT count as an opening tag (its
    "body" would be whatever follows up to an unrelated close tag):
    the one-char negative lookbehind '(?<!/)>' excludes it, and Spark
    runs Java regex so lookbehind is available (oracles never mirror
    this regex — feed/sitemap oracles regenerate rows arithmetically)."""
    raw = F.trim(
        F.regexp_extract(
            el, rf"(?is)<{tag}(?:\s[^>]*)?(?<!/)>\s*(.*?)\s*</{tag}\s*>", 1)
    )
    raw = F.regexp_replace(raw, r"(?s)^<!\[CDATA\[(.*)\]\]>$", "$1")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&apos;", "'"), ("&amp;", "&"),
    ):
        raw = F.replace(raw, F.lit(ent), F.lit(ch))
    return F.nullif(raw, F.lit(""))


def parse_sitemaps(
    df: DataFrame,
    *,
    xml_col: str = "sitemap_xml",
    url_col: str = "sitemap_url",
) -> DataFrame:
    """Sitemap documents -> one row per entry:
    ``(sitemap_url, kind, loc, lastmod, lastmod_date, changefreq,
    priority)``. ``kind`` is ``'url'`` for <urlset> page entries and
    ``'sitemap'`` for <sitemapindex> children (both element kinds are
    extracted from every document — a hostile file mixing them still
    yields all entries). Entries with no <loc> are dropped (the spec's
    one required field); ``lastmod`` stays the raw W3C datetime string
    and ``lastmod_date`` is its date part (substring, not timezone
    arithmetic — cross-engine deterministic), ``priority`` is
    DECIMAL(2,1) per the spec's 0.0-1.0 one-decimal domain.

    Scale shape: map-only — two ``regexp_extract_all`` + one explode per
    document; no shuffle, no Python. Sitemap files cap at 50 MB/50k URLs
    by spec, so per-row work is bounded."""
    xml = F.col(xml_col).cast("string")
    els = F.concat(
        F.regexp_extract_all(xml, F.lit(_URL_EL), 0),
        F.regexp_extract_all(xml, F.lit(_SMAP_EL), 0),
    )
    e = df.select(F.col(url_col).alias("sitemap_url"), F.explode(els).alias("_el"))
    kind = F.when(
        F.lower(F.substring("_el", 1, 4)) == "<url", F.lit("url")
    ).otherwise(F.lit("sitemap"))
    return (
        e.select(
            "sitemap_url",
            kind.alias("kind"),
            _xml_text(F.col("_el"), "loc").alias("loc"),
            _xml_text(F.col("_el"), "lastmod").alias("lastmod"),
            _xml_text(F.col("_el"), "changefreq").alias("changefreq"),
            _xml_text(F.col("_el"), "priority").cast("decimal(2,1)").alias("priority"),
        )
        .filter(F.col("loc").isNotNull())
        .withColumn(
            "lastmod_date",
            F.when(
                F.col("lastmod").rlike(r"^\d{4}-\d{2}-\d{2}"),
                F.substring("lastmod", 1, 10),
            ).cast("date"),
        )
        .select(
            "sitemap_url", "kind", "loc", "lastmod", "lastmod_date",
            "changefreq", "priority",
        )
    )


def sitemap_directives(
    robots: DataFrame,
    *,
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """``Sitemap:`` directives out of robots.txt -> ``(host,
    sitemap_url)``. Per RFC 9309 §2.3 the directive is group-independent
    (it applies file-wide regardless of User-agent blocks), so this is a
    flat line scan: split + explode + case-insensitive key match. The
    value is a full URL, kept verbatim (no comment stripping inside it —
    '#' is legal in URLs; trailing whitespace trimmed)."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\r?\n")
        ).alias("line"),
    )
    url = F.trim(F.regexp_extract("line", r"(?i)^\s*sitemap\s*:\s*(\S+)\s*$", 1))
    return lines.select("host", F.nullif(url, F.lit("")).alias("sitemap_url")).filter(
        F.col("sitemap_url").isNotNull()
    )


# ---------------------------------------------------------------------------
# CDX capture index + WET conversion records (the two derived artifacts a
# Common-Crawl-style corpus ships alongside the raw WARCs)
# ---------------------------------------------------------------------------


def surt_key(url: Column) -> Column:
    """SURT-canonical urlkey (the CDX sort key): lowercased, host
    dot-reversed and comma-joined with a leading ``www.`` and default
    ports stripped, query parameters sorted — ``com,example)/path?a=1``.

    Documented subset of the full public SURT spec: %-encoding is left
    as-is and session-id params are not stripped (both are lossy
    heuristics; the key stays a pure function of the URL text so both
    engines derive it identically)."""
    # fragment goes FIRST: a '?' inside '#...' is not a query string
    u = F.regexp_replace(F.lower(url), r"#.*$", "")
    hostport = F.regexp_extract(u, r"^[a-z]+://([^/?#]+)", 1)
    hostport = F.regexp_replace(hostport, r"^www\.", "")
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    host = F.regexp_replace(hostport, r":\d+$", "")
    # default ports vanish; any other port trails the REVERSED host
    # (com,example:8080) — it is part of the authority, not a label
    portsuf = F.when(port.isin("", "80", "443"), F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )
    rev = F.concat(F.array_join(F.reverse(F.split(host, r"\.")), ","), portsuf)
    path = F.regexp_extract(u, r"^[a-z]+://[^/?#]+([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    q = F.when(query == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(query, "&")), "&"))
    )
    return F.concat(rev, F.lit(")"), path, q)


def cdx_index(
    df: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "text",
    status_col: str | None = None,
    mime: str = "text/html",
) -> DataFrame:
    """Per-capture CDX index rows ``(urlkey, ts14, url, mime, status,
    digest, length, cdx_line)`` — the lookup artifact crawl consumers
    sort by (urlkey, timestamp) to answer "which captures exist for this
    URL". Map-only column expressions; at corpus scale the index writes
    through a bucketed-by-urlkey sink so lookups prune. Digest is
    sha256-hex of the payload (the public CDX format's sha1-base32 isn't
    portable across both engines; the field's role — capture identity —
    is unchanged)."""
    status = (
        F.col(status_col).cast("int") if status_col else F.lit(None).cast("int")
    )
    out = df.select(
        surt_key(F.col(url_col)).alias("urlkey"),
        F.date_format(F.col(ts_col), "yyyyMMddHHmmss").alias("ts14"),
        F.col(url_col).alias("url"),
        F.lit(mime).alias("mime"),
        status.alias("status"),
        F.sha2(F.col(payload_col), 256).alias("digest"),
        F.octet_length(F.col(payload_col)).cast("bigint").alias("length"),
    )
    def _f(c) -> "Column":
        # concat_ws silently SKIPS nulls, which would misalign the
        # space-delimited line; every field coalesces to the CDX '-'
        return F.coalesce(c.cast("string"), F.lit("-"))

    return out.withColumn(
        "cdx_line",
        F.concat_ws(
            " ",
            _f(F.col("urlkey")),
            _f(F.col("ts14")),
            _f(F.col("url")),
            _f(F.col("mime")),
            _f(F.col("status")),
            _f(F.col("digest")),
            _f(F.col("length")),
        ),
    )


def wet_records(
    df: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """WET-style ``conversion`` records: the extracted-text sibling of a
    response WARC, one record per page, built entirely from column
    expressions — ``(url, record_id, content_length, wet)`` where ``wet``
    is the full WARC/1.0 record text. Header order and the
    ``<urn:uuid:md5(url|date)>`` record-id scheme match
    sources/warc.py:encode_warc_record, so the emitted bytes round-trip
    through parse_warc (pinned in tests). Content-Length counts payload
    BYTES (octet_length), as the spec requires."""
    date = F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    rid = F.concat(
        F.lit("<urn:uuid:"),
        F.md5(F.concat_ws("|", F.col(url_col), date)),
        F.lit(">"),
    )
    clen = F.octet_length(F.col(text_col)).cast("bigint")
    wet = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: "),
        rid,
        F.lit("\r\nWARC-Date: "),
        date,
        F.lit("\r\nWARC-Target-URI: "),
        F.col(url_col),
        F.lit("\r\nWARC-Block-Digest: sha256:"),
        F.sha2(F.col(text_col), 256),
        F.lit("\r\nContent-Length: "),
        clen.cast("string"),
        F.lit("\r\n\r\n"),
        F.col(text_col),
        F.lit("\r\n\r\n"),
    )
    return df.select(
        F.col(url_col).alias("url"),
        rid.alias("record_id"),
        clen.alias("content_length"),
        wet.alias("wet"),
    )


def host_blocklist_filter(
    df: DataFrame,
    blocked: DataFrame,
    *,
    url_col: str = "url",
    domain_col: str = "domain",
    max_labels: int = 8,
) -> DataFrame:
    """Domain-blocklist gate (the UT1/adult-filtering step every web
    corpus runs before training): a URL is blocked when its host equals
    a blocked domain OR is any subdomain of one.

    Scale shape: one left BROADCAST equi-join per suffix depth (a host
    has at most ``max_labels`` dot-separated labels, so at most 8 joins
    of the same broadcast dim; the only Exchanges in the plan are the
    dim-side distinct, O(blocklist) each). The corpus
    side never shuffles and never explodes: no groupBy, no join-back, no
    row-count change anywhere, which an explode+regroup formulation
    cannot promise once the blocked fraction is large. Blocklists are
    O(10^6) rows (tiny next to the corpus) and broadcast whole.

    Adds ``blocked`` (bool) and ``blocked_domain`` (the matched suffix;
    the LONGEST — most specific — wins when entries nest, because the
    coalesce scans from the deepest suffix outward). Rows pass through
    unchanged — filtering is the caller's choice, so drop accounting
    stays visible."""
    # lower FIRST (uppercase schemes must not bypass the gate), then
    # strip scheme + optional userinfo before taking the host; ':' ends
    # the host so ports never reach the label split
    host = F.regexp_extract(
        F.lower(F.col(url_col)),
        r"^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)",
        1,
    )
    labels = F.split(host, r"\.")
    dim = blocked.select(F.lower(F.col(domain_col)).alias("_bl_dom")).distinct()
    out = df.withColumn("_bl_labels", labels)
    matched: list[str] = []
    # suffixes are TAIL-anchored (the last j labels, j = max_labels..1):
    # a host with MORE than max_labels labels still matches any blocklist
    # entry of <= max_labels labels — extra subdomain nesting cannot dodge
    # the gate (only >max_labels-label blocklist ENTRIES are out of reach,
    # and real lists top out well under 8)
    for j in range(max_labels, 0, -1):
        n_l = F.size("_bl_labels")
        sfx = F.when(
            n_l >= j,
            F.array_join(F.slice("_bl_labels", n_l - F.lit(j) + 1, j), "."),
        )
        col = f"_bl_m{j}"
        d = dim.withColumnRenamed("_bl_dom", col)
        out = out.withColumn(f"_bl_s{j}", sfx).join(
            F.broadcast(d), F.col(f"_bl_s{j}") == F.col(col), "left"
        )
        matched.append(col)
    # matched is ordered deepest (longest suffix) first
    out = out.withColumn("blocked_domain", F.coalesce(*matched))
    return out.drop(
        "_bl_labels", *matched, *[f"_bl_s{i}" for i in range(1, max_labels + 1)]
    ).withColumn("blocked", F.col("blocked_domain").isNotNull())


def cdx_collapse(
    cdx: DataFrame,
    *,
    by: str = "urlkey",
) -> DataFrame:
    """Collapse a CDX index to one row per ``by`` key — the "latest
    capture wins" view index consumers resolve against: ``(urlkey,
    n_captures, n_distinct_digests, ts14, url, digest, length)`` where
    the scalar fields come from the lexically-greatest (ts14, url,
    digest, length) capture (ts14 is a fixed-width timestamp string, so
    string max = latest; url, then digest/length, break same-second
    re-fetch ties so the winner is FULLY deterministic even when two
    captures share a timestamp).

    One groupBy on the collapse key: max_by on a (ts14, url) struct
    picks the whole winning row atomically (no column mixing across
    captures), and the two counts ride the same aggregate — a single
    shuffle whose reduce state is one row per key."""
    pick = F.max_by(
        F.struct("ts14", "url", "digest", "length"),
        F.struct("ts14", "url", "digest", "length"),
    )
    return (
        cdx.groupBy(by)
        .agg(
            F.count("*").alias("n_captures"),
            F.countDistinct("digest").alias("n_distinct_digests"),
            pick.alias("_w"),
        )
        .select(
            by,
            "n_captures",
            "n_distinct_digests",
            F.col("_w.ts14").alias("ts14"),
            F.col("_w.url").alias("url"),
            F.col("_w.digest").alias("digest"),
            F.col("_w.length").alias("length"),
        )
    )


def cdx_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    by: str = "urlkey",
) -> DataFrame:
    """Snapshot diff between two collapsed CDX indexes: per ``by`` key,
    ``status`` in {'new', 'gone', 'changed', 'unchanged'} plus both
    digests — the incremental-crawl planning table ("what must be
    refetched / reprocessed").

    JOIN-FREE shape (the host_degree pattern): the two sides union with
    a side marker and ONE groupBy folds them — at corpus scale this is
    a single shuffle on the diff key instead of a full-outer
    SortMergeJoin of two corpus-sized tables, and map-side partials
    halve the rows before the exchange. Expects one row per key per
    side (cdx_collapse output); duplicate keys fold via max, documented."""
    o = old.select(F.col(by), F.col("digest").alias("_od"), F.lit(1).alias("_s"))
    n = new.select(F.col(by), F.col("digest").alias("_od"), F.lit(2).alias("_s"))
    both = o.unionByName(n)
    agg = both.groupBy(by).agg(
        F.max(F.when(F.col("_s") == 1, F.col("_od"))).alias("old_digest"),
        F.max(F.when(F.col("_s") == 2, F.col("_od"))).alias("new_digest"),
        # presence comes from the side MARKER, not digest nullness — a
        # NULL-payload capture (sha2(NULL) = NULL) must not read as absent
        F.max((F.col("_s") == 1).cast("int")).alias("_in_old"),
        F.max((F.col("_s") == 2).cast("int")).alias("_in_new"),
    )
    status = (
        F.when(F.col("_in_old") == 0, F.lit("new"))
        .when(F.col("_in_new") == 0, F.lit("gone"))
        .when(
            F.col("old_digest").eqNullSafe(F.col("new_digest")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
    )
    return agg.select(by, status.alias("status"), "old_digest", "new_digest")


def host_quality_profile(
    pages: DataFrame,
    *,
    url_col: str = "url",
    status_col: str = "response",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Per-host crawl-health profile — the table a crawl scheduler ranks
    hosts with (drop hosts that are mostly errors, deprioritize thin
    content): ``(host, n_pages, n_err5xx, err5xx_share_e6, sum_bytes,
    p50_bytes, max_bytes)``.

    Everything is INTEGER-exact so the profile value-hashes identically
    on any engine: the 5xx share is ``(n_err5xx * 1e6) div n_pages``
    (floored micro-units, no double division) and p50 is the
    NEAREST-RANK median (the value at 1-based rank ceil(n/2) in
    (bytes, url) order) — an order statistic, never an interpolated
    double. NULL byte counts sort last and can only become the median
    when the host is majority-NULL, which is itself signal.

    Scale shape: one exchange on host total — the rank window and the
    per-host count window share the same partitioning, and the final
    groupBy(host) reuses that exchange. A hot host's partition holds
    that host's rows only (bounded by the biggest site, not the
    corpus); no window is ever global."""
    host = F.lower(
        F.regexp_extract(F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    rows = pages.select(
        host.alias("host"),
        F.col(status_col).cast("string").alias("_st"),
        F.col(bytes_col).cast("long").alias("_b"),
        F.col(url_col).alias("_u"),
    )
    part = W.partitionBy("host")
    ranked = rows.withColumn(
        "_rk", F.row_number().over(part.orderBy(F.col("_b").asc_nulls_last(), F.col("_u")))
    ).withColumn("_n", F.count(F.lit(1)).over(part))
    agg = ranked.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum(F.col("_st").startswith("5").cast("long")).alias("n_err5xx"),
        F.sum("_b").alias("sum_bytes"),
        F.max("_b").alias("max_bytes"),
        # nearest-rank median rides the SAME aggregate (no extra shuffle):
        # the row whose rank is ceil(n/2) == (n+1) div 2
        F.max(
            F.when(F.col("_rk") == F.expr("(_n + 1) div 2"), F.col("_b"))
        ).alias("p50_bytes"),
    )
    return agg.select(
        "host",
        "n_pages",
        "n_err5xx",
        F.expr("(n_err5xx * 1000000) div n_pages").alias("err5xx_share_e6"),
        "sum_bytes",
        "p50_bytes",
        "max_bytes",
    )


def soft404_score(
    df: DataFrame,
    *,
    html_col: str = "html_str",
    status_col: str = "response",
    thin_chars: int = 80,
) -> DataFrame:
    """Soft-404 detection (Bar-Yossef et al., "Sic transit gloria telae",
    WWW'04): pages that return HTTP 200 but are actually error pages —
    a crawl that trusts the status code fills the corpus with "Page Not
    Found" boilerplate. Pure heuristic markers, all JVM regex:

    - ``m_title`` (weight 4): <title> says "not found" / "error 404" /
      "page missing" (an explicit error title is the strongest signal;
      a bare "404" substring is NOT matched — titles legitimately
      contain numbers),
    - ``m_body`` (weight 3): body text says "does not exist" / "no
      longer available" / "not found" / "cannot be found",
    - ``m_thin`` (weight 1): body under ``thin_chars`` chars (error
      pages are thin; thinness alone never crosses the threshold).

    ``soft404_score`` = 4*m_title + 3*m_body + m_thin; ``is_soft404``
    fires at score >= 4 AND status 200 — the same markers on a real 404
    are a CORRECTLY coded error page, not a soft 404.

    Scale shape: per-row regex cascade, no shuffle, no Python; title and
    body are each extracted once and the markers test the extracts."""
    html = F.col(html_col)
    title = F.lower(F.regexp_extract(html, r"(?is)<title>(.*?)</title>", 1))
    body = F.lower(F.regexp_extract(html, r"(?is)<body>(.*)</body>", 1))
    m_title = title.rlike("not found|error 404|page missing").cast("int")
    m_body = body.rlike(
        "does not exist|no longer available|not found|cannot be found"
    ).cast("int")
    m_thin = (F.length(body) < thin_chars).cast("int")
    score = m_title * 4 + m_body * 3 + m_thin
    return (
        df.withColumn("m_title", m_title)
        .withColumn("m_body", m_body)
        .withColumn("m_thin", m_thin)
        .withColumn("soft404_score", score.cast("int"))
        .withColumn(
            "is_soft404",
            (F.col(status_col).cast("string") == "200") & (score >= 4),
        )
    )


def redirect_resolve(
    pages: DataFrame,
    edges: DataFrame,
    *,
    url_col: str = "url",
    status_col: str = "response",
    max_hops: int = 8,
) -> DataFrame:
    """Redirect-chain resolution — the canonicalization step between a
    crawl and its index: every 3xx capture is walked through its
    ``Location`` pointers to the page that actually served content.
    ``edges`` is the (src, dst) Location table (one row per redirect
    capture); output is one row per redirect source: ``(url, final_url,
    hops, outcome)`` with outcome

    - ``resolved``  — the walk ended on a non-redirect page,
    - ``dangling``  — the walk ended on a URL absent from the capture
      (or on a redirect that had no Location to follow),
    - ``unresolved``— still pointing at another redirect after
      ``max_hops`` hops (loops land here: a cycle never exits).

    Scale shape: ``max_hops`` is a small protocol constant (browsers cap
    around 20; crawlers 5-10), so the walk is ``max_hops - 1`` rounds of
    one equi-join each, keyed on the current target — the active set
    only shrinks (real chains are 1-2 hops, so later rounds touch a
    sliver), lineage is truncated with localCheckpoint every few rounds
    (the dedup_cluster_cc pattern). Classification needs no loop state:
    a final target still present in the edge table IS unresolved-by-cap,
    everything else classifies by one presence join against the page
    set. No driver-side anything; hop counts are exact integers."""
    f = edges.select(F.col("src").alias("_fs"), F.col("dst").alias("_fd"))
    state = edges.select(
        F.col("src").alias("url_src"),
        F.col("dst").alias("cur"),
        F.lit(1).cast("int").alias("hops"),
    )
    for i in range(1, max_hops):
        j = state.join(f, state["cur"] == f["_fs"], "left")
        state = j.select(
            "url_src",
            F.coalesce(F.col("_fd"), F.col("cur")).alias("cur"),
            F.when(F.col("_fd").isNotNull(), F.col("hops") + 1)
            .otherwise(F.col("hops"))
            .cast("int")
            .alias("hops"),
        )
        if i % 3 == 0:
            state = state.localCheckpoint(eager=True)
    pmark = pages.select(
        F.col(url_col).alias("_t"),
        F.col(status_col).cast("string").startswith("3").alias("_tr"),
    )
    srcs = f.select(F.col("_fs").alias("_s")).distinct().withColumn(
        "_is_src", F.lit(True)
    )
    out = (
        state.join(pmark, state["cur"] == pmark["_t"], "left")
        .join(srcs, state["cur"] == srcs["_s"], "left")
        .select(
            F.col("url_src").alias("url"),
            F.col("cur").alias("final_url"),
            "hops",
            F.when(F.col("_tr").isNull(), F.lit("dangling"))
            .when(F.coalesce(F.col("_is_src"), F.lit(False)), F.lit("unresolved"))
            .when(F.col("_tr"), F.lit("dangling"))
            .otherwise(F.lit("resolved"))
            .alias("outcome"),
        )
    )
    return out


def recrawl_priority(
    captures: DataFrame,
    *,
    now: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    digest_col: str = "digest",
) -> DataFrame:
    """Recrawl scheduling priority from capture history (Cho &
    Garcia-Molina, "Effective Page Refresh Policies for Web Crawlers",
    TODS 2003): estimate each page's Poisson change rate from its
    observed capture digests, then rank stale-and-volatile pages first.

    Per url over captures ordered by time:

    - ``n_captures`` / ``n_changes`` — total captures and the count of
      CONSECUTIVE capture pairs whose digests differ (an unchanged
      recrawl is evidence of a LOW rate — it counts in n but not c;
      naive c/n estimators ignore that asymmetry, Cho's doesn't);
    - ``lambda_day`` — the paper's bias-corrected estimator
      ``-ln((n - c + 0.5) / (n + 0.5)) / avg_interval`` rescaled to
      changes/day. Needs >= 2 captures (one interval); single-capture
      URLs get NULL (no evidence either way);
    - ``staleness_days`` — days since the last capture at ``now``
      (an EXPLICIT parameter: schedulers replay deterministically, and
      both engines compute identical epochs);
    - ``priority`` — ``lambda_day * staleness_days``: the expected
      number of changes missed since the last visit, the canonical
      refresh-ordering score. NULL-rate URLs surface ``priority`` NULL;
      the frontier decides their default bucket.

    Scale shape: one keyed shuffle (groupBy url) after a per-url window
    lag — both partition by the SAME key so AQE plans one exchange; the
    per-url state is a handful of longs. Floats round to 6 decimals for
    cross-engine hashing."""
    # digest as the tiebreaker: WARC revisits share second-granularity
    # timestamps, and a ts-only order would make n_changes depend on
    # partition-internal arrival order (nondeterministic across runs)
    w = W.partitionBy(url_col).orderBy(ts_col, digest_col)
    lagged = captures.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("_ts"),
        (
            F.lag(digest_col).over(w).isNotNull()
            & (F.col(digest_col) != F.lag(digest_col).over(w))
        )
        .cast("int")
        .alias("_chg"),
    )
    agg = lagged.groupBy("url").agg(
        F.count("*").cast("bigint").alias("n_captures"),
        F.sum("_chg").cast("bigint").alias("n_changes"),
        F.min("_ts").alias("_first"),
        F.max("_ts").alias("_last"),
    )
    n = F.col("n_captures")
    c = F.col("n_changes")
    span_s = F.unix_timestamp("_last") - F.unix_timestamp("_first")
    # libm ln differs in the last ulp across engines (the tfidf/dsir
    # lesson — caught by the sf0.1 sweep as a 6th-decimal rounding flip):
    # quantize -ln(r) onto the e6 integer grid IMMEDIATELY, per (n, c)
    # class, so every downstream op is a correctly-rounded IEEE
    # multiply/divide on identical inputs — bit-identical cross-engine
    q_e6 = F.floor(
        -F.log((n - c + F.lit(0.5)) / (n + F.lit(0.5))) * F.lit(1000000.0)
    ).cast("long")
    lam = F.when(
        (n >= 2) & (span_s > 0),
        q_e6 * F.lit(86400.0) * (n - F.lit(1)) / span_s / F.lit(1000000.0),
    )
    stale_d = (
        F.unix_timestamp(F.lit(now).cast("timestamp")) - F.unix_timestamp("_last")
    ) / 86400.0

    def _q6(x):
        # e6 TRUNCATION grid, not round(): Spark's round re-parses the
        # double's shortest-decimal repr (HALF_UP on "2.0190625") while
        # DuckDB rounds the binary value (...62499 -> down) — a product
        # landing on a decimal half diverges (sf0.1 sweep, host22/p/83328).
        # floor(x*1e6)/1e6 is pure correctly-rounded IEEE arithmetic on
        # identical inputs — bit-identical everywhere.
        return F.floor(x * F.lit(1000000.0)) / F.lit(1000000.0)

    return agg.select(
        "url",
        "n_captures",
        "n_changes",
        _q6(lam).alias("lambda_day"),
        _q6(stale_d).alias("staleness_days"),
        _q6(lam * stale_d).alias("priority"),
    )


def politeness_schedule(
    frontier: DataFrame,
    *,
    url_col: str = "url",
    host_col: str = "host",
    priority_col: str | None = None,
    delays: DataFrame | None = None,
    default_delay_s: float = 1.0,
    max_per_host: int = 10_000,
) -> DataFrame:
    """Per-host politeness schedule: turn a prioritized frontier into
    concrete fetch offsets that respect one-connection-per-host with a
    crawl delay (RFC 9309 operators honor ``Crawl-delay`` even though
    the RFC leaves it nonstandard). Each host is an independent serial
    queue: rank by ``priority_col`` DESC (ties: url — deterministic,
    replayable), ``slot`` = rank-1, ``fetch_offset_s`` = slot * delay.

    ``delays`` is an optional tiny per-host ``(host, crawl_delay_s)``
    table (robots-derived) broadcast-joined in; absent hosts fall back
    to ``default_delay_s``. ``max_per_host`` caps each host's queue —
    the tail beyond the cap belongs to the NEXT politeness cycle, and
    ``n_queued`` reports the pre-cap size so the cut is accounted, not
    silent (the cap_hot_buckets contract, dedup.py).

    Scale shape: one window rank partitioned by host (parallelism = host
    count; the skew bound is the biggest single host's frontier, which
    max_per_host turns into bounded OUTPUT even when input skews) plus
    one broadcast join. Offsets are exact to 6 decimals."""
    order = (
        [F.col(priority_col).desc_nulls_last(), F.col(url_col)]
        if priority_col
        else [F.col(url_col)]
    )
    w = W.partitionBy(host_col).orderBy(*order)
    ranked = (
        frontier.withColumn("_rk", F.row_number().over(w))
        .withColumn("n_queued", F.count("*").over(W.partitionBy(host_col)))
        .filter(F.col("_rk") <= max_per_host)
    )
    if delays is not None:
        from pyspark.sql.functions import broadcast

        # project the dim to exactly (host, crawl_delay_s): extra columns
        # must not leak into the plan, and a frontier already carrying a
        # crawl_delay_s column must not become ambiguous
        dim = delays.select(
            F.col(host_col), F.col("crawl_delay_s").alias("_delay_dim")
        )
        ranked = ranked.join(broadcast(dim), host_col, "left")
        delay = F.coalesce(F.col("_delay_dim"), F.lit(default_delay_s))
    else:
        delay = F.lit(default_delay_s)

    def _q6(x):
        # e6 truncation grid, never repr-based round (the recrawl_priority
        # cross-engine lesson: Spark HALF_UPs the shortest-decimal repr,
        # DuckDB rounds the binary value — floor of identical doubles
        # cannot diverge)
        return F.floor(x * F.lit(1000000.0)) / F.lit(1000000.0)

    return ranked.select(
        F.col(host_col).alias("host"),
        F.col(url_col).alias("url"),
        (F.col("_rk") - 1).cast("int").alias("slot"),
        _q6(delay).alias("delay_s"),
        _q6((F.col("_rk") - 1) * delay).alias("fetch_offset_s"),
        F.col("n_queued").cast("bigint").alias("n_queued"),
    )


def crawl_trap_detect(
    df: DataFrame,
    *,
    url_col: str = "url",
    payload_col: str = "text",
    min_urls: int = 20,
    max_content_ratio: float = 0.2,
) -> DataFrame:
    """Crawl-trap detection: find URL TEMPLATES that explode into many
    distinct URLs serving (almost) the same content — calendar pages,
    session-id echoes, faceted-search grids. A frontier that keeps
    following them spends its budget on one host's infinite surface
    (classic crawler-trap literature, e.g. Heydon & Najork's Mercator).

    A url collapses to its template by erasing the parts traps vary:
    digit runs in the path -> ``N``, hex runs of >= 8 chars -> ``H``,
    every query-param VALUE -> the sorted list of param NAMES. Per
    (host, template) the detector reports ``n_urls`` (distinct URLs),
    ``n_contents`` (distinct payload digests) and flags a trap when the
    template has >= ``min_urls`` URLs whose content collapses to
    <= ``max_content_ratio`` of them — many addresses, few pages.

    Scale shape: one groupBy (host, template) with TWO exact distincts
    computed as approx-free count(DISTINCT) — Spark plans it as two
    partial-agg passes over the same exchange, no row blowup; the
    template erase is a per-row JVM regex chain. Hot hosts are just big
    groups (counters, not collected rows)."""
    url = F.col(url_col)
    host = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    path = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    # hex rule requires at least one a-f (lookahead): a pure 8+-digit run
    # is a NUMBER, not hex — otherwise calendar ids split across /N vs /H
    # templates at the 8-digit boundary and a mixed trap goes undetected
    tpath = F.regexp_replace(path, r"(?=[0-9]*[a-f])[0-9a-f]{8,}", "H")
    tpath = F.regexp_replace(tpath, r"[0-9]+", "N")
    pnames = F.when(
        query == "", F.lit("")
    ).otherwise(
        F.concat(
            F.lit("?"),
            F.array_join(
                F.array_sort(
                    F.transform(
                        F.split(query, "&"),
                        lambda kv: F.split(kv, "=")[0],
                    )
                ),
                ",",
            ),
        )
    )
    keyed = df.select(
        host.alias("host"),
        F.concat(tpath, pnames).alias("template"),
        url.alias("_u"),
        F.md5(F.col(payload_col)).alias("_d"),
    )
    agg = keyed.groupBy("host", "template").agg(
        F.countDistinct("_u").alias("n_urls"),
        F.countDistinct("_d").alias("n_contents"),
    )
    return agg.select(
        "host",
        "template",
        "n_urls",
        "n_contents",
        F.round(F.col("n_contents").cast("double") / F.col("n_urls"), 6).alias(
            "content_ratio"
        ),
        (
            (F.col("n_urls") >= min_urls)
            & (
                F.col("n_contents").cast("double")
                <= F.col("n_urls") * F.lit(max_content_ratio)
            )
        ).alias("is_trap"),
    )


def host_lang_outliers(
    df: DataFrame,
    *,
    url_col: str = "url",
    lang_col: str = "lang",
    min_share: float = 0.6,
    min_pages: int = 5,
) -> DataFrame:
    """Host-majority language consistency: flag pages whose language
    disagrees with their host's dominant language. On a real crawl these
    are misdetected langid rows, boilerplate-only pages, or injected
    spam — either way the rows a monolingual corpus slice wants audited
    (the CCNet pipeline buckets by (host-agnostic) langid; this adds the
    host prior). A host only asserts a majority when it is decisive:
    >= ``min_pages`` pages and the top language holding >= ``min_share``
    of them — hosts below either bar flag nothing.

    Output: one row per page, ``(url, lang, host, host_lang,
    host_share, is_outlier)`` with ``host_lang`` NULL for undecided
    hosts. Ties on the top language break on the language code —
    deterministic, replayable.

    Scale shape: one groupBy (host, lang) with map-side combine, one
    per-host max_by to pick the winner atomically (no cross-column mix),
    then ONE join back to pages keyed on host — the winners table is
    host-count-sized (tiny next to the corpus; AQE broadcasts it)."""
    host = F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    pages = df.select(F.col(url_col).alias("url"), F.col(lang_col).alias("lang"))
    pages = pages.withColumn("host", host)
    counts = pages.groupBy("host", "lang").agg(F.count(F.lit(1)).alias("c"))
    # winner per host: rank the (host, lang) counts — at most #languages
    # rows per host, so the window partitions are constant-sized
    wk = W.partitionBy("host").orderBy(F.desc("c"), F.asc("lang"))
    win = (
        counts.withColumn("_rk", F.row_number().over(wk))
        .withColumn("n_pages", F.sum("c").over(W.partitionBy("host")))
        .filter(F.col("_rk") == 1)
        .select(
            "host",
            F.col("lang").alias("_wl"),
            "n_pages",
            (F.col("c").cast("double") / F.col("n_pages")).alias("_share"),
        )
    )
    decided = (F.col("n_pages") >= min_pages) & (F.col("_share") >= min_share)
    win = win.select(
        "host",
        F.when(decided, F.col("_wl")).alias("host_lang"),
        F.when(decided, F.round("_share", 6)).alias("host_share"),
    )
    return pages.join(win, "host").select(
        "url",
        "lang",
        "host",
        "host_lang",
        "host_share",
        (
            F.col("host_lang").isNotNull() & (F.col("lang") != F.col("host_lang"))
        ).alias("is_outlier"),
    )


# The full public ISO 639-1 two-letter code set (184 codes) — the path
# segments bitext_candidates treats as language markers. A bare [a-z]{2}
# would erase /tv/, /js/, /go/ ... and fabricate translation pairs.
_ISO639_1 = (
    "aa|ab|ae|af|ak|am|an|ar|as|av|ay|az|ba|be|bg|bh|bi|bm|bn|bo|br|bs|ca|"
    "ce|ch|co|cr|cs|cu|cv|cy|da|de|dv|dz|ee|el|en|eo|es|et|eu|fa|ff|fi|fj|"
    "fo|fr|fy|ga|gd|gl|gn|gu|gv|ha|he|hi|ho|hr|ht|hu|hy|hz|ia|id|ie|ig|ii|"
    "ik|io|is|it|iu|ja|jv|ka|kg|ki|kj|kk|kl|km|kn|ko|kr|ks|ku|kv|kw|ky|la|"
    "lb|lg|li|ln|lo|lt|lu|lv|mg|mh|mi|mk|ml|mn|mr|ms|mt|my|na|nb|nd|ne|ng|"
    "nl|nn|no|nr|nv|ny|oc|oj|om|or|os|pa|pi|pl|ps|pt|qu|rm|rn|ro|ru|rw|sa|"
    "sc|sd|se|sg|si|sk|sl|sm|sn|so|sq|sr|ss|st|su|sv|sw|ta|te|tg|th|ti|tk|"
    "tl|tn|to|tr|ts|tt|tw|ty|ug|uk|ur|uz|ve|vi|vo|wa|wo|xh|yi|yo|za|zh|zu"
)


def bitext_candidates(
    df: DataFrame,
    *,
    url_col: str = "url",
    lang_col: str = "lang",
    text_col: str = "text",
    max_len_ratio: float = 2.0,
) -> DataFrame:
    """URL-matched bitext candidate mining (the ParaCrawl/WMT shared-task
    recipe, Banon et al. 2020): multilingual sites publish translations
    at URLs that differ only by a language marker — strip the marker and
    pages sharing the residual key in DIFFERENT languages are candidate
    translation pairs for parallel-corpus alignment.

    The language marker is erased in two places: path segments that are
    exactly a REAL ISO-639-1 code with optional region (``/en/``,
    ``/pt-br/`` -> ``/L/``; the vendored 184-code alternation — a bare
    ``[a-z]{2}`` would also erase ``/tv/``, ``/js/`` and every other
    two-letter non-language segment and fabricate pairs; codes that
    double as common path words, e.g. ``/id/``, remain a documented
    ambiguity) and ``lang``/``locale``/``hl`` query parameters. One page
    represents each (key, lang) — the minimum URL, deterministic — so a
    key's join fan-out is bounded by the language count, never by dup
    pages. Candidate pairs keep ``lang_a < lang_b`` (each pair once) and
    must pass the classic length-ratio gate: translations track each
    other's length, so ``len_ratio`` (longer/shorter in chars) above
    ``max_len_ratio`` is dropped.

    Scale shape: one groupBy on the stripped key, then a self-equi-join
    on it — both sides one-row-per-(key, lang), so the join output per
    key is at most C(langs, 2); skew is structurally impossible. The
    ratio filter computes before the pair row widens."""
    url = F.col(url_col)
    host = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    path = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    spath = F.regexp_replace(
        path, r"/(?:" + _ISO639_1 + r")(-[a-z]{2})?(?=/|$)", "/L"
    )
    squery = F.regexp_replace(query, r"(^|&)(lang|locale|hl)=[^&]*", "")
    squery = F.regexp_replace(squery, r"^&", "")
    key = F.concat(
        host,
        spath,
        F.when(squery == "", F.lit("")).otherwise(F.concat(F.lit("?"), squery)),
    )
    keyed = df.select(
        key.alias("pair_key"),
        F.col(lang_col).alias("lang"),
        url.alias("u"),
        F.length(text_col).cast("bigint").alias("tlen"),
    )
    one = keyed.groupBy("pair_key", "lang").agg(
        F.min(F.struct("u", "tlen")).alias("w")
    )
    a = one.select(
        "pair_key",
        F.col("lang").alias("lang_a"),
        F.col("w.u").alias("url_a"),
        F.col("w.tlen").alias("len_a"),
    )
    b = one.select(
        "pair_key",
        F.col("lang").alias("lang_b"),
        F.col("w.u").alias("url_b"),
        F.col("w.tlen").alias("len_b"),
    )
    pairs = a.join(b, "pair_key").filter(F.col("lang_a") < F.col("lang_b"))
    ratio = F.greatest("len_a", "len_b").cast("double") / F.greatest(
        F.least("len_a", "len_b"), F.lit(1)
    )
    return pairs.withColumn("len_ratio", F.round(ratio, 6)).filter(
        F.col("len_ratio") <= max_len_ratio
    )


def robots_crawl_delay(
    robots: DataFrame,
    *,
    host_col: str = "host",
    text_col: str = "robots_txt",
    user_agent: str = "*",
) -> DataFrame:
    """Per-host ``Crawl-delay`` extraction from robots.txt — the input
    table politeness_schedule's ``delays`` parameter wants. Group
    selection is IDENTICAL to parse_robots (exact product token beats
    ``*``; nonstandard directive, but the de-facto grammar is a number
    of seconds inside a User-agent group). When the applicable groups
    carry conflicting values the MAXIMUM wins — the conservative read: a
    crawler honoring any published delay should honor the slowest one.
    Non-numeric values are ignored (never-throw), hosts with no
    applicable delay emit no row (the scheduler's default applies).

    Scale shape: the shared per-host-window line parse plus one groupBy
    host; robots files are KB-sized and hosts are many, so parallelism
    is the host count throughout."""
    blocks, chosen = _robots_chosen_blocks(
        robots, host_col=host_col, text_col=text_col, user_agent=user_agent
    )
    vals = (
        blocks.filter(
            (F.col("k") == "crawl-delay")
            & F.col("v").rlike(r"^[0-9]+(\.[0-9]+)?$")
        )
        .join(chosen, ["host", "block"])
        .groupBy("host")
        .agg(F.round(F.max(F.col("v").cast("double")), 6).alias("crawl_delay_s"))
    )
    return vals


def sitemap_coverage(
    sitemap_urls: DataFrame,
    crawled: DataFrame,
    *,
    url_col: str = "url",
) -> DataFrame:
    """Per-host sitemap-vs-crawl audit: of the URLs a host DECLARES
    (its sitemaps), how many did the crawl actually capture — and how
    much did the crawl fetch that the host never declared. Low coverage
    = the crawler is missing announced content; high extra = the
    frontier is wandering off-map (or the site's sitemap is stale).

    Output per host: ``(host, n_sitemap, n_covered, coverage,
    n_extra)`` — coverage rounds to 6 decimals; a host appearing only
    in the crawl reports n_sitemap = 0 and coverage NULL.

    Scale shape: both sides reduce to DISTINCT key-only URL sets (16
    B/row after hashing — the incremental-dedup shape), one full outer
    equi-join on url, one host groupBy. No row ever carries a payload."""
    host = F.regexp_extract(F.col("u"), r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    s = sitemap_urls.select(F.col(url_col).alias("u")).distinct().withColumn(
        "_in_s", F.lit(1)
    )
    c = crawled.select(F.col(url_col).alias("u")).distinct().withColumn(
        "_in_c", F.lit(1)
    )
    j = s.join(c, "u", "full_outer").select(
        host.alias("host"),
        F.coalesce(F.col("_in_s"), F.lit(0)).alias("_s"),
        F.coalesce(F.col("_in_c"), F.lit(0)).alias("_c"),
    )
    agg = j.groupBy("host").agg(
        F.sum("_s").cast("bigint").alias("n_sitemap"),
        F.sum(F.col("_s") * F.col("_c")).cast("bigint").alias("n_covered"),
        F.sum(F.when(F.col("_s") == 0, F.col("_c")).otherwise(0))
        .cast("bigint")
        .alias("n_extra"),
    )
    return agg.select(
        "host",
        "n_sitemap",
        "n_covered",
        F.when(
            F.col("n_sitemap") > 0,
            F.round(F.col("n_covered").cast("double") / F.col("n_sitemap"), 6),
        ).alias("coverage"),
        "n_extra",
    )


def template_fingerprint(
    df: DataFrame,
    *,
    url_col: str = "url",
    html_col: str = "html_str",
) -> DataFrame:
    """Structural template fingerprint: hash the document's TAG SEQUENCE
    (names + open/close shape, text dropped) so pages generated by the
    same CMS template collapse to one fingerprint — the grouping key for
    template-level analyses (boilerplate mining, trap confirmation,
    per-template sampling caps). Gibson, Punera & Tomkins (WWW'05)
    measured template content at 40-50% of the web, which is why a
    corpus pipeline wants this axis.

    ``template_fp`` = md5 of the concatenated tag tokens (``<div``,
    ``</div``, ...); ``n_tags`` the token count; ``template_size`` how
    many pages in the corpus share the fingerprint (1 = bespoke page).

    Scale shape: tag extraction is a per-row JVM regex (one pass, no
    Python); the size attach is a fingerprint groupBy (map-side combine
    absorbs mega-templates into counters) joined back on the
    template-count-sized table (AQE broadcasts it when it fits) — NOT a
    count window, whose WindowExec would buffer a mega-template's whole
    partition in one task."""
    tags = F.regexp_extract_all(
        F.lower(F.col(html_col)), F.lit(r"</?[a-z][a-z0-9]*"), 0
    )
    base = df.select(
        F.col(url_col).alias("url"),
        F.size(tags).cast("bigint").alias("n_tags"),
        F.md5(F.array_join(tags, "")).alias("template_fp"),
    )
    sizes = base.groupBy("template_fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("template_size")
    )
    return base.join(sizes, "template_fp").select(
        "url", "n_tags", "template_fp", "template_size"
    )


def pagination_merge(
    df: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
    max_parts: int = 50,
    markers: tuple[str, ...] = ("page", "pg"),
) -> DataFrame:
    """Paginated-article reassembly: sites split one logical document
    across ``?page=2``-style URLs; a training corpus that keeps the
    parts as separate documents learns truncated texts and inflated
    page counts. Detection is purely structural: a SERIES KEY = the URL
    with its pagination marker erased (a ``markers`` query parameter —
    DEFAULT ``page``/``pg`` only; ``p``/``start`` are common item-id
    params on real sites and merging on them would concatenate distinct
    products, so they are opt-in — or a trailing ``/page/N`` path
    segment), a part number from the marker (default 1 when absent),
    and one output row per series with the parts concatenated IN PART
    ORDER.

    Rules: duplicate part numbers keep the minimum URL's text (a
    recrawled part must not duplicate its text into the merge); series
    longer than ``max_parts`` truncate WITH accounting (``n_parts`` is
    the pre-cap count, ``n_merged`` what the text actually holds — the
    cap_hot_buckets contract against pagination-shaped crawl traps).

    Output: ``(series_key, n_parts, n_merged, first_url, merged_text)``
    — single-part series pass through unchanged (n_parts = 1), so the
    operator is a safe always-on corpus stage.

    Scale shape: marker erasure is per-row JVM regex; ONE groupBy on
    the series key whose state is the sorted (part, url, text) struct
    array bounded by ``max_parts`` via slice-after-sort (the sort is
    array_sort INSIDE the aggregate row, sized by the series, not the
    corpus). No window, no self-join."""
    url = F.col(url_col)
    alt = "|".join(markers)
    # ?page=N-style marker (any position in the query)
    qpart = F.regexp_extract(url, r"[?&](?:" + alt + r")=([0-9]+)", 1)
    # trailing /page/N path form
    ppart = F.regexp_extract(url, r"/page/([0-9]+)(?:[/?#]|$)", 1)
    part = F.coalesce(
        F.when(qpart != "", qpart).otherwise(None).cast("int"),
        F.when(ppart != "", ppart).otherwise(None).cast("int"),
        F.lit(1),
    )
    skey = F.regexp_replace(url, r"([?&])(?:" + alt + r")=[0-9]+&?", r"$1")
    skey = F.regexp_replace(skey, r"/page/[0-9]+(?=[/?#]|$)", "")
    skey = F.regexp_replace(skey, r"[?&]$", "")
    rows = df.select(
        skey.alias("series_key"),
        part.alias("part"),
        url.alias("u"),
        F.col(text_col).alias("t"),
    )
    # one row per (series, part): minimum URL wins (deterministic)
    one = rows.groupBy("series_key", "part").agg(
        F.min(F.struct("u", "t")).alias("w")
    )
    agg = one.groupBy("series_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.array_sort(
            F.collect_list(F.struct(F.col("part"), F.col("w.u").alias("u"), F.col("w.t").alias("t")))
        ).alias("_ps"),
    )
    kept = F.slice(F.col("_ps"), 1, max_parts)
    return agg.select(
        "series_key",
        "n_parts",
        F.least(F.col("n_parts"), F.lit(max_parts)).cast("bigint").alias("n_merged"),
        F.element_at(kept, 1)["u"].alias("first_url"),
        F.array_join(F.transform(kept, lambda s: s["t"]), "\n").alias("merged_text"),
    )


def robots_meta_gate(
    df: DataFrame,
    *,
    html_col: str = "html_str",
    header_col: str | None = "x_robots_tag",
    url_col: str = "url",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Page-level robots directives — the complement of robots.txt
    (robots_filter): ``<meta name="robots" content="noindex, nofollow">``
    in the head and the ``X-Robots-Tag`` response header. A corpus
    ingest must honor these (publishers opt pages out of indexing), and
    the MOST RESTRICTIVE source wins when both are present — exactly the
    combining rule search engines document publicly.

    ``none`` is shorthand for ``noindex, nofollow``. ALL robots meta
    tags on the page combine (a theme may emit a permissive default and
    a plugin a restrictive one later — search engines apply the union
    of restrictions, so the gate must too). Output per page: the two
    verdict booleans and which source(s) restricted the page ('meta' /
    'header' / 'both', NULL when unrestricted). Pure JVM regex on the
    head + a lower-trim of the header column; no shuffle.
    """
    meta_all = F.concat(
        F.expr(f"""regexp_extract_all({html_col},
          '(?i)<meta[^>]*name=["\\']robots["\\'][^>]*content=["\\']([^"\\']*)["\\']',
          1)"""),
        F.expr(f"""regexp_extract_all({html_col},
          '(?i)<meta[^>]*content=["\\']([^"\\']*)["\\'][^>]*name=["\\']robots["\\']',
          1)"""),
    )
    meta = F.lower(F.array_join(meta_all, ","))
    header = (F.lower(F.coalesce(F.col(header_col), F.lit("")))
              if header_col else F.lit(""))

    def has(src: Column, token: str) -> Column:
        return src.rlike(r"(^|[,\s])" + token + r"([,\s]|$)")

    meta_noindex = has(meta, "noindex") | has(meta, "none")
    meta_nofollow = has(meta, "nofollow") | has(meta, "none")
    hdr_noindex = has(header, "noindex") | has(header, "none")
    hdr_nofollow = has(header, "nofollow") | has(header, "none")
    noindex = meta_noindex | hdr_noindex
    nofollow = meta_nofollow | hdr_nofollow
    meta_any = meta_noindex | meta_nofollow
    hdr_any = hdr_noindex | hdr_nofollow
    source = (
        F.when(meta_any & hdr_any, "both")
        .when(meta_any, "meta")
        .when(hdr_any, "header"))
    # `keep` passes columns through the verdict projection so composed
    # pipelines never need a corpus-sized join-back to recover them
    return df.select(
        F.col(url_col).alias("url"),
        *[F.col(c) for c in keep],
        noindex.alias("noindex"),
        nofollow.alias("nofollow"),
        (~noindex).alias("indexable"),
        source.alias("restricted_by"),
    )


_ITEM_EL = r"(?is)<item[\s>].*?</item\s*>|<item></item>"
_ENTRY_EL = r"(?is)<entry[\s>].*?</entry\s*>|<entry></entry>"


def parse_feeds(
    df: DataFrame,
    *,
    xml_col: str = "feed_xml",
    url_col: str = "url",
) -> DataFrame:
    """RSS 2.0 / Atom (RFC 4287) feed parsing -> one row per item/entry:
    ``(url, feed_type, title, link, guid, published, summary)``. Feeds
    are how a crawler discovers fresh content between sitemap passes;
    a corpus ingest parses them columnar exactly like sitemaps.

    One pass handles BOTH dialects: the item element set is the concat
    of <item> and <entry> blocks, and each field coalesces its RSS and
    Atom spellings (guid|id, pubDate|updated, description|summary);
    Atom links are ``<link href="..."/>`` ATTRIBUTES while RSS links
    are element text — also coalesced. CDATA and the five XML entities
    decode via the shared _xml_text helper. Documents without items
    drop (explode semantics), title-less items survive with NULLs.

    Scale shape: map-only — two regexp_extract_all + one explode per
    document, no shuffle, no Python (the parse_sitemaps envelope)."""
    xml = F.col(xml_col).cast("string")
    els = F.concat(
        F.regexp_extract_all(xml, F.lit(_ITEM_EL), 0),
        F.regexp_extract_all(xml, F.lit(_ENTRY_EL), 0),
    )
    feed_type = F.when(
        F.lower(xml).rlike(r"(?s)<rss[\s>]"), F.lit("rss")
    ).when(
        F.lower(xml).rlike(r"(?s)<feed[\s>]"), F.lit("atom")
    )
    e = df.select(
        F.col(url_col).alias("url"),
        feed_type.alias("feed_type"),
        F.explode(els).alias("_el"),
    )
    atom_href = F.nullif(
        F.regexp_extract(
            F.col("_el"), r'(?is)<link[^>]*href=["\']([^"\']*)["\']', 1),
        F.lit(""))
    return e.select(
        "url", "feed_type",
        _xml_text(F.col("_el"), "title").alias("title"),
        F.coalesce(atom_href, _xml_text(F.col("_el"), "link")).alias("link"),
        F.coalesce(
            _xml_text(F.col("_el"), "guid"),
            _xml_text(F.col("_el"), "id")).alias("guid"),
        F.coalesce(
            _xml_text(F.col("_el"), "pubDate"),
            _xml_text(F.col("_el"), "updated")).alias("published"),
        F.coalesce(
            _xml_text(F.col("_el"), "description"),
            _xml_text(F.col("_el"), "summary")).alias("summary"),
    )
