"""Chat / mail / social connectors — irc, xmpp, imap (RFC822), twitter.

Reference surface: the live-service plugins in the manifest
(rakelib/default_plugins.rb:58-59,71,74 inputs; :9,87,90 outputs). The
reference repo ships only the manifest — these are re-expressed from the
public plugin option surfaces and the public wire formats (IRC RFC 2812
client protocol, XMPP RFC 6121 message stanzas, RFC 822/5322 mail, the
public twitter status JSON shape). Sandbox stance is the same file-backed
wire contract as kafka/redis/zeromq (sources/bus.py): encode produces the
REAL bytes/lines the protocol puts on the wire, a shim applies the
transform the broker/server performs in transit, decode recovers typed
events — the full hop is value-oracled with no live service present.

Every decode here is pure JVM column expressions (regexp_extract /
from_json / replace chains) — no Python in the hot path, map-only, no
shuffle; linear at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# irc (logstash-input-irc / logstash-output-irc, default_plugins.rb:59,89)
# ---------------------------------------------------------------------------

# RFC 2812 message: [':' prefix SPACE] command params. For PRIVMSG the
# prefix is nick[!user@host]; trailing param after ' :' is the text.
_IRC_PRIVMSG_RX = r"^(?::([^!\s]+)(?:!([^@\s]+)@(\S+))?\s)?PRIVMSG\s(\S+)\s:(.*)$"


def irc_wire_shim(
    lines: DataFrame, *, nick: str = "logstash", user: str = "ls", host: str = "shipper.local",
    column: str = "line",
) -> DataFrame:
    """What the IRC server does in transit: a client sends
    ``PRIVMSG #chan :text`` (the IrcSink frame, sinks.py IrcSink) and the
    server DELIVERS it to other clients with the sender prefix prepended —
    ``:nick!user@host PRIVMSG #chan :text`` (RFC 2812 §2.3). Map-only."""
    return lines.withColumn(
        column, F.concat(F.lit(f":{nick}!{user}@{host} "), F.col(column))
    )


def decode_irc_lines(df: DataFrame, column: str = "line") -> DataFrame:
    """irc input: each delivered PRIVMSG line -> one event with the
    plugin's fields (logstash-input-irc): ``message`` = trailing text,
    ``channel``, and sender identity ``nick``/``user``/``host`` parsed
    from the prefix (absent on a client-originated frame -> null). Lines
    that are not PRIVMSG (PING, JOIN, numerics, garbage) tag
    ``_ircparsefailure`` and keep the raw line in ``message``."""
    c = F.col(column)
    ok = c.rlike(_IRC_PRIVMSG_RX)
    g = lambda i: F.nullif(F.regexp_extract(c, _IRC_PRIVMSG_RX, i), F.lit(""))
    made = {"nick", "user", "host", "channel", "message", "tags"}
    out = df.select(
        *[x for x in df.columns if x != column and x not in made],
        g(1).alias("nick"),
        g(2).alias("user"),
        g(3).alias("host"),
        g(4).alias("channel"),
        F.when(ok, F.regexp_extract(c, _IRC_PRIVMSG_RX, 5)).otherwise(c).alias("message"),
        F.when(~ok, F.array(F.lit("_ircparsefailure"))).alias("tags"),
    )
    return out


# ---------------------------------------------------------------------------
# xmpp (logstash-input-xmpp / logstash-output-xmpp, default_plugins.rb:74,9)
# ---------------------------------------------------------------------------


def _xml_escape(c: Column) -> Column:
    # order matters: '&' first or the entity ampersands double-escape.
    # CR/LF go to numeric character references so a stanza always stays ONE
    # physical line (the sink's line-framed capture) — multiline log bodies
    # would otherwise split across lines and fail the input's decode.
    for a, b in [
        ("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"),
        ("\r", "&#13;"), ("\n", "&#10;"),
    ]:
        c = F.replace(c, F.lit(a), F.lit(b))
    return c


def _xml_unescape(c: Column) -> Column:
    # numeric refs first: any literal '&#10;' in source text was escaped to
    # '&amp;#10;' on the way in, so these sequences only denote real CR/LF
    for a, b in [
        ("&#10;", "\n"), ("&#13;", "\r"),
        ("&quot;", '"'), ("&gt;", ">"), ("&lt;", "<"), ("&amp;", "&"),
    ]:
        c = F.replace(c, F.lit(a), F.lit(b))
    return c


def encode_xmpp_stanzas(
    df: DataFrame, *, to: str, body: str = "%{message}", from_jid: str = "logstash@shipper.local",
    msg_type: str = "chat",
) -> DataFrame:
    """xmpp output: one RFC 6121 message stanza per (event x recipient) —
    the exact XML a client session writes. ``to`` and ``body`` are
    sprintf templates (the plugin's users/rooms + message options);
    ``msg_type`` is 'chat' for users, 'groupchat' for MUC rooms. Body is
    XML-escaped; attribute values never carry user bytes except the
    sprintf'd JID (escaped too)."""
    from logstash_spark.event import sprintf_col

    stanza = F.concat(
        F.lit('<message from="'), _xml_escape(F.lit(from_jid)),
        F.lit('" to="'), _xml_escape(sprintf_col(to, df)),
        F.lit(f'" type="{msg_type}"><body>'),
        _xml_escape(sprintf_col(body, df)),
        F.lit("</body></message>"),
    )
    return df.select(stanza.alias("stanza"))


_XMPP_RX = (
    r'^<message from="([^"]*)" to="([^"]*)" type="([^"]*)"><body>'
    r"(.*)</body></message>$"
)


def decode_xmpp_stanzas(df: DataFrame, column: str = "stanza") -> DataFrame:
    """xmpp input: message stanzas -> events with the plugin's fields
    (logstash-input-xmpp): ``message`` = body text (entities unescaped),
    ``from`` JID under ``xmpp_from`` (SQL-keyword-safe name), plus
    ``xmpp_to``/``xmpp_type``. Non-message stanzas (presence, iq, junk)
    tag ``_xmppparsefailure``."""
    c = F.col(column)
    ok = c.rlike(_XMPP_RX)
    g = lambda i: F.nullif(F.regexp_extract(c, _XMPP_RX, i), F.lit(""))
    made = {"xmpp_from", "xmpp_to", "xmpp_type", "message", "tags"}
    return df.select(
        *[x for x in df.columns if x != column and x not in made],
        _xml_unescape(g(1)).alias("xmpp_from"),
        _xml_unescape(g(2)).alias("xmpp_to"),
        g(3).alias("xmpp_type"),
        F.when(ok, _xml_unescape(F.regexp_extract(c, _XMPP_RX, 4))).otherwise(c).alias("message"),
        F.when(~ok, F.array(F.lit("_xmppparsefailure"))).alias("tags"),
    )


# ---------------------------------------------------------------------------
# imap -> RFC822 mail decode (logstash-input-imap, default_plugins.rb:58)
# ---------------------------------------------------------------------------


def encode_rfc822(
    df: DataFrame, *, to: str, from_addr: str, subject: str, body: Column
) -> Column:
    """The RFC822 message text EmailSink puts on the SMTP wire — shared
    by the sink and the imap round-trip oracle so encode/decode stay one
    definition. ``to``/``subject`` are sprintf templates."""
    from logstash_spark.event import sprintf_col

    return F.concat(
        F.lit(f"From: {from_addr}\r\n"),
        F.lit("To: "), sprintf_col(to, df), F.lit("\r\n"),
        F.lit("Subject: "), sprintf_col(subject, df), F.lit("\r\n\r\n"),
        body,
    )


def decode_rfc822(df: DataFrame, column: str = "rfc822") -> DataFrame:
    """imap input: one fetched RFC822 message -> one event. Plugin
    semantics (logstash-input-imap): ``message`` = the mail body; the
    interesting headers land as lowercased fields — here as
    ``mail_from``/``mail_to``/``subject`` (from/to prefixed to stay
    SQL-keyword-safe; divergence documented in COVERAGE.md). Header
    values are taken up to end-of-line; a message with no blank-line
    separator tags ``_mailparsefailure`` with the raw text kept in
    ``message``. Pure JVM regex — the mail never leaves the JVM."""
    c = F.col(column)
    sep_ok = c.rlike(r"(?s)\r\n\r\n")
    # headers parse ONLY from the header block (before the first blank
    # line) — a body that happens to contain "Subject: x" must not leak
    # into the header fields
    block = F.regexp_extract(c, r"(?s)^(.*?)\r\n\r\n", 1)
    hdr = lambda name: F.nullif(
        F.regexp_extract(block, rf"(?:^|\r\n){name}: ([^\r\n]*)", 1), F.lit("")
    )
    made = {"mail_from", "mail_to", "subject", "message", "tags"}
    return df.select(
        *[x for x in df.columns if x != column and x not in made],
        hdr("From").alias("mail_from"),
        hdr("To").alias("mail_to"),
        hdr("Subject").alias("subject"),
        F.when(sep_ok, F.regexp_extract(c, r"(?s)\r\n\r\n(.*)$", 1)).otherwise(c).alias("message"),
        F.when(~sep_ok, F.array(F.lit("_mailparsefailure"))).alias("tags"),
    )


# ---------------------------------------------------------------------------
# twitter (logstash-input-twitter, default_plugins.rb:71)
# ---------------------------------------------------------------------------

TWITTER_STATUS_SCHEMA = (
    "created_at string, id_str string, text string, source string, "
    "retweeted boolean, in_reply_to_status_id_str string, "
    "user struct<screen_name:string, id_str:string, lang:string>, "
    "entities struct<"
    "hashtags:array<struct<text:string>>, "
    "user_mentions:array<struct<screen_name:string>>, "
    "urls:array<struct<expanded_url:string>>>"
)


def decode_twitter_statuses(df: DataFrame, column: str = "status_json") -> DataFrame:
    """twitter input: one public-API status JSON per row -> one event
    with the plugin's fields (logstash-input-twitter): ``message`` = the
    status text, ``user`` = screen_name, ``client`` = posting app
    (source), ``retweeted``, plus flattened entity arrays ``hashtags``/
    ``mentions``/``urls`` and ``in_reply_to``. Unparseable JSON (null
    struct) tags ``_twitterparsefailure``. from_json + transform —
    all JVM, map-only."""
    s = F.from_json(F.col(column), TWITTER_STATUS_SCHEMA)
    ok = s.isNotNull() & s["text"].isNotNull()
    made = {"message", "user", "client", "retweeted", "in_reply_to",
            "hashtags", "mentions", "urls", "tags"}
    return df.select(
        *[x for x in df.columns if x != column and x not in made],
        # keep-and-flag like the sibling decoders: an unparseable document
        # keeps its raw JSON in message so the failure is debuggable
        F.when(ok, s["text"]).otherwise(F.col(column)).alias("message"),
        s["user"]["screen_name"].alias("user"),
        s["source"].alias("client"),
        s["retweeted"].alias("retweeted"),
        s["in_reply_to_status_id_str"].alias("in_reply_to"),
        F.transform(s["entities"]["hashtags"], lambda h: h["text"]).alias("hashtags"),
        F.transform(s["entities"]["user_mentions"], lambda m: m["screen_name"]).alias("mentions"),
        F.transform(s["entities"]["urls"], lambda u: u["expanded_url"]).alias("urls"),
        F.when(~ok, F.array(F.lit("_twitterparsefailure"))).alias("tags"),
    )


# ---------------------------------------------------------------------------
# mbox container (the on-disk mail-archive format public lists publish;
# RFC 4155): splits into messages that decode_rfc822 then consumes.
# ---------------------------------------------------------------------------


def mbox_split(df: DataFrame, *, mbox_col: str = "mbox",
               src_col: str = "url") -> DataFrame:
    """mbox archive -> one row per message: ``(url, msg_idx, env_from,
    env_date, rfc822)``. Messages are delimited by ``From `` envelope
    lines at line starts (RFC 4155); the envelope sender and date come
    from that line, the message text is everything until the next
    envelope. ``>From `` lines inside bodies (the classic mbox QUOTING
    of literal From-lines) are UNQUOTED back to ``From `` in the
    emitted message. CRLF and LF archives both split. Columnar: one
    split + posexplode + per-element regex — no Python, no shuffle.

    Compose with decode_rfc822 for the full mail decode (the imap
    plugin's semantics); msg_idx preserves archive order."""
    txt = F.col(mbox_col).cast("string")
    # normalize a leading delimiter so split yields a clean leading ''
    msgs = F.split(F.concat(F.lit("\n"), txt), r"(?m)^From ")
    # trim() strips spaces only — the leading '' element carries a
    # newline, so presence needs the \S test
    body_msgs = F.filter(msgs, lambda m: m.rlike(r"\S"))
    e = df.select(
        F.col(src_col).alias("url"),
        F.posexplode(body_msgs).alias("msg_idx", "_m"))
    env = F.regexp_extract("_m", r"^([^\r\n]*)", 1)
    env_from = F.nullif(
        F.regexp_extract(env, r"^(\S+)", 1), F.lit(""))
    env_date = F.nullif(
        F.regexp_extract(env, r"^\S+\s+(.*)$", 1), F.lit(""))
    body = F.regexp_extract(F.col("_m"), r"(?s)\r?\n(.*)$", 1)
    body = F.regexp_replace(body, r"(?m)^>From ", "From ")
    # strip the blank separator line before the next envelope
    body = F.regexp_replace(body, r"\r?\n$", "")
    # normalize line endings to CRLF: decode_rfc822 speaks wire-format
    # CRLF, while on-disk mboxes are usually LF — without this every
    # message of an LF archive would tag _mailparsefailure (review pin)
    body = F.regexp_replace(body, r"\r?\n", "\r\n")
    return e.select(
        "url", "msg_idx",
        env_from.alias("env_from"),
        env_date.alias("env_date"),
        body.alias("rfc822"),
    )
