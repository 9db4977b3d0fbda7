"""Output routing and sinks — single-scan multi-sink fan-out.

Reference: the output stage applies EVERY output's conditional to every
event in one pass (lib/logstash/config/config_ast.rb:239-240 — each
``output.handle(event)`` behind its compiled conditional; one ordered output
thread, pipeline.rb:236-249). A naive Spark translation runs one job per
sink, rescanning the fact table N times — at 100 TB that's N full scans.

Design here: compute all route predicates as boolean columns in the SAME
projection, persist the transformed frame once (MEMORY_AND_DISK — spills
instead of recomputing a 100 TB parse), then run cheap filtered writes per
sink. Each sink also gets its per-sink groupBy aggregate (the statsd/
graphite analog, docs/tutorials/metrics-from-logs.md) computed off the same
cached frame.

The hidden `@metadata`/`_meta` columns are dropped at every sink boundary
(lib/logstash/event.rb:298-306: metadata excluded from serialization).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

META_PREFIX = "_meta"


def strip_internal(df: DataFrame) -> DataFrame:
    drop = [c for c in df.columns if c.startswith(META_PREFIX) or c.startswith("_route_")
            or c in ("_grok_matched", "_date_matched")]
    out = df.drop(*drop) if drop else df
    # sink-boundary type policy: timestamps leave the engine as INSTANTS
    # (@timestamp is always UTC in the reference, timestamp.rb:23). The
    # streaming path casts NTZ for watermarks while batch did not — the
    # same pipeline then appended timestamp_ntz files next to timestamp
    # files in one sink, breaking schema merge. Normalizing here makes
    # both paths write identical logical types (session TZ is pinned UTC
    # by session.py, so the cast never shifts the instant).
    ntz = [c for c, t in out.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        out = out.withColumn(c, F.col(c).cast("timestamp"))
    return out


@dataclass
class Sink:
    def write(self, df: DataFrame) -> Any:  # pragma: no cover
        raise NotImplementedError


@dataclass
class ParquetSink(Sink):
    path: str
    mode: str = "overwrite"
    partition_by: tuple[str, ...] = ()

    def write(self, df: DataFrame) -> Any:
        w = strip_internal(df).write.mode(self.mode)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(self.path)
        return self.path


@dataclass
class IcebergSink(Sink):
    """Iceberg table sink (the north rule's target format). Uses
    writeTo(table).append(); falls back to parquet when no catalog is
    configured in the sandbox."""

    table: str
    fallback_path: str | None = None

    def write(self, df: DataFrame) -> Any:
        try:
            strip_internal(df).writeTo(self.table).append()
            return self.table
        except Exception:
            if self.fallback_path:
                strip_internal(df).write.mode("append").parquet(self.fallback_path)
                return self.fallback_path
            raise


@dataclass
class JsonLinesSink(Sink):
    """file output with ``codec => json_lines``: NDJSON text files (the
    reference's wire-faithful file format) instead of the parquet default."""

    path: str

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.operators.codecs import encode_json

        encode_json(strip_internal(df), target="value").write.mode("append").text(self.path)
        return self.path


@dataclass
class SprintfFileSink(Sink):
    """file output with a sprintf path template (``path =>
    "/logs/%{type}-%{+yyyy.MM.dd}.log"``): the reference opens one file
    handle per rendered path; the Spark-first mapping renders the
    template as a PARTITION column and writes one directory per rendered
    value — parallel writers within each partition, no per-file driver
    loop, so a high-cardinality template (per-host, per-day) scales to
    any key count the shuffle can carry instead of exhausting file
    handles. Events serialize as NDJSON (the plugin's json_lines wire)."""

    base: str
    template: str

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.event import sprintf_col
        from logstash_spark.operators.codecs import encode_json

        enc = encode_json(df, target="value", drop_fields=False) \
            .withColumn("_ls_path", sprintf_col(self.template, df))
        enc.select("value", "_ls_path").write.mode("append") \
            .partitionBy("_ls_path").text(self.base)
        return self.base


@dataclass
class EsBulkSink(Sink):
    """Elasticsearch-output stand-in that produces the REAL wire format:
    es_bulk action+doc NDJSON (codecs.encode_es_bulk) written as text files
    — a downstream `_bulk` POST away from a live cluster. ``index`` takes
    the plugin's sprintf templates (e.g. 'logstash-%{+yyyy.MM.dd}')."""

    path: str
    index: str = "logstash"
    id_field: str | None = None

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.operators.codecs import encode_es_bulk

        out = encode_es_bulk(
            strip_internal(df), index=self.index, id_field=self.id_field, target="bulk"
        )
        out.select("bulk").write.mode("append").text(self.path)
        return self.path


@dataclass
class GraphiteSink(Sink):
    """graphite output with the REAL line protocol (``metric value
    epoch_seconds`` text lines via codecs.encode_graphite) — one socket
    write away from a live carbon daemon. ``metric`` takes the plugin's
    sprintf templates."""

    path: str
    metric: str
    value: str
    ts: str = "@timestamp"
    # additional (metric_template, value_field) pairs — the plugin's
    # metrics hash may hold several; all emit, one line per pair per event
    metrics: tuple = ()

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.event import sprintf_col
        from logstash_spark.operators.codecs import encode_graphite

        d = strip_internal(df)
        # metric is a NAME template: sprintf if templated, else the literal
        # carbon path (a bare name is NOT a column reference — the plugin's
        # metrics keys are metric names)
        pairs = [(self.metric, self.value)] + [tuple(p) for p in self.metrics]


        if len(pairs) == 1:
            mcol = "_graphite_metric"
            d = d.withColumn(mcol, sprintf_col(self.metric, d))
            out = encode_graphite(d, metric=mcol, value=self.value, ts=self.ts, target="line")
        else:
            # one line per (metric, value) pair per event: explode a
            # struct array — single pass, map-side only
            d = d.withColumn(
                "_g",
                F.explode(F.array(*[
                    F.struct(sprintf_col(m, d).alias("m"), F.col(v).cast("string").alias("v"))
                    for m, v in pairs
                ])),
            ).withColumn("_g_m", F.col("_g.m")).withColumn("_g_v", F.col("_g.v"))
            out = encode_graphite(d, metric="_g_m", value="_g_v", ts=self.ts, target="line")
        out.select("line").write.mode("append").text(self.path)
        return self.path


@dataclass
class CsvSink(Sink):
    """csv output writing REAL delimited text lines (codecs.encode_csv),
    not a parquet stand-in — the plugin's `fields` + `csv_options`
    separator surface."""

    path: str
    fields: tuple
    separator: str = ","

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.operators.codecs import encode_csv

        out = encode_csv(strip_internal(df), list(self.fields), target="line",
                         sep=self.separator)
        out.select("line").write.mode("append").text(self.path)
        return self.path


@dataclass
class TcpSink(Sink):
    """tcp output: newline-framed events over real sockets. Scale-honest
    shape: EACH PARTITION opens its own connection and streams its rows
    (foreachPartition — the many-collectors pattern), so there is no
    driver collect and no single-socket bottleneck; the receiving tier is
    expected to load-balance, exactly like a fleet of logstash shippers.
    ``codec='json_lines'`` sends event JSON; 'line' sends the message
    column."""

    host: str
    port: int
    codec: str = "json_lines"

    def write(self, df: DataFrame) -> Any:
        out = _frame_lines(strip_internal(df), self.codec)
        host, port = self.host, self.port

        def send(rows) -> None:
            import socket as _s

            buf = []
            for r in rows:
                if r[0] is not None:
                    buf.append(r[0])
            if not buf:
                return
            c = _s.create_connection((host, port), timeout=30)
            try:
                c.sendall(("\n".join(buf) + "\n").encode("utf-8"))
            finally:
                c.close()

        out.foreachPartition(send)
        return f"tcp://{host}:{port}"


@dataclass
class UdpSink(Sink):
    """udp output: one datagram per event, sent from each partition."""

    host: str
    port: int
    codec: str = "json_lines"

    def write(self, df: DataFrame) -> Any:
        out = _frame_lines(strip_internal(df), self.codec)
        host, port = self.host, self.port

        def send(rows) -> None:
            import socket as _s

            sock = _s.socket(_s.AF_INET, _s.SOCK_DGRAM)
            try:
                for r in rows:
                    if r[0] is not None:
                        sock.sendto(r[0].encode("utf-8"), (host, port))
            finally:
                sock.close()

        out.foreachPartition(send)
        return f"udp://{host}:{port}"


def _frame_lines(df: DataFrame, codec: str) -> DataFrame:
    """One string column '_line' per event for the socket sinks."""
    if codec in ("line", "plain"):
        return df.select(F.col("message").cast("string").alias("_line"))
    from logstash_spark.event import event_to_json

    return df.select(event_to_json(df).alias("_line"))


@dataclass
class PipeSink(Sink):
    """pipe output (logstash-output-pipe, default_plugins.rb:97): stream
    events as lines into the stdin of a shell command. The plugin
    sprintf-expands ``command`` per event and keeps a pipe cache keyed by
    the expanded command; scale-honest mapping: EACH PARTITION groups its
    rows by expanded command and opens ONE subprocess per distinct command
    (foreachPartition — never a process per event, never a driver
    collect). ``message_format`` templates each line; default is the json
    event, the plugin's documented fallback. Command cardinality is
    expected to be low (it is a routing key, not a row value); a per-task
    cap guards against an unbounded sprintf (fail loud, not fork-bomb)."""

    command: str
    message_format: str | None = None
    max_commands_per_task: int = 64

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.event import event_to_json, sprintf_col

        clean = strip_internal(df)
        line = (
            sprintf_col(self.message_format, df)
            if self.message_format
            else event_to_json(clean)
        )
        out = df.select(sprintf_col(self.command, df).alias("_cmd"), line.alias("_line"))
        cap = self.max_commands_per_task

        def feed(rows) -> None:
            import subprocess as _sp

            procs: dict[str, _sp.Popen] = {}

            def cleanup(raise_failures: bool) -> None:
                failed = []
                for c, p in procs.items():
                    try:
                        if p.stdin is not None:
                            p.stdin.close()
                        if p.wait(timeout=60) != 0:
                            failed.append((c, p.returncode))
                    except Exception as e:
                        p.kill()
                        failed.append((c, repr(e)))
                if failed and raise_failures:
                    raise RuntimeError(f"pipe output: commands failed: {failed}")

            try:
                for r in rows:
                    if r["_cmd"] is None or r["_line"] is None:
                        continue
                    p = procs.get(r["_cmd"])
                    if p is None:
                        if len(procs) >= cap:
                            raise RuntimeError(
                                f"pipe output: >{cap} distinct commands in one "
                                "task — command template expands per-row; use a "
                                "routing key with bounded cardinality"
                            )
                        p = _sp.Popen(
                            r["_cmd"], shell=True, stdin=_sp.PIPE,
                            stdout=_sp.DEVNULL, stderr=_sp.DEVNULL,
                        )
                        procs[r["_cmd"]] = p
                    assert p.stdin is not None
                    p.stdin.write(r["_line"].encode("utf-8") + b"\n")
            except BaseException:
                # best-effort cleanup; never mask the in-flight error —
                # per-process isolation so one hung command can't skip EOF
                # for the others (leaked blocked readers)
                cleanup(raise_failures=False)
                raise
            else:
                cleanup(raise_failures=True)

        out.foreachPartition(feed)
        return self.command


@dataclass
class GelfSink(Sink):
    """gelf output with the REAL GELF 1.1 JSON wire shape (version, host,
    short_message, epoch timestamp, level, custom fields prefixed '_'),
    written as NDJSON text — one UDP/TCP send away from a Graylog
    endpoint (same file-backed stance as EsBulkSink)."""

    path: str
    host_field: str = "host"
    message_field: str = "message"
    level: int = 6

    def write(self, df: DataFrame) -> Any:
        d = strip_internal(df)
        std = {self.host_field, self.message_field, "@timestamp"}
        custom = [c for c in d.columns if c not in std]
        fields = [
            F.lit("1.1").alias("version"),
            (F.col(self.host_field).cast("string") if self.host_field in d.columns
             else F.lit("unknown")).alias("host"),
            F.col(self.message_field).cast("string").alias("short_message"),
            (F.unix_timestamp(F.col("@timestamp")).cast("double")
             if "@timestamp" in d.columns else F.lit(None).cast("double")).alias("timestamp"),
            F.lit(self.level).alias("level"),
        ] + [F.col(c).alias(f"_{c}") for c in custom]
        out = d.select(F.to_json(F.struct(*fields), {"ignoreNullFields": "false"}).alias("line"))
        out.write.mode("append").text(self.path)
        return self.path


@dataclass
class OpentsdbSink(Sink):
    """opentsdb output with the REAL telnet-style line protocol
    (``put <metric> <epoch> <value> tag=v ...``) written as text —
    one socket write away from a live TSD. ``metric`` takes sprintf
    templates like the graphite output."""

    path: str
    metric: str
    value: str
    tags: dict | None = None
    ts: str = "@timestamp"
    # additional (metric_template, value_field) pairs from the metrics hash
    metrics: tuple = ()

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.event import sprintf_col

        d = strip_internal(df)


        pairs = [(self.metric, self.value)] + [tuple(p) for p in self.metrics]
        d = d.withColumn(
            "_t",
            F.explode(F.array(*[
                F.struct(sprintf_col(m, d).alias("m"), F.col(v).cast("string").alias("v"))
                for m, v in pairs
            ])),
        )
        parts = [
            F.lit("put"), F.col("_t.m"),
            F.unix_timestamp(F.col(self.ts)).cast("string"),
            F.col("_t.v"),
        ]
        for k, v in (self.tags or {}).items():
            parts.append(F.concat(F.lit(f"{k}="), sprintf_col(str(v), d)))
        out = d.select(F.concat_ws(" ", *parts).alias("line"))
        out.write.mode("append").text(self.path)
        return self.path


@dataclass
class LumberjackSink(Sink):
    """lumberjack output with the REAL v1 wire frames (window frame +
    zlib-compressed data frames — the bytes `output lumberjack` sends to
    a downstream indexer, default_plugins.rb:92), written as a parquet of
    binary `stream` blobs: the exact shape `input lumberjack { export =>
    ... }` decodes, so output->input round-trips the protocol. Events
    render as the forwarder's string k/v pairs (message -> 'line').
    Map-only Arrow pass, one stream per <=flush_size slice of each
    partition batch — no shuffle, linear at scale."""

    path: str
    flush_size: int = 1024

    def write(self, df: DataFrame) -> Any:
        import pandas as pd

        from logstash_spark.operators.codecs import encode_lumberjack

        d = strip_internal(df)
        cols = [("line" if c == "message" else c, c) for c in d.columns]
        n = max(1, int(self.flush_size))

        def pack(it):
            for pdf in it:
                blobs = []
                for lo in range(0, len(pdf), n):
                    sl = pdf.iloc[lo:lo + n]
                    recs = []
                    for row in sl.itertuples(index=False):
                        rec = {}
                        for (key, _), v in zip(cols, row):
                            if v is not None and v == v:  # skip None/NaN
                                rec[key] = str(v)
                        recs.append(rec)
                    blobs.append(encode_lumberjack(recs))
                yield pd.DataFrame({"stream": blobs})

        out = d.select([F.col(c).cast("string").alias(c) for _, c in cols]) \
            .mapInPandas(pack, "stream binary")
        out.write.mode("append").parquet(self.path)
        return self.path


@dataclass
class HttpSink(Sink):
    """http output with the REAL request wire shape: one request per
    event — (method, url, content_type, body) with the event
    json-serialized as the body, url sprintf-able — written as parquet
    (the file-backed wire-contract stance; a live sender replays the
    frame with any http client). Shuffle-free projection."""

    path: str
    url: str
    http_method: str = "post"
    content_type: str = "application/json"

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.event import sprintf_col
        from logstash_spark.operators.codecs import encode_json

        enc = encode_json(df, target="body", drop_fields=False)
        out = enc.select(
            F.lit(self.http_method.upper()).alias("method"),
            sprintf_col(self.url, df).alias("url"),
            F.lit(self.content_type).alias("content_type"),
            "body",
        )
        out.write.mode("append").parquet(self.path)
        return self.path


@dataclass
class RedisSink(Sink):
    """redis output with the REAL broker wire contract (the reference's
    canonical shipper->redis-list->indexer stage): events json-serialize
    and land under a sprintf-able list key — written as a parquet of
    (key, list_index, value), the exact shape `input redis { export => }`
    decodes, so output->input round-trips the broker hop."""

    path: str
    key: str = "logstash"

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.sources.bus import encode_redis_records, redis_wire_shim

        wire = redis_wire_shim(encode_redis_records(df, key=self.key))
        wire.write.mode("append").parquet(self.path)
        return self.path


@dataclass
class RabbitmqSink(Sink):
    """rabbitmq output mapped onto the kafka wire contract (exchange ->
    topic, routing key -> key, json payload -> value): writes the full
    wire frame a consumer binding (`input rabbitmq { export => }`)
    decodes — file-backed AMQP stand-in, same stance as the kafka shim."""

    path: str
    exchange: str
    key: str | None = None

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.sources.bus import encode_kafka_records, kafka_wire_shim

        wire = kafka_wire_shim(
            encode_kafka_records(df, topic=self.exchange, key_template=self.key)
        )
        wire.write.mode("append").parquet(self.path)
        return self.path


@dataclass
class ZeromqSink(Sink):
    """zeromq output (docs/tutorials/zeromq.md): brokerless socket pair in
    pushpull / pubsub / pair topology. pubsub writes the documented
    MULTIPART frame — first part the sprintf'd topic, second the json
    event — which `input zeromq { export => }` decodes with SUB-side
    topic-prefix filtering; file-backed wire contract, same stance as the
    kafka/redis shims."""

    path: str
    topology: str = "pushpull"
    topic: str | None = None
    peers: int = 1

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.sources.bus import encode_zeromq_records, zeromq_wire_shim

        wire = zeromq_wire_shim(
            encode_zeromq_records(df, topology=self.topology, topic=self.topic),
            topology=self.topology,
            peers=self.peers,
        )
        wire.write.mode("append").parquet(self.path)
        return self.path


@dataclass
class NagiosSink(Sink):
    """nagios output with the REAL external-command wire line
    (``[epoch] PROCESS_SERVICE_CHECK_RESULT;host;service;level;message``)
    written as text — the exact bytes the plugin appends to the nagios
    command file. host/service come from the plugin's documented event
    fields (nagios_host / nagios_service), level is the check severity."""

    path: str
    host_field: str = "nagios_host"
    service_field: str = "nagios_service"
    level: int = 2  # CRITICAL — the plugin's default for alert-shaped events

    def write(self, df: DataFrame) -> Any:
        d = strip_internal(df)
        epoch = (
            F.unix_timestamp(F.col("@timestamp")) if "@timestamp" in d.columns
            else F.unix_timestamp(F.current_timestamp())
        )
        line = F.concat(
            F.lit("["), epoch.cast("string"), F.lit("] PROCESS_SERVICE_CHECK_RESULT;"),
            F.col(self.host_field).cast("string"), F.lit(";"),
            F.col(self.service_field).cast("string"), F.lit(";"),
            F.lit(str(self.level)), F.lit(";"),
            F.col("message").cast("string"),
        )
        d.select(line.alias("line")).write.mode("append").text(self.path)
        return self.path


@dataclass
class PagerdutySink(Sink):
    """pagerduty output with the REAL events-API payload (service_key,
    event_type, incident_key, description, details = the full event) as
    NDJSON — one POST body per event, sprintf-able description and
    incident_key."""

    path: str
    service_key: str
    description: str = "Logstash event"
    incident_key: str = "logstash/%{host}"
    event_type: str = "trigger"

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.event import sprintf_col
        from logstash_spark.operators.codecs import encode_json

        d = strip_internal(df)


        enc = encode_json(df, target="_details", drop_fields=False)
        payload = F.to_json(F.struct(
            F.lit(self.service_key).alias("service_key"),
            F.lit(self.event_type).alias("event_type"),
            sprintf_col(self.incident_key, d).alias("incident_key"),
            sprintf_col(self.description, d).alias("description"),
            F.col("_details").alias("details"),
        ))
        enc.select(payload.alias("line")).write.mode("append").text(self.path)
        return self.path


@dataclass
class EmailSink(Sink):
    """email output with the REAL RFC822 message text (From/To/Subject
    headers + body, all sprintf-able — the plugin's alerting shape),
    written as parquet rows (to, subject, rfc822): one SMTP send away."""

    path: str
    to: str
    from_addr: str = "logstash.alert@example.com"
    subject: str = ""
    body: str = ""

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.event import event_to_json, sprintf_col
        from logstash_spark.sources.chat import encode_rfc822

        d = strip_internal(df)


        body = sprintf_col(self.body, d) if self.body else event_to_json(d)
        # shared encoder: the imap input's decode_rfc822 round-trips this
        rfc822 = encode_rfc822(
            d, to=self.to, from_addr=self.from_addr, subject=self.subject, body=body
        )
        out = d.select(sprintf_col(self.to, d).alias("to"),
                       sprintf_col(self.subject, d).alias("subject"),
                       rfc822.alias("rfc822"))
        out.write.mode("append").parquet(self.path)
        return self.path


@dataclass
class SnsSink(Sink):
    """sns output: (topic_arn, subject, message) publish frames — the
    plugin's json-event message under a sprintf-able subject."""

    path: str
    arn: str
    subject: str = "%{host}"

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.event import event_to_json, sprintf_col

        d = strip_internal(df)
        out = d.select(
            F.lit(self.arn).alias("topic_arn"),
            sprintf_col(self.subject, d).alias("subject"),
            event_to_json(d).alias("message"),
        )
        out.write.mode("append").parquet(self.path)
        return self.path


@dataclass
class SqsSink(Sink):
    """sqs output: (queue, body) send frames — json-serialized events,
    the wire `input sqs { export => }` decodes (bus-shim stance)."""

    path: str
    queue: str

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.event import event_to_json

        d = strip_internal(df)
        out = d.select(F.lit(self.queue).alias("queue"),
                       event_to_json(d).alias("body"))
        out.write.mode("append").parquet(self.path)
        return self.path


def irc_frames(
    df: DataFrame, *, channels: tuple[str, ...], format: str = "%{message}"
) -> DataFrame:
    """The client protocol lines IrcSink writes: one
    ``PRIVMSG #channel :<formatted event>`` per (channel × event);
    format is the plugin's sprintf message template. Shared with the
    irc input's round-trip oracle (sources/chat.py)."""
    from logstash_spark.event import sprintf_col

    msg = sprintf_col(format, df)
    return df.select(
        F.explode(F.array(*[F.lit(c) for c in channels])).alias("_ch"),
        msg.alias("_m"),
    ).select(F.concat(F.lit("PRIVMSG "), F.col("_ch"), F.lit(" :"), F.col("_m")).alias("line"))


@dataclass
class IrcSink(Sink):
    """irc output with the REAL client protocol line
    (``PRIVMSG #channel :<formatted event>``) per event, one text line
    per (channel × event) — the bytes an IRC session writes; format is
    the plugin's sprintf message template."""

    path: str
    channels: tuple[str, ...] = ("#logstash",)
    format: str = "%{message}"

    def write(self, df: DataFrame) -> Any:
        out = irc_frames(strip_internal(df), channels=self.channels, format=self.format)
        out.write.mode("append").text(self.path)
        return self.path


@dataclass
class XmppSink(Sink):
    """xmpp output with the REAL RFC 6121 message stanza per
    (event x recipient) — the XML a client session writes; ``users`` are
    chat JIDs, ``rooms`` become type=groupchat MUC sends (the plugin's
    option split); ``message`` is the sprintf body template. One text
    line per stanza; decode_xmpp_stanzas round-trips it."""

    path: str
    users: tuple[str, ...] = ()
    rooms: tuple[str, ...] = ()
    message: str = "%{message}"
    from_jid: str = "logstash@shipper.local"

    def write(self, df: DataFrame) -> Any:
        from logstash_spark.sources.chat import encode_xmpp_stanzas

        d = strip_internal(df)
        parts = []
        for jid in self.users:
            parts.append(encode_xmpp_stanzas(
                d, to=jid, body=self.message, from_jid=self.from_jid, msg_type="chat"))
        for room in self.rooms:
            parts.append(encode_xmpp_stanzas(
                d, to=room, body=self.message, from_jid=self.from_jid, msg_type="groupchat"))
        if not parts:
            raise ValueError("xmpp output requires users and/or rooms")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.withColumnRenamed("stanza", "line").write.mode("append").text(self.path)
        return self.path


def json_string_col(c) -> F.Column:
    """A column JSON-escaped and quoted as a JSON string value (the exact
    bytes DuckDB's ``to_json(varchar)`` produces — oracle-reproducible).
    Spark's to_json only takes complex types, so wrap in a 1-array and
    strip the brackets."""
    arr = F.to_json(F.array(c))
    return arr.substr(F.lit(2), F.length(arr) - F.lit(2))


def hipchat_frames(
    df: DataFrame, *, room_id: str, from_name: str = "logstash",
    color: str = "yellow", trigger_notify: bool = False, format: str = "%{message}",
) -> DataFrame:
    """The request frames HipchatSink replays: one POST per event to the
    public rooms-notification endpoint with the documented JSON payload
    (from / color / notify / message_format / sprintf'd message).
    Shuffle-free projection."""
    from logstash_spark.event import sprintf_col

    msg = sprintf_col(format, df)
    room = sprintf_col(room_id, df)
    body = F.concat(
        F.lit('{"from":"' + from_name + '","color":"' + color + '",'),
        F.lit('"notify":' + ("true" if trigger_notify else "false") + ","),
        F.lit('"message_format":"text","message":'),
        json_string_col(msg),
        F.lit("}"),
    )
    return df.select(
        F.lit("POST").alias("method"),
        F.concat(F.lit("/v2/room/"), room, F.lit("/notification")).alias("url"),
        F.lit("application/json").alias("content_type"),
        body.alias("body"),
    )


@dataclass
class HipchatSink(Sink):
    """hipchat output (default_plugins.rb:87) with the REAL public
    rooms-notification API request per event — (method, url, body) frames
    like HttpSink, body = the documented JSON payload carrying the
    plugin's option surface (room_id / from / color / notify / sprintf'd
    message). Written as parquet; a live sender replays the frames.
    trigger_notify maps to the API's boolean notify."""

    path: str
    room_id: str
    from_name: str = "logstash"
    color: str = "yellow"
    trigger_notify: bool = False
    format: str = "%{message}"

    def write(self, df: DataFrame) -> Any:
        out = hipchat_frames(
            strip_internal(df), room_id=self.room_id, from_name=self.from_name,
            color=self.color, trigger_notify=self.trigger_notify, format=self.format,
        )
        out.write.mode("append").parquet(self.path)
        return self.path


def juggernaut_frames(
    df: DataFrame, *, channels: tuple[str, ...], message_format: str = ""
) -> DataFrame:
    """The redis PUBLISH frames JuggernautSink replays: juggernaut rides
    redis pub/sub — (channel='juggernaut', value=envelope) with the
    documented ``{"channels": [...], "data": ...}`` payload; channels are
    sprintf-able; data is the sprintf'd message (JSON-escaped) or the
    whole event JSON when no message_format is set."""
    from logstash_spark.event import event_to_json, sprintf_col

    chans = [sprintf_col(c, df) for c in channels]
    data = (
        json_string_col(sprintf_col(message_format, df))
        if message_format else event_to_json(df)
    )
    # each channel name is JSON-escaped+quoted (a sprintf'd field can carry
    # quotes/backslashes); a null channel renders as JSON null — never
    # silently dropped (json_string_col yields 'null', which concat_ws keeps)
    payload = F.concat(
        F.lit('{"channels":['),
        F.concat_ws(",", *[json_string_col(c) for c in chans]),
        F.lit('],"data":'),
        data,
        F.lit("}"),
    )
    return df.select(F.lit("juggernaut").alias("channel"), payload.alias("value"))


@dataclass
class JuggernautSink(Sink):
    """juggernaut output (default_plugins.rb:90) with the REAL broker
    wire contract — see juggernaut_frames. Written as parquet
    (channel, value) — the exact shape a redis PUBLISH replays, and the
    shape ``input redis { data_type => channel }`` decodes."""

    path: str
    channels: tuple[str, ...] = ("logstash",)
    message_format: str = ""

    def write(self, df: DataFrame) -> Any:
        out = juggernaut_frames(
            strip_internal(df), channels=self.channels, message_format=self.message_format
        )
        out.write.mode("append").parquet(self.path)
        return self.path


@dataclass
class GangliaSink(Sink):
    """ganglia output with the REAL gmetric 3.1 XDR packets (metadata +
    string-value pair per event, the bytes the plugin's gmetric gem puts
    on the UDP wire) written as a parquet of binary ``packet`` blobs —
    the exact shape ``input ganglia { export => }`` decodes, so
    output->input round-trips the protocol. metric/value take sprintf
    templates. Map-only Arrow pass, no shuffle."""

    path: str
    metric: str
    value: str
    units: str = ""
    ganglia_type: str = "uint8"
    slope: int = 3
    lifetime: int = 300   # plugin: dmax, defaults 300 in logstash-output-ganglia
    max_interval: int = 60  # plugin: tmax
    host_field: str = "host"

    def write(self, df: DataFrame) -> Any:
        import pandas as pd

        from logstash_spark.event import sprintf_col
        from logstash_spark.operators.netproto import encode_ganglia

        d = strip_internal(df)


        host = (F.col(self.host_field).cast("string") if self.host_field in d.columns
                else F.lit("unknown"))
        proj = d.select(host.alias("h"), sprintf_col(self.metric, d).alias("m"),
                        sprintf_col(self.value, d).cast("string").alias("v"))
        gt, un, sl, tm, dm = (self.ganglia_type, self.units, self.slope,
                              self.max_interval, self.lifetime)

        def pack(it):
            for pdf in it:
                blobs = []
                for h, m, v in zip(pdf["h"], pdf["m"], pdf["v"]):
                    meta, val = encode_ganglia(
                        h or "unknown", m, v if v is not None else "",
                        ganglia_type=gt, units=un, slope=sl, tmax=tm, dmax=dm)
                    blobs.append(meta)
                    blobs.append(val)
                # column named 'bytes' = the capture-table convention every
                # binary input decoder defaults to (gelf/snmptrap/ganglia)
                yield pd.DataFrame({"bytes": blobs})

        proj.mapInPandas(pack, "bytes binary").write.mode("append").parquet(self.path)
        return self.path


@dataclass
class NagiosNscaSink(Sink):
    """nagios_nsca output with the REAL NSCA v3 720-byte data_packet
    frames (version, crc32, timestamp, return code, fixed-width
    host/service/output — the bytes send_nsca puts on the wire after the
    handshake, encryption mode 0 so the frame is deterministic), written
    as a parquet of binary ``frame`` blobs that ``decode_nsca``
    round-trips. host/service/status/message are the plugin's
    sprintf-able options."""

    path: str
    nagios_host: str = "%{host}"
    nagios_service: str = "LogstashAlert"
    nagios_status: str = "2"
    message_format: str = "%{@timestamp} %{host}: %{message}"

    def write(self, df: DataFrame) -> Any:
        import pandas as pd

        from logstash_spark.event import sprintf_col
        from logstash_spark.operators.netproto import encode_nsca

        d = strip_internal(df)


        ts = (F.unix_timestamp(F.col("@timestamp")) if "@timestamp" in d.columns
              else F.lit(0)).cast("long")
        proj = d.select(
            sprintf_col(self.nagios_host, d).alias("h"),
            sprintf_col(self.nagios_service, d).alias("s"),
            sprintf_col(self.nagios_status, d).cast("int").alias("c"),
            sprintf_col(self.message_format, d).alias("o"),
            ts.alias("t"),
        )

        def pack(it):
            for pdf in it:
                frames = [
                    encode_nsca(h or "", s or "", int(c) if c == c and c is not None else 3,
                                o or "", timestamp=int(t) if t == t and t is not None else 0)
                    for h, s, c, o, t in zip(pdf["h"], pdf["s"], pdf["c"], pdf["o"], pdf["t"])
                ]
                yield pd.DataFrame({"frame": frames})

        proj.mapInPandas(pack, "frame binary").write.mode("append").parquet(self.path)
        return self.path


@dataclass
class CloudwatchSink(Sink):
    """cloudwatch output: the plugin BUFFERS events and flushes
    AGGREGATED datapoints per (namespace, metric, unit, timeframe) —
    count/sum/min/max per window, not one API call per event. The
    Spark-first mapping is exactly that contract as a windowed
    aggregate: one shuffle on the datapoint key, map-side partial aggs,
    emitted as PutMetricData-shaped rows. Scales as any groupBy —
    datapoint cardinality, not event cardinality, leaves the executors."""

    path: str
    namespace: str = "Logstash"
    metricname: str = "EventCount"
    unit: str = "Count"
    value_field: str | None = None  # None -> each event contributes 1.0
    timeframe: str = "60 seconds"

    def write(self, df: DataFrame) -> Any:
        d = strip_internal(df)
        val = (
            F.col(self.value_field).cast("double")
            if self.value_field and self.value_field in d.columns
            else F.lit(1.0)
        )
        ts = F.col("@timestamp") if "@timestamp" in d.columns else F.current_timestamp()
        out = (
            d.select(F.window(ts, self.timeframe).start.alias("timestamp"),
                     val.alias("_v"))
            .groupBy("timestamp")
            .agg(
                F.count("_v").alias("sample_count"),
                F.sum("_v").alias("sum"),
                F.min("_v").alias("minimum"),
                F.max("_v").alias("maximum"),
            )
            .select(
                F.lit(self.namespace).alias("namespace"),
                F.lit(self.metricname).alias("metric_name"),
                F.lit(self.unit).alias("unit"),
                "timestamp", "sample_count", "sum", "minimum", "maximum",
            )
        )
        out.write.mode("append").parquet(self.path)
        return self.path


@dataclass
class CollectSink(Sink):
    """Testing sink: materializes (the stdout/rubydebug analog)."""

    def write(self, df: DataFrame) -> Any:
        return strip_internal(df).collect()


@dataclass
class CountSink(Sink):
    """Metrics-style sink: per-key counts (statsd increment analog).

    ``literal=True`` is the plugin's bare-key form (increment =>
    "apache.hits"): count EVERYTHING under that constant name instead of
    grouping by a column — a dotted bare key would otherwise misparse as
    a nested column reference."""

    key: str
    literal: bool = False
    template: str | None = None

    def write(self, df: DataFrame) -> Any:
        if self.literal:
            return {self.key: df.count()}
        from logstash_spark.event import field_col, sprintf_col

        # templated key ('apache.%{response}') counts under the FULL
        # rendered metric name, matching the statsd plugin's wire names
        k = sprintf_col(self.template, df) if self.template else field_col(self.key)
        return {r["k"]: r["n"] for r in df.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n")).collect()}


@dataclass
class NullSink(Sink):
    def write(self, df: DataFrame) -> Any:
        return df.count()  # forces evaluation, discards rows


def write_outputs(
    df: DataFrame,
    outputs: list,
    *,
    on_sink_done=None,
) -> dict[str, Any]:
    """Route + write every output from ONE pass over ``df``.

    Adds all route columns, persists, writes each sink's filtered subset,
    and returns {name: sink result}. Per-sink counts come free off the
    cached frame.

    The routed frame is persisted at MEMORY_AND_DISK: N sinks read it N
    times, and re-running the parse per sink costs far more than spilling
    it once to executor-local disk (short-circuit reads, no shuffle
    service involved).
    """
    from logstash_spark.pipeline import output_predicate

    routed = df
    for o in outputs:
        routed = routed.withColumn(f"_route_{o.name}", output_predicate(routed, o))
    routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        results: dict[str, Any] = {}
        for o in outputs:
            subset = routed.filter(F.col(f"_route_{o.name}"))
            results[o.name] = o.sink.write(subset)
            if getattr(o, "agg_by", None):
                results[f"{o.name}__agg"] = {
                    tuple(r[k] for k in o.agg_by): r["n"]
                    for r in subset.groupBy(*o.agg_by).agg(F.count(F.lit(1)).alias("n")).collect()
                }
            if on_sink_done is not None:
                # per-sink commit hook (streaming batch-id ledger): called
                # as soon as THIS sink's write returned, so a later sink's
                # failure cannot force an already-committed sink to replay
                on_sink_done(o.name)
        return results
    finally:
        routed.unpersist()
