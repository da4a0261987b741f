"""Sink writers (SURVEY.md §2.4).

Each writer is a callable ``(batch_df, batch_id) -> None`` usable inside
``foreachBatch`` (the micro-batch commit barrier is the reference's
Commit/Transaction ack — the batch completes only when the writer
returns, giving at-least-once into external systems).

External-protocol writers (HTTP, syslog, log service) take injectable
transports so the retry/format logic is unit-testable without a
network. All three deliver through one per-partition function,
``deliver_partition``: connections stay executor-side, each partition
reports success/dropped/failure row counts, and any failed partition
fails the batch from the driver.
"""

from __future__ import annotations

import base64
import gzip as _gzip
import inspect
import itertools
import random
import socket
import time
import urllib.request
from collections.abc import Callable, Iterable
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from atiesh_spark.config import bind_component


# --- trivial sinks -----------------------------------------------------------


def devnull_writer(batch_df: DataFrame, batch_id: int) -> None:
    """Accept and discard everything (reference sink DevNull.scala:14-23).

    Still materializes the batch (noop format) so upstream effects and
    metrics fire exactly as with a real sink.
    """
    batch_df.write.format("noop").mode("overwrite").save()


def parquet_writer(path: str) -> Callable[[DataFrame, int], None]:
    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    return write


def idempotent_parquet_writer(path: str) -> Callable[[DataFrame, int], None]:
    """Exactly-once parquet sink: partition by batch_id, overwrite only
    that partition. A replayed micro-batch (sink failed before the
    checkpoint committed) rewrites its own partition instead of
    appending duplicates — at-least-once replay + idempotent write =
    effectively exactly-once output."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(path)
        )

    return write


def memory_rows(collected: list) -> Callable[[DataFrame, int], None]:
    """Test sink: append collected rows to a driver-side list."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        collected.extend(batch_df.collect())

    return write


# --- external sinks: one per-partition delivery loop --------------------------


def deliver_partition(
    rows: Iterable[tuple],
    open_sender: Callable[[], tuple[Callable[[list[tuple]], object], Callable[[], None]]],
    group_size: int | None,
) -> tuple[int, int, int, str | None]:
    """Send one partition's rows through one sender and return its
    ``(ok, dropped, failed, err)`` row counts.

    Rows go out in groups of ``group_size`` (``None``: the whole
    partition is one group). ``open_sender()`` gives ``(send, close)``;
    it runs at the first group, so an empty partition opens nothing, and
    ``close`` always runs. A group counts as dropped when ``send``
    returns ``"dropped"`` and as ok otherwise. A raise from opening or
    sending counts the group as failed, records ``err`` and aborts the
    partition's remaining sends.
    """
    ok = dropped = failed = 0
    err = None
    rows = iter(rows)
    close = None
    try:
        while group := list(itertools.islice(rows, group_size)):
            try:
                if close is None:
                    send, close = open_sender()
                outcome = send(group)
            except Exception as exc:  # abort the partition, report the outcome
                failed, err = len(group), repr(exc)
                break
            if outcome == "dropped":
                dropped += len(group)
            else:
                ok += len(group)
    finally:
        if close is not None:
            close()
    return ok, dropped, failed, err


class _DeliveringWriter:
    """A ``(batch_df, batch_id)`` writer whose rows leave Spark through
    ``deliver_partition``, with the reference's SinkMetrics counters
    (success / dropped / failure, in rows).

    Subclasses set ``group_size`` and give ``open() -> (send, close)``;
    ``_rows`` selects the columns a sender reads, as row tuples.

    Partitions run on the executors over Arrow batches (no row-at-a-time
    pickling) and each returns one counter row to the driver, never the
    data rows. A failed partition fails the batch from the driver, after
    every partition has reported and the counters are added, so the
    batch replays from the checkpoint (at-least-once), as the
    reference's transaction nack does.
    """

    group_size: int | None = 1

    def __init__(self) -> None:
        self.success_count = 0
        self.dropped_count = 0
        self.failure_count = 0

    def _rows(self, batch_df: DataFrame) -> DataFrame:
        return batch_df.select(F.col("value").cast("string")).dropna()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        open_sender, group_size = self.open, self.group_size

        def run(pdfs) -> Iterable:
            import pandas as pd

            rows = (row for pdf in pdfs for row in pdf.itertuples(index=False, name=None))
            ok, dropped, failed, err = deliver_partition(rows, open_sender, group_size)
            yield pd.DataFrame(
                {"ok": [ok], "dropped": [dropped], "failed": [failed], "err": [err]}
            )

        stats = (
            self._rows(batch_df)
            .mapInPandas(run, "ok long, dropped long, failed long, err string")
            .collect()
        )
        self.success_count += sum(s["ok"] for s in stats)
        self.dropped_count += sum(s["dropped"] for s in stats)
        self.failure_count += sum(s["failed"] for s in stats)
        errs = [s["err"] for s in stats if s["err"] is not None]
        if errs:
            raise RuntimeError(
                f"{type(self).__name__} failed in {len(errs)} of {len(stats)} "
                f"partitions: {errs[0]}"
            )


# --- HTTP sink ---------------------------------------------------------------


#: the reference's retry backoff cap (HttpLimitRequestSinkSemantics.scala:123-141)
_BACKOFF_CAP_S = 32.0


class PersistentHttpTransport:
    """Keep-alive transport: one TCP (or TLS) connection per host, reused
    across requests — the reference's host connection pool semantics
    (HttpSinkSemantics.scala:121-190, 32 pooled connections + bounded
    queue). Spark's unit of parallelism is the partition, so the pool
    collapses to one persistent connection per partition-task; N parallel
    partitions give the pooling fan-out. Broken connections are dropped
    and the error surfaces to the caller's retry policy (which reconnects
    on the next attempt).

    Created inside the partition task (never pickled); call ``close()``
    when the partition ends.
    """

    def __init__(self) -> None:
        self._conns: dict[tuple[str, str], object] = {}

    def __call__(
        self, method: str, url: str, body: bytes | None,
        headers: dict[str, str], timeout: float,
    ) -> tuple[int, bytes]:
        import http.client
        import urllib.parse

        u = urllib.parse.urlsplit(url)
        key = (u.scheme, u.netloc)
        conn = self._conns.get(key)
        if conn is None:
            cls = (
                http.client.HTTPSConnection
                if u.scheme == "https"
                else http.client.HTTPConnection
            )
            conn = cls(u.netloc, timeout=timeout)
            self._conns[key] = conn
        path = u.path or "/"
        if u.query:
            path = f"{path}?{u.query}"
        try:
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        except Exception:
            # connection is in an unknown state: drop it so the caller's
            # retry gets a fresh one
            conn.close()
            self._conns.pop(key, None)
            raise

    def close(self) -> None:
        for conn in self._conns.values():
            conn.close()
        self._conns.clear()


class HttpSinkWriter(_DeliveringWriter):
    """HTTP writer with the reference's request/retry semantics.

    Mirrors HttpSink.scala:55-315 + HttpLimitRequestSinkSemantics:
    - POST/PUT send the payload as body; GET carries it as a query
      param (`event-query-key`, HttpSink.scala:229-256)
    - batch mode joins up to ``batch_size`` payloads with newlines into
      one request body (HttpSink.scala:151-154)
    - optional gzip body + Content-Encoding (HttpSink.scala:166-178)
    - basic auth via precomputed Authorization header
      (HttpSink.scala:118-143)
    - response policy (HttpSink.scala:270-310): 200/201 done; other
      4xx drop (``dropped_count``); 5xx/transport error retry with
      backoff min(2^n + rand(0,1), 32)s up to ``max_retries``
      (HttpLimitRequestSinkSemantics.scala:123-141)
    - bounded in-flight requests become the micro-batch barrier; the
      shutdown dump/replay file is subsumed by checkpoint replay
      (semantic mapping documented in SURVEY.md §7.4)

    ``transport``/``sleeper`` are injectable for tests.
    """

    def __init__(
        self,
        url: str,
        method: str = "POST",
        batch_size: int | None = None,
        use_gzip: bool = False,
        auth: tuple[str, str] | None = None,
        content_type: str = "text/plain",
        query_key: str = "payload",
        max_retries: int = 3,
        timeout: float = 10.0,
        transport: Callable[..., tuple[int, bytes]] | None = None,
        sleeper: Callable[[float], None] = time.sleep,
    ) -> None:
        super().__init__()
        if method not in ("POST", "PUT", "GET"):
            raise ValueError(f"unsupported method {method!r}")
        if method == "GET" and use_gzip:
            # GET carries the payload in the query string — a gzip
            # Content-Encoding header with no body would make compliant
            # servers reject every request
            raise ValueError("gzip is only valid for body-carrying methods (POST/PUT)")
        self.url = url
        self.method = method
        self.group_size = batch_size or 1
        self.use_gzip = use_gzip
        self.content_type = content_type
        self.query_key = query_key
        self.max_retries = max_retries
        self.timeout = timeout
        # None -> a PersistentHttpTransport per partition (keep-alive);
        # injected transports are used as-is (tests, custom senders)
        self.transport = transport
        self.sleeper = sleeper
        self.headers: dict[str, str] = {"Content-Type": content_type}
        if auth is not None:
            user, password = auth
            token = base64.b64encode(f"{user}:{password}".encode()).decode()
            self.headers["Authorization"] = f"Basic {token}"
        if use_gzip:
            self.headers["Content-Encoding"] = "gzip"

    # -- single request with the reference's retry/backoff policy
    def _send(self, payload: str, transport: Callable[..., tuple[int, bytes]] | None = None) -> str:
        transport = transport or self.transport
        attempt = 0
        while True:
            if self.method == "GET":
                url = f"{self.url}?{self.query_key}={urllib.request.quote(payload)}"
                body = None
            else:
                url = self.url
                body = payload.encode("utf-8")
                if self.use_gzip:
                    body = _gzip.compress(body, mtime=0)
            try:
                status, _ = transport(self.method, url, body, self.headers, self.timeout)
            except Exception:
                status = None  # transport error -> retry path
            if status in (200, 201):
                return "ok"
            if status is not None and 400 <= status < 500:
                return "dropped"  # 4xx: do not retry (HttpSink.scala:286-291)
            if attempt >= self.max_retries:
                raise RuntimeError(
                    f"HTTP sink exhausted {self.max_retries} retries (last status {status})"
                )
            delay = min(2.0**attempt + random.random(), _BACKOFF_CAP_S)
            self.sleeper(delay)
            attempt += 1

    def open(self) -> tuple[Callable[[list[tuple]], str], Callable[[], None]]:
        # with no injected transport the whole partition shares one
        # keep-alive connection instead of a TCP handshake per request
        # (the dominant cost at any real send rate)
        if self.transport is not None:
            transport, close = self.transport, lambda: None
        else:
            transport = PersistentHttpTransport()
            close = transport.close

        def send(group: list[tuple]) -> str:
            return self._send("\n".join(value for (value,) in group), transport)

        return send, close


# --- syslog sink -------------------------------------------------------------

_FACILITIES = {"kern": 0, "user": 1, "daemon": 3, "local0": 16, "local7": 23}
_SEVERITIES = {
    "emerg": 0, "alert": 1, "crit": 2, "err": 3,
    "warning": 4, "notice": 5, "info": 6, "debug": 7,
}


def _one_of(name: str, value: object, choices: Iterable[str]) -> None:
    if value not in choices:
        raise ValueError(f"{name} must be {'|'.join(choices)}, got {value!r}")


def format_syslog(
    msg: str,
    rfc: str = "3164",
    facility: str = "user",
    severity: str = "info",
    hostname: str | None = None,
    appname: str = "atiesh",
    ts: datetime | None = None,
) -> bytes:
    """RFC3164 / RFC5424 framing (SyslogSinkSemantics.scala:19-135)."""
    pri = _FACILITIES[facility] * 8 + _SEVERITIES[severity]
    host = hostname or socket.gethostname()
    now = ts or datetime.now(timezone.utc)
    if rfc == "3164":
        stamp = now.strftime("%b %e %H:%M:%S")
        return f"<{pri}>{stamp} {host} {appname}: {msg}".encode()
    if rfc == "5424":
        stamp = now.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
        return f"<{pri}>1 {stamp} {host} {appname} - - - {msg}".encode()
    raise ValueError(f"unsupported syslog rfc {rfc!r}")


def udp_syslog_sender(host: str, port: int):
    """Datagram transport: ``(send(bytes), close)``."""
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    addr = (host, port)

    def send(b: bytes) -> None:
        sock.sendto(b, addr)

    return send, sock.close


def octet_count_frame(b: bytes) -> bytes:
    """RFC 5425 octet-counting frame: 'MSG-LEN SP SYSLOG-MSG'."""
    return str(len(b)).encode("ascii") + b" " + b


def tcp_syslog_sender(host: str, port: int, use_tls: bool = False,
                      cafile: str | None = None, framing: str = "lf"):
    """Stream transport: ``(send(bytes), close)``; TLS via stdlib ssl
    (covers the reference's TCP/TLS sender variants + CA-cert option,
    SyslogSinkSemantics.scala:49-135, PKI.scala:20-74).

    Framing: 'lf' (RFC 6587 non-transparent, the default — matching the
    reference, which pairs TLS with LF framing in its rfc3164tls/
    rfc6587tls variants) or 'octet' (RFC 5425 octet counting — required
    by strict RFC 5425 TLS receivers, which reject LF framing). Framing
    and transport compose freely, like the reference's format x sender
    matrix.
    """
    _one_of("framing", framing, ("lf", "octet"))
    sock = socket.create_connection((host, port), timeout=10)
    if use_tls:
        import ssl

        ctx = ssl.create_default_context(cafile=cafile)
        sock = ctx.wrap_socket(sock, server_hostname=host)
    octet = framing == "octet"

    def send(b: bytes) -> None:
        sock.sendall(octet_count_frame(b) if octet else b + b"\n")

    return send, sock.close


class SyslogSinkWriter(_DeliveringWriter):
    """Sends each event body as one syslog message.

    Reference ships 8 transport variants (RFC x TCP/UDP/TLS,
    SyslogSinkSemantics.scala:19-42); here framing (RFC 3164/5424) and
    transport (udp/tcp/tls senders above, or any injected
    ``sender(bytes)``) compose to the same matrix. ``rfc`` may be a str
    or an int (HOCON reads ``rfc = 5424`` as a number); every choice is
    checked here, so a bad one fails before any query starts.
    """

    def __init__(
        self,
        host: str = "localhost",
        port: int = 514,
        rfc: str | int = "3164",
        facility: str = "user",
        severity: str = "info",
        appname: str = "atiesh",
        transport: str = "udp",
        use_tls: bool = False,
        cafile: str | None = None,
        framing: str = "lf",
        sender: Callable[[bytes], None] | None = None,
    ) -> None:
        super().__init__()
        rfc = str(rfc)
        _one_of("rfc", rfc, ("3164", "5424"))
        _one_of("facility", facility, _FACILITIES)
        _one_of("severity", severity, _SEVERITIES)
        _one_of("transport", transport, ("udp", "tcp"))
        _one_of("framing", framing, ("lf", "octet"))
        self.host, self.port = host, port
        self.rfc, self.facility, self.severity = rfc, facility, severity
        self.appname = appname
        self.transport, self.use_tls, self.cafile = transport, use_tls, cafile
        self.framing = framing
        self.sender = sender

    def open(self) -> tuple[Callable[[list[tuple]], None], Callable[[], None]]:
        if self.sender is not None:
            raw, close = self.sender, lambda: None
        elif self.transport == "tcp" or self.use_tls:
            raw, close = tcp_syslog_sender(
                self.host, self.port, self.use_tls, self.cafile, self.framing
            )
        else:
            raw, close = udp_syslog_sender(self.host, self.port)

        def send(group: list[tuple]) -> None:
            for (value,) in group:
                raw(format_syslog(value, rfc=self.rfc, facility=self.facility,
                                  severity=self.severity, appname=self.appname))

        return send, close


# --- log-service (SLS-shaped) sink -------------------------------------------


class LogServiceSinkWriter(_DeliveringWriter):
    """Log-service producer in the shape of AliyunSLSSinkSemantics
    (AliyunSLSSinkSemantics.scala:89-214): events become (topic, source,
    shard_key, fields) records, sent singly or as one grouped batch per
    partition, with success/failure counters fed by the send outcome.

    The vendor SDK is injected as ``client(records: list[dict]) -> None``
    (raises on failure; must be picklable — it runs inside partition
    tasks) — the reference likewise ships semantics only, no concrete
    component (SURVEY.md §2.4).
    """

    def __init__(
        self,
        client: Callable[[list[dict]], None],
        topic: str | None = None,
        source: str | None = None,
        shard_key_header: str | None = None,
        grouped: bool = True,
    ) -> None:
        super().__init__()
        self.client = client
        self.topic, self.source = topic, source
        self.shard_key_header = shard_key_header
        self.group_size = None if grouped else 1

    def _rows(self, batch_df: DataFrame) -> DataFrame:
        return batch_df.select("value", "headers")

    def open(self) -> tuple[Callable[[list[tuple]], None], Callable[[], None]]:
        def record(value: str, headers: dict | None) -> dict:
            headers = headers or {}
            skh = self.shard_key_header
            return {
                "topic": self.topic,
                "source": self.source,
                "shard_key": headers.get(skh) if skh else None,
                "fields": {"value": value, **headers},
            }

        def send(group: list[tuple]) -> None:
            self.client([record(*row) for row in group])

        return send, lambda: None


# --- registry ----------------------------------------------------------------


def _spec_names(builder: Callable[..., object], **spec_keys: str) -> Callable[..., object]:
    """``builder`` with some keyword parameters spelled as the spec spells
    them (``spec_key="parameter"``); the defaults stay the builder's."""
    sig = inspect.signature(builder)
    spec_name = {param: key for key, param in spec_keys.items()}

    def build(**options):
        return builder(**{spec_keys.get(k, k): v for k, v in options.items()})

    build.__signature__ = sig.replace(
        parameters=[p.replace(name=spec_name.get(p.name, p.name)) for p in sig.parameters.values()]
    )
    return build


#: spec ``type`` -> builder, called as ``builder(**options)``; returns a
#: ``(batch_df, batch_id)`` writer.
SINK_BUILDERS = {
    "devnull": lambda: devnull_writer,
    "parquet": parquet_writer,
    "parquet_exactly_once": idempotent_parquet_writer,
    "memory": memory_rows,
    "http": _spec_names(HttpSinkWriter, gzip="use_gzip"),
    "syslog": _spec_names(SyslogSinkWriter, tls="use_tls"),
    "logservice": LogServiceSinkWriter,
}


def build_sink_writer(cfg: dict) -> Callable[[DataFrame, int], None]:
    """Instantiate a sink writer from a pipeline-spec section."""
    return bind_component("sink", SINK_BUILDERS, cfg)()
