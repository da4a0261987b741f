"""Unit tests for sink writers: HTTP retry/response policy, syslog
framing, kafka frame shaping — reference edge cases from SURVEY.md §5.2."""

from __future__ import annotations

import contextlib
import gzip

import pytest

from atiesh_spark.streaming.sinks import (
    HttpSinkWriter,
    deliver_partition,
    format_syslog,
    kafka_sink_frame,
    kafka_sink_options,
)


class FakeTransport:
    """Scripted HTTP transport: pops one status per call."""

    def __init__(self, statuses):
        self.statuses = list(statuses)
        self.calls = []

    def __call__(self, method, url, body, headers, timeout):
        self.calls.append({"method": method, "url": url, "body": body, "headers": dict(headers)})
        s = self.statuses.pop(0)
        if s == "boom":
            raise ConnectionError("transport down")
        return s, b""


def make_writer(transport, **kw):
    kw.setdefault("sleeper", lambda d: None)
    return HttpSinkWriter("http://example.test/ingest", transport=transport, **kw)


def test_http_200_ok():
    t = FakeTransport([200])
    assert make_writer(t)._send("hello") == "ok"
    assert t.calls[0]["body"] == b"hello"
    assert t.calls[0]["method"] == "POST"


def test_http_4xx_drops_without_retry():
    t = FakeTransport([404])
    assert make_writer(t)._send("x") == "dropped"
    assert len(t.calls) == 1


def test_http_5xx_retries_then_succeeds():
    t = FakeTransport([500, 503, 201])
    assert make_writer(t)._send("x") == "ok"
    assert len(t.calls) == 3


def test_http_transport_error_retries_and_exhausts():
    t = FakeTransport(["boom", "boom", "boom", "boom"])
    with pytest.raises(RuntimeError, match="exhausted 3 retries"):
        make_writer(t)._send("x")
    assert len(t.calls) == 4  # initial + 3 retries


def test_http_backoff_is_capped():
    delays = []
    t = FakeTransport([500] * 8 + [200])
    w = HttpSinkWriter(
        "http://example.test", transport=t, max_retries=8, sleeper=delays.append
    )
    w._send("x")
    assert all(d <= 32.0 for d in delays)
    assert delays[-1] >= 31.0  # hit the cap region: min(2^7+r, 32)


def test_http_gzip_and_auth_headers():
    t = FakeTransport([200])
    w = make_writer(t, use_gzip=True, auth=("user", "pass"))
    w._send("payload")
    call = t.calls[0]
    assert gzip.decompress(call["body"]) == b"payload"
    assert call["headers"]["Content-Encoding"] == "gzip"
    assert call["headers"]["Authorization"].startswith("Basic dXNlcjpwYXNz")


def test_http_get_carries_query_param():
    t = FakeTransport([200])
    w = make_writer(t, method="GET", query_key="ev")
    w._send("a b")
    assert t.calls[0]["url"].endswith("?ev=a%20b")
    assert t.calls[0]["body"] is None


def test_http_batch_join():
    t = FakeTransport([200, 200])
    w = make_writer(t, batch_size=2)
    deliver_partition(iter([("a",), ("b",), ("c",)]), w.open, w.group_size)
    assert t.calls[0]["body"] == b"a\nb"
    assert t.calls[1]["body"] == b"c"


def test_http_rejects_bad_method():
    with pytest.raises(ValueError, match="unsupported method"):
        HttpSinkWriter("http://x", method="DELETE")


def test_syslog_rfc3164_framing():
    from datetime import datetime, timezone

    ts = datetime(2024, 3, 5, 12, 30, 45, tzinfo=timezone.utc)
    msg = format_syslog("boom", rfc="3164", facility="local0", severity="err",
                        hostname="h1", appname="app", ts=ts)
    assert msg == b"<131>Mar  5 12:30:45 h1 app: boom"


def test_syslog_rfc5424_framing():
    from datetime import datetime, timezone

    ts = datetime(2024, 3, 5, 12, 30, 45, 123000, tzinfo=timezone.utc)
    msg = format_syslog("hi", rfc="5424", facility="user", severity="info",
                        hostname="h1", appname="app", ts=ts)
    assert msg == b"<14>1 2024-03-05T12:30:45.123Z h1 app - - - hi"


def test_syslog_rejects_unknown_rfc():
    with pytest.raises(ValueError, match="unsupported syslog rfc"):
        format_syslog("x", rfc="9999")


def test_kafka_sink_frame_dynamic_topic(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", {"topic": "t1"}), ("b", {})],
        "value string, headers map<string,string>",
    )
    out = kafka_sink_frame(df, static_topic="fallback", topic_header="topic")
    rows = {r["value"]: r for r in out.collect()}
    assert rows["a"]["topic"] == "t1"
    assert rows["b"]["topic"] == "fallback"
    # key is a uuid per record (KafkaSink.scala:18-21)
    assert len(rows["a"]["key"]) == 36 and rows["a"]["key"] != rows["b"]["key"]
    assert sorted(out.columns) == ["key", "topic", "value"]


def test_kafka_sink_frame_requires_topic():
    with pytest.raises(ValueError, match="static_topic and/or topic_header"):
        kafka_sink_frame(None)


def test_kafka_must_send_options():
    opts = kafka_sink_options("broker:9092", must_send=True)
    assert opts["kafka.enable.idempotence"] == "true"
    assert int(opts["kafka.retries"]) > 1_000_000


def test_kafka_source_options_seek_validation():
    from atiesh_spark.streaming.sources import kafka_source_options

    opts = kafka_source_options("b:9092", ["t1", "t2"], seek="beginning")
    assert opts["startingOffsets"] == "earliest"
    assert opts["subscribe"] == "t1,t2"
    with pytest.raises(ValueError, match="seek must be"):
        kafka_source_options("b:9092", ["t"], seek="middle")


# --- log-service (SLS-shaped) sink -------------------------------------------


def fake_log_client(workdir, fail_times=0):
    """Executor-safe fake SDK: the writer runs the client inside partition
    tasks (separate worker processes), so it must be a closure (cloudpickled
    by value — a test-module class would hit ModuleNotFoundError on the
    workers). Received batches land on the filesystem; failures are claimed
    atomically via mkdir so fail_times is global across workers."""

    def client(records):
        import json
        import os
        import uuid

        for i in range(fail_times):
            try:
                os.mkdir(os.path.join(workdir, f"fail_{i}"))  # atomic claim
            except FileExistsError:
                continue
            raise ConnectionError("log service down")
        path = os.path.join(workdir, f"batch_{uuid.uuid4().hex}.json")
        with open(path, "w") as f:
            json.dump(records, f)

    return client


def received_batches(workdir):
    import glob
    import json

    out = []
    for path in glob.glob(f"{workdir}/batch_*.json"):
        with open(path) as f:
            out.append(json.load(f))
    return out


def _events_df(spark):
    # one partition: grouped mode then sends exactly one group per batch
    return spark.createDataFrame(
        [("a", {"shard": "s1", "x": "1"}), ("b", {"shard": "s2"})],
        "value string, headers map<string,string>",
    ).repartition(1)


def test_logservice_grouped_send(spark, tmp_path):
    from atiesh_spark.streaming.sinks import LogServiceSinkWriter

    client = fake_log_client(str(tmp_path))
    w = LogServiceSinkWriter(client, topic="t", source="host1", shard_key_header="shard")
    w(_events_df(spark), 0)
    batches = received_batches(str(tmp_path))
    assert len(batches) == 1 and len(batches[0]) == 2
    rec = {r["fields"]["value"]: r for r in batches[0]}
    assert rec["a"]["shard_key"] == "s1" and rec["a"]["topic"] == "t"
    assert rec["a"]["fields"]["x"] == "1"
    assert w.success_count == 2 and w.failure_count == 0


def test_logservice_single_mode_and_failure_counters(spark, tmp_path):
    from atiesh_spark.streaming.sinks import LogServiceSinkWriter

    client = fake_log_client(str(tmp_path), fail_times=1)
    w = LogServiceSinkWriter(client, grouped=False)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="log service down"):
        w(_events_df(spark), 0)
    assert w.failure_count == 1  # first record failed, partition aborted
    assert w.success_count == 0


def test_logservice_never_collects_rows(spark, tmp_path, monkeypatch):
    """The scale contract: batch DATA rows must not be collected to the
    driver — only the O(num_partitions) counter frame may. Guarded by
    failing any collect() whose schema still carries the data columns."""
    from pyspark.sql import DataFrame

    from atiesh_spark.streaming.sinks import LogServiceSinkWriter

    real_collect = DataFrame.collect

    def guarded(self):
        if {"value", "headers"} & set(self.columns):
            pytest.fail("sink collected batch data rows")
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", guarded)
    client = fake_log_client(str(tmp_path))
    w = LogServiceSinkWriter(client, topic="t")
    w(_events_df(spark), 0)
    assert w.success_count == 2


def test_logservice_writer_has_no_rdd_hop():
    """Every sink writer stays on the one Arrow-batched DataFrame path: a
    .rdd hop or a foreachPartition call deserializes every row to Python
    one at a time."""
    import inspect

    from atiesh_spark.streaming import sinks

    source = inspect.getsource(sinks)
    assert ".rdd" not in source
    assert "foreachPartition" not in source


def test_syslog_tcp_sender_framing():
    """TCP sender appends LF framing (RFC 6587); verified against a real
    local socket."""
    import socket as s
    import threading

    from atiesh_spark.streaming.sinks import tcp_syslog_sender

    srv = s.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    got = []

    def accept():
        conn, _ = srv.accept()
        got.append(conn.recv(1024))
        conn.close()

    t = threading.Thread(target=accept, daemon=True)
    t.start()
    send, close = tcp_syslog_sender("127.0.0.1", port)
    send(b"<14>msg")
    t.join(timeout=5)
    close()
    srv.close()
    assert got == [b"<14>msg\n"]


def test_syslog_tcp_octet_count_framing():
    """RFC 5425 octet-counting: 'LEN SP MSG', no trailing LF — the
    framing strict 5425 (TLS) receivers require."""
    import socket as s
    import threading

    from atiesh_spark.streaming.sinks import octet_count_frame, tcp_syslog_sender

    assert octet_count_frame(b"<14>msg") == b"7 <14>msg"

    srv = s.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    got = []

    def accept():
        conn, _ = srv.accept()
        got.append(conn.recv(1024))
        conn.close()

    t = threading.Thread(target=accept, daemon=True)
    t.start()
    send, close = tcp_syslog_sender("127.0.0.1", port, framing="octet")
    send(b"<14>hello")
    t.join(timeout=5)
    close()
    srv.close()
    assert got == [b"9 <14>hello"]


def test_syslog_framing_validation():
    from atiesh_spark.streaming.sinks import tcp_syslog_sender

    with pytest.raises(ValueError, match="framing must be"):
        tcp_syslog_sender("127.0.0.1", 1, framing="auto")


@contextlib.contextmanager
def loopback_http(status=200):
    """A live HTTP/1.1 (keep-alive) server answering every POST with
    ``status``; yields ``(url, peers)``, ``peers`` holding each request's
    client address."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    peers = []

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"  # keep-alive

        def do_POST(self):
            peers.append(self.client_address)
            n = int(self.headers.get("Content-Length", 0))
            self.rfile.read(n)
            self.send_response(status)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}/ingest", peers
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_persistent_transport_reuses_connection():
    """All requests in a partition must ride one keep-alive connection
    (reference pool semantics) — counted via distinct client ports on a
    live HTTP/1.1 server."""
    from atiesh_spark.streaming.sinks import PersistentHttpTransport

    with loopback_http() as (url, peers):
        tr = PersistentHttpTransport()
        for i in range(5):
            status, _ = tr("POST", url, b"x", {"Content-Type": "text/plain"}, 5.0)
            assert status == 200
        tr.close()
    assert len(peers) == 5
    assert len({p[1] for p in peers}) == 1  # one client port == one connection


def test_http_writer_uses_one_connection_per_partition():
    """An HttpSinkWriter sender with no injected transport opens a
    single persistent connection for the whole partition."""
    with loopback_http() as (url, peers):
        w = HttpSinkWriter(url)
        deliver_partition(iter([("a",), ("b",), ("c",)]), w.open, w.group_size)
    assert len(peers) == 3
    assert len({p[1] for p in peers}) == 1


def test_kafka_source_missing_connector_message(spark):
    """Without the connector jar the builder must fail with actionable
    guidance, not Spark's bare lookup error."""
    from atiesh_spark.streaming.sources import kafka_source

    with pytest.raises(RuntimeError, match="spark-sql-kafka-0-10"):
        kafka_source(spark, bootstrap_servers="localhost:9092", topics=["t"])


def test_http_get_with_gzip_rejected():
    with pytest.raises(ValueError, match="gzip is only valid"):
        HttpSinkWriter("http://x", method="GET", use_gzip=True)


@pytest.mark.parametrize(
    "status, max_retries, outcome",
    [(404, 3, "dropped"), (503, 0, "failed")],
    ids=["4xx_dropped", "5xx_failed"],
)
def test_http_writer_reports_outcome_counts(spark, status, max_retries, outcome):
    """Every request gets ``status`` from a live loopback server: a 4xx
    drop is counted and the batch completes; exhausted retries are
    counted and fail the batch from the driver."""
    df = spark.createDataFrame([(f"e{i}",) for i in range(6)], "value string").repartition(2)
    with loopback_http(status) as (url, _):
        w = HttpSinkWriter(url, max_retries=max_retries)
        if outcome == "dropped":
            w(df, 0)
            assert w.dropped_count == 6
            assert w.success_count == 0 and w.failure_count == 0
        else:
            with pytest.raises(RuntimeError, match="HttpSinkWriter failed.*exhausted 0 retries"):
                w(df, 0)
            assert w.failure_count > 0


@pytest.mark.parametrize(
    "option, error",
    [
        ("rfc = 5424", None),  # HOCON reads a bare 5424 as an int
        ('rfc = "5425"', r"rfc must be 3164\|5424, got '5425'"),
        ("facility = local9", "facility must be .*, got 'local9'"),
        ("severity = warn", "severity must be .*, got 'warn'"),
        ("transport = tcpp", r"transport must be udp\|tcp, got 'tcpp'"),
        ("framing = auto", r"framing must be lf\|octet, got 'auto'"),
    ],
    ids=["int_rfc", "rfc", "facility", "severity", "transport", "framing"],
)
def test_syslog_options_checked_when_built(option, error):
    """Syslog options from a spec are checked when the writer is built,
    so a bad one fails before any query starts, not in executor tasks."""
    from atiesh_spark.bootstrap import parse_hocon
    from atiesh_spark.pipeline import build_sink_writer

    cfg = parse_hocon(f"type = syslog\n{option}")
    if error is not None:
        with pytest.raises(ValueError, match=error):
            build_sink_writer(cfg)
        return
    got = []
    w = build_sink_writer({**cfg, "sender": got.append})
    assert deliver_partition(iter([("hi",)]), w.open, w.group_size) == (1, 0, 0, None)
    assert got[0].startswith(b"<14>1 ") and got[0].endswith(b" - - - hi")
