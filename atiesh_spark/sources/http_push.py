"""HTTP push source: a custom Python streaming data source.

The reference's HttpSource is a passive akka-http server: per request it
optionally gunzips the body, splits it into events on a 1-char
delimiter, captures request headers by (lowercased) prefix, and answers
201 after downstream confirmation (HttpSource.scala:46-201,
HttpSourceSemantics.scala:67-394).

Spark has no HTTP-server source, so this implements one with the Spark 4
Python Data Source API (``SimpleDataSourceStreamReader`` — the reader
runs driver-side, which matches an admission-control ingress: bounded,
low-throughput, fronting the real distributed plan).

Semantic deltas vs the reference (documented, SURVEY.md §3.3/§7.4):
- 201 means enqueued-for-next-batch, not downstream-committed; Spark
  cannot block an HTTP response on sink commit. Front with Kafka when
  end-to-end acks are required.
- the queue is driver-memory; `max-queue` admission (503 on overflow)
  mirrors the reference's max-connections semaphore
  (HttpSourceSemantics.scala:136-138). Uncheckpointed queued events die
  with the driver (the reference's mailbox events die with the JVM the
  same way).

Request handling parity:
- Content-Encoding: gzip supported, anything else -> 400
  (HttpSource.scala:100-115, error map 142-156)
- body split on a single-char delimiter, default "\n"
  (HttpSource.scala:60-72,116-117)
- header capture by lowercase prefix into event headers
  (HttpSource.scala:119-126)
"""

from __future__ import annotations

import gzip
import queue
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import MapType, StringType, StructField, StructType

EVENT_SCHEMA = StructType(
    [
        StructField("value", StringType()),
        StructField("headers", MapType(StringType(), StringType())),
    ]
)


def extract_events(
    body: bytes,
    content_encoding: str | None,
    req_headers: dict[str, str],
    delimiter: str = "\n",
    capture_prefix: str | None = None,
    charset: str = "UTF-8",
) -> list[tuple[str, dict[str, str]]]:
    """Request -> events, mirroring httpRequestExtractEvents.

    Raises ValueError for unsupported Content-Encoding (the 400 path).
    """
    enc = (content_encoding or "").lower()
    if enc == "gzip":
        body = gzip.decompress(body)
    elif enc not in ("", "identity"):
        raise ValueError(f"unsupported content-encoding {content_encoding!r}")
    captured: dict[str, str] = {}
    if capture_prefix:
        p = capture_prefix.lower()
        # keys stored lowercased, like the reference's k.toLowerCase
        # (HttpSource.scala:119-126)
        captured = {
            k.lower(): v for k, v in req_headers.items() if k.lower().startswith(p)
        }
    text = body.decode(charset)
    segments = text.split(delimiter)
    # Scala's String.split(char) drops TRAILING empty segments
    # (HttpSource.scala:116-117) — 'rec1\nrec2\n' is two events, not three
    while segments and segments[-1] == "":
        segments.pop()
    return [(seg, captured) for seg in segments]


class _IngressServer:
    """Threaded HTTP server feeding a bounded in-memory event queue."""

    def __init__(
        self,
        port: int,
        delimiter: str,
        capture_prefix: str | None,
        max_queue: int,
    ) -> None:
        # unbounded Queue + explicit admission lock: a bounded queue's
        # blocking put could hang handler threads at capacity (the only
        # consumer is the micro-batch drain), and qsize() checks race
        # across ThreadingHTTPServer threads. The lock makes
        # check-then-enqueue atomic, so requests are admitted fully or
        # 503'd — never partially enqueued, never blocked.
        self.events: queue.Queue = queue.Queue()
        self._admission = threading.Lock()
        ingress = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 - stdlib API
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                try:
                    evs = extract_events(
                        body,
                        self.headers.get("Content-Encoding"),
                        dict(self.headers.items()),
                        delimiter=delimiter,
                        capture_prefix=capture_prefix,
                    )
                except ValueError:
                    self.send_response(400)
                    self.end_headers()
                    return
                except Exception:
                    self.send_response(500)
                    self.end_headers()
                    return
                with ingress._admission:
                    if ingress.events.qsize() + len(evs) > max_queue:
                        self.send_response(503)  # admission control
                        self.end_headers()
                        return
                    for ev in evs:
                        ingress.events.put_nowait(ev)
                self.send_response(201)
                self.end_headers()

            def log_message(self, *args) -> None:  # silence stdlib logging
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def drain(self) -> list[tuple[str, dict[str, str]]]:
        out = []
        while True:
            try:
                out.append(self.events.get_nowait())
            except queue.Empty:
                return out

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()


#: per-process ingress registry. Spark instantiates the data source more
#: than once (offset management vs read planning live in different
#: Python workers); only the instance that wins the bind serves HTTP —
#: the others run "client-only" (empty queue) and only ever replay.
_SERVERS: dict[int, _IngressServer] = {}
_SERVERS_LOCK = threading.Lock()


def _get_or_bind_ingress(
    port: int, delimiter: str, capture_prefix: str | None, max_queue: int
) -> _IngressServer | None:
    with _SERVERS_LOCK:
        if port in _SERVERS:
            return _SERVERS[port]
        try:
            srv = _IngressServer(port, delimiter, capture_prefix, max_queue)
        except OSError:
            return None  # another process holds the port (client-only mode)
        _SERVERS[srv.port] = srv
        return srv


class HttpPushStreamReader(SimpleDataSourceStreamReader):
    """Driver-side reader: each micro-batch drains the ingress queue.

    Offsets are monotonically increasing event counts; a replay buffer
    keeps events between the last committed and latest offsets so
    readBetweenOffsets can re-serve an uncommitted batch after query
    restart-in-place (at-least-once within the process lifetime).
    """

    def __init__(self, options: dict) -> None:
        self.ingress = _get_or_bind_ingress(
            port=int(options.get("port", 0)),
            delimiter=options.get("delimiter", "\n"),
            capture_prefix=options.get("captureprefix") or options.get("capturePrefix"),
            max_queue=int(options.get("maxqueue", options.get("maxQueue", 8192))),
        )
        self._base = 0  # offset of first event still in the replay buffer
        self._buffer: list[tuple[str, dict[str, str]]] = []

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def read(self, start: dict):
        # A restarted query resumes from its checkpointed offset with a
        # FRESH reader (_base=0, empty buffer). Events from the previous
        # incarnation are gone (in-memory source); fast-forward the base
        # so offsets stay monotonic and only newly ingested events are
        # served, instead of mis-slicing the empty buffer.
        if start["idx"] > self._base + len(self._buffer):
            self._base = start["idx"]
            self._buffer = []
        new = self.ingress.drain() if self.ingress is not None else []
        self._buffer.extend(new)
        end_idx = self._base + len(self._buffer)
        lo = start["idx"] - self._base
        rows = self._buffer[lo:]
        return iter(rows), {"idx": end_idx}

    def readBetweenOffsets(self, start: dict, end: dict):
        lo, hi = start["idx"] - self._base, end["idx"] - self._base
        return iter(self._buffer[lo:hi])

    def commit(self, end: dict) -> None:
        keep_from = end["idx"] - self._base
        if keep_from > 0:
            self._buffer = self._buffer[keep_from:]
            self._base = end["idx"]


class HttpPushDataSource(DataSource):
    """``spark.readStream.format("http_push")`` after registration.

    Options: port (0 = ephemeral), delimiter, capturePrefix, maxQueue.
    """

    @classmethod
    def name(cls) -> str:
        return "http_push"

    def schema(self) -> StructType:
        return EVENT_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> HttpPushStreamReader:
        return HttpPushStreamReader(self.options)


def register_http_push(spark) -> None:
    spark.dataSource.register(HttpPushDataSource)
