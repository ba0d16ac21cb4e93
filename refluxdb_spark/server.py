"""Optional server frontends: the reference's HTTP + UDP endpoints.

Endpoint parity with ``handlers.rs`` / ``udpserver.rs`` (SURVEY §3):

=========================  ==========================================
reference                  here
=========================  ==========================================
``GET /``                  list series, JSON array
(handlers.rs:24-32)
``POST /write`` body =     parse + append; 400 on parse error
line protocol              (handlers.rs:100-145)
``POST /query`` form       validate -> Catalyst -> JSON rows
field ``q``                (handlers.rs:70-93); 400 on validator
                           errors and on SQL Spark rejects, 404 on
                           unknown tables (no panics — Q12)
``GET /range/{ts}          inclusive time-between scan; 404 unknown
?start&end`` RFC3339       series, 400 malformed datetime (Q13 fixed)
UDP datagram = one line    ``UDPLineServer``: datagram -> buffer ->
(udpserver.rs:16-91)       batched engine append; optional echo
=========================  ==========================================

Any other failure answers 500 with a JSON body, and a malformed
``Content-Length`` answers 400: no request ends in a dropped socket.

Documented divergence (O17): responses are real JSON, not the
reference's Rust ``Debug``-format strings inside JSON
(``handlers.rs:29-31`` wraps ``format!("{:?}")`` — not a contract
worth preserving).

The servers are thin shims over :class:`RefluxEngine`; everything
data-shaped stays in the engine, so the driver's gates (and any batch
user) never need a socket. Stdlib-only — no web framework.

Scale note: one Spark driver behind an HTTP handler is the right shape
for the reference's workload (interactive queries); bulk ingest should
use the streaming path (``streaming/ingest.py``), which these servers
feed in production via a UDP->file shim (SURVEY §7 hard part (a)).
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading
import traceback
from contextlib import contextmanager
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.errors import (
    AnalysisException,
    ArithmeticException,
    ArrayIndexOutOfBoundsException,
    DateTimeException,
    NumberFormatException,
)
from pyspark.sql import functions as F

from refluxdb_spark.engine import RefluxEngine
from refluxdb_spark.errors import ParseError, RefluxError, TableNotFoundError

# Spark's verdicts on the client's own SQL: it fails analysis, or an
# ANSI check fails while it runs (cast, divide by zero, overflow, index)
_SQL_CLIENT_ERRORS = (
    AnalysisException,
    ArithmeticException,
    ArrayIndexOutOfBoundsException,
    DateTimeException,
    NumberFormatException,
)


def _first_line(e: Exception) -> str:
    return (str(e).splitlines() or [type(e).__name__])[0]


def _json_default(v):
    if isinstance(v, datetime):
        return v.isoformat()
    return str(v)


class _Handler(BaseHTTPRequestHandler):
    engine: RefluxEngine  # set by server factory

    def _send(self, code: int, payload) -> None:
        body = json.dumps(payload, default=_json_default).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args) -> None:  # quiet test output
        pass

    @contextmanager
    def _json_errors(self):
        """Answer every failure of the request body with a JSON error,
        so no request ends in a dropped connection: 404 for an unknown
        series, 400 for engine rejections and for SQL that Spark
        refuses (analysis errors, ANSI runtime errors), 500 for
        anything else."""
        try:
            yield
        except TableNotFoundError as e:
            self._send(404, {"error": str(e)})  # handlers.rs:44-48
        except RefluxError as e:
            self._send(400, {"error": str(e)})  # handlers.rs:86-91
        except _SQL_CLIENT_ERRORS as e:
            self._send(400, {"error": _first_line(e)})
        except Exception as e:
            traceback.print_exc()
            self._send(500, {"error": f"{type(e).__name__}: {_first_line(e)}"})

    def do_GET(self) -> None:
        url = urlparse(self.path)
        with self._json_errors():
            if url.path == "/":
                # GET / (handlers.rs:24-32)
                self._send(200, self.engine.list_series())
            elif url.path == "/stats":
                # GET /stats: metadata-only table observability
                self._send(200, self.engine.table_stats())
            elif url.path == "/metrics/ingest":
                # GET /metrics/ingest: the observe()-metered per-batch
                # ingest ledger (rows/nulls/event-time bounds) — the
                # SLA/lag feed, read from the tiny ledger table, never
                # by rescanning measurements
                rows = [
                    r.asDict(recursive=True)
                    for r in self.engine.ingest_metrics()
                    .orderBy(F.col("recorded_at").desc())
                    .limit(1000)
                    .collect()
                ]
                self._send(200, rows)
            elif url.path.startswith("/range/"):
                # GET /range/{ts}?start&end (handlers.rs:34-66)
                series = unquote(url.path[len("/range/") :])
                q = parse_qs(url.query)
                start, end = q.get("start", [None])[0], q.get("end", [None])[0]
                if start is None or end is None:
                    self._send(400, {"error": "start and end are required"})
                    return
                rows = [
                    r.asDict(recursive=True)
                    for r in self.engine.range(series, start, end).collect()
                ]
                self._send(200, rows)
            else:
                self._send(404, {"error": "not found"})

    def do_POST(self) -> None:
        url = urlparse(self.path)
        with self._json_errors():
            length = self.headers.get("Content-Length", "0").strip()
            if not (length.isascii() and length.isdigit()):
                self._send(400, {"error": f"malformed Content-Length: {length!r}"})
                return
            body = self.rfile.read(int(length)).decode("utf-8", errors="replace")
            if url.path == "/write":
                # POST /write (handlers.rs:100-145); body may hold many
                # lines, split on "\n" only: str.splitlines would also
                # break inside a tag value at \x0b, \x85, U+2028, ...
                lines = [
                    ln.removesuffix("\r") for ln in body.split("\n") if ln.strip()
                ]
                # rejected = COUNT; payloads live in the dead-letter
                # table (engine.dead_letters()), never on the driver
                n, n_dead = self.engine.write_lines(lines)
                code = 200 if not n_dead else 400
                self._send(code, {"written": n, "rejected": n_dead})
            elif url.path == "/query":
                # POST /query, form field q (handlers.rs:70-79);
                # optional rollup=1 routes the canonical bucket shape
                # through the maintained continuous aggregate
                form = parse_qs(body)
                q = form.get("q", [None])[0]
                if q is None:
                    q = body  # also accept a raw SQL body
                rollup = form.get("rollup", ["0"])[0] in ("1", "true")
                self._send(200, self.engine.query_rows(q, prefer_rollup=rollup))
            else:
                self._send(404, {"error": "not found"})


def serve_http(engine: RefluxEngine, host: str = "127.0.0.1", port: int = 8086):
    """Start the HTTP frontend on a daemon thread; returns the server
    (call ``.shutdown()`` to stop). Port 8086 nods to InfluxDB."""
    handler = type("BoundHandler", (_Handler,), {"engine": engine})
    httpd = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd


class UDPLineServer:
    """UDP ingest (udpserver.rs:16-91): one datagram = one
    line-protocol line. Datagrams are buffered and flushed to the
    engine in batches (size- or call-triggered) — the Spark-friendly
    replacement for the reference's row-at-a-time insert under a global
    mutex. With ``echo`` the canonical serialized line is sent back
    (udpserver.rs echo mode, O4)."""

    def __init__(
        self,
        engine: RefluxEngine,
        host: str = "127.0.0.1",
        port: int = 8089,
        batch_size: int = 500,
        echo: bool = False,
    ) -> None:
        self.engine = engine
        self.batch_size = batch_size
        self.echo = echo
        self._buf: list[str] = []
        self._lock = threading.Lock()
        outer = self

        class _UDP(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                data, sock = self.request
                # reference strips the trailing byte blindly (Q6b,
                # udpserver.rs:25); we strip only trailing newline
                line = data.decode("utf-8", errors="replace").rstrip("\r\n")
                if outer.echo:
                    from refluxdb_spark.protocol import LineProtocol

                    try:
                        # typed engines echo the typed wire grammar —
                        # the reference's own test lines (quoted string
                        # fields) round-trip through echo mode intact
                        lp = LineProtocol.parse(
                            line, typed=outer.engine.typed_fields
                        )
                        sock.sendto(
                            (lp.serialize() + "\n").encode(),
                            self.client_address,
                        )
                    except ParseError as e:
                        sock.sendto(f"error: {e}\n".encode(), self.client_address)
                with outer._lock:
                    outer._buf.append(line)
                    if len(outer._buf) >= outer.batch_size:
                        outer._flush_locked()

        self._server = socketserver.ThreadingUDPServer((host, port), _UDP)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "UDPLineServer":
        self._thread.start()
        return self

    def _flush_locked(self) -> None:
        batch, self._buf = self._buf, []
        if batch:
            self.engine.write_lines(batch)

    def flush(self) -> None:
        """Flush buffered datagrams to the engine (tests / shutdown)."""
        with self._lock:
            self._flush_locked()

    def stop(self) -> None:
        """Stop serving, wait for in-flight handlers, then flush — a
        datagram handled during shutdown still reaches the table."""
        self._server.shutdown()
        self._server.server_close()  # joins handler threads (block_on_close)
        self.flush()


def send_udp_line(line: str, host: str = "127.0.0.1", port: int = 8089) -> None:
    """Client helper mirroring the README's ``nc -u`` demo (README.md:20)."""
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        s.sendto((line + "\n").encode(), (host, port))
