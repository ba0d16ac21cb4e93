"""End-to-end server tests over real sockets: the README demo flows
(nc -u ingest, curl /query) against the HTTP+UDP frontends."""

import json
import socket
import time
import urllib.request

import pytest

from refluxdb_spark.engine import RefluxEngine
from refluxdb_spark.server import UDPLineServer, send_udp_line, serve_http


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    eng = RefluxEngine(spark, str(tmp_path_factory.mktemp("wh_srv")))
    httpd = serve_http(eng, port=0)  # ephemeral port
    http_port = httpd.server_address[1]
    udp = UDPLineServer(eng, port=0, echo=True).start()
    yield eng, http_port, udp
    udp.stop()
    httpd.shutdown()


def _http(method, port, path, body=None, headers=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=body.encode() if body else None,
        method=method,
        headers=headers or {},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_write_query_roundtrip(served):
    eng, port, _ = served
    code, out = _http(
        "POST", port, "/write",
        "test,host=server,region=us-east1 value=0.80 1234567890000000000",
    )
    assert code == 200 and out["written"] == 1 and out["rejected"] == 0

    code, rows = _http("POST", port, "/query", "q=SELECT * FROM test")
    assert code == 200 and len(rows) == 1
    assert rows[0]["value"] == 0.8
    assert rows[0]["tags"] == {"host": "server", "region": "us-east1"}

    code, series = _http("GET", port, "/")
    assert code == 200 and "test" in series


def test_write_rejects_bad_lines(served):
    _, port, _ = served
    code, out = _http("POST", port, "/write", "bad x=notanumber 1000")
    assert code == 400 and out["rejected"] == 1


def test_write_splits_body_on_newline_only(served):
    """A body splits into lines at "\n" only (one trailing "\r"
    dropped): a tag value holding U+2028, which ``str.splitlines``
    treats as a line break, stays inside its one line."""
    eng, port, _ = served
    line = "sep2028,host=a\u2028b v=1.0 1700000000000000000"
    body = f"{line}\r\n\r\nsep2028 v=2.0 1700000001000000000\r\n"
    code, out = _http("POST", port, "/write", body)
    assert (code, out) == (200, {"written": 2, "rejected": 0})
    rows = eng.query_rows("SELECT value, tags FROM sep2028 ORDER BY value")
    assert rows == [
        {"value": 1.0, "tags": {"host": "a\u2028b"}},
        {"value": 2.0, "tags": {}},
    ]


def test_query_validation_errors(served):
    _, port, _ = served
    code, out = _http("POST", port, "/query", "q=DROP TABLE test")
    assert code == 400 and "SELECT" in out["error"]
    code, out = _http("POST", port, "/query", "q=SELECT * FROM missing_series")
    assert code == 404 and "table not found" in out["error"]


def test_query_rejected_by_spark_is_400(served):
    """SQL the gateway passes but Spark refuses — an unresolved column
    (analysis) or an ANSI runtime error (invalid cast, divide by zero)
    — answers 400 with the error's first line, not a dropped socket."""
    _, port, _ = served
    code, out = _http("POST", port, "/write", "errs v=1.0 1700000000000000000")
    assert code == 200
    for q, error_class in [
        ("SELECT nosuch FROM errs", "UNRESOLVED_COLUMN"),
        ("SELECT CAST(name AS INT) FROM errs", "CAST_INVALID_INPUT"),
        ("SELECT CAST(value AS INT) DIV 0 FROM errs", "DIVIDE_BY_ZERO"),
    ]:
        code, out = _http("POST", port, "/query", f"q={q}")
        assert code == 400 and error_class in out["error"], (q, out)
        assert "\n" not in out["error"]


def test_unexpected_handler_error_is_500_json(served, monkeypatch):
    eng, port, _ = served

    def boom():
        raise RuntimeError("disk on fire\nsecond line")

    monkeypatch.setattr(eng, "list_series", boom)
    code, out = _http("GET", port, "/")
    assert code == 500 and out == {"error": "RuntimeError: disk on fire"}


@pytest.mark.parametrize("length", ["abc", "-1"])
def test_malformed_content_length_is_400(served, length):
    import http.client

    _, port, _ = served
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request("POST", "/query", headers={"Content-Length": length})
        resp = conn.getresponse()
        assert resp.status == 400
        assert "Content-Length" in json.loads(resp.read())["error"]
    finally:
        conn.close()


def test_range_endpoint(served):
    _, port, _ = served
    code, rows = _http(
        "GET", port,
        "/range/test?start=2009-02-13T00:00:00Z&end=2009-02-14T00:00:00Z",
    )
    assert code == 200 and len(rows) == 1  # 1234567890 epoch ≈ 2009-02-13
    code, out = _http("GET", port, "/range/nope?start=2009-01-01T00:00:00Z&end=2009-01-02T00:00:00Z")
    assert code == 404
    code, out = _http("GET", port, "/range/test?start=garbage&end=2009-01-02T00:00:00Z")
    assert code == 400 and "malformed" in out["error"]


def test_udp_ingest_and_echo(served):
    eng, _, udp = served
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        s.settimeout(5)
        s.sendto(b"udpseries,host=u value=1.5 1700000000000000000\n", ("127.0.0.1", udp.port))
        echoed, _ = s.recvfrom(1024)  # echo mode serializes back (O4)
    assert b"udpseries,host=u value=1.5" in echoed
    deadline = time.time() + 5
    while time.time() < deadline and not udp._buf:
        time.sleep(0.05)
    udp.flush()
    rows = eng.query_rows("SELECT name, value FROM udpseries")
    assert [(r["name"], r["value"]) for r in rows] == [("value", 1.5)]


def test_udp_stop_flushes_datagram_handled_during_shutdown(spark, tmp_path):
    """``stop()`` flushes after the server has stopped and its handler
    threads have finished, so a line buffered during shutdown is
    written, not dropped."""
    eng = RefluxEngine(spark, str(tmp_path / "wh_udp_stop"))
    udp = UDPLineServer(eng, port=0).start()
    shutdown = udp._server.shutdown

    def late_datagram_then_shutdown():
        with udp._lock:
            udp._buf.append("late v=1.0 1700000000000000000")
        shutdown()

    udp._server.shutdown = late_datagram_then_shutdown
    udp.stop()
    rows = eng.query_rows("SELECT value FROM late")
    assert [r["value"] for r in rows] == [1.0]


def test_udp_bad_line_echoes_error(served):
    _, _, udp = served
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        s.settimeout(5)
        s.sendto(b"bad x=oops 1000\n", ("127.0.0.1", udp.port))
        echoed, _ = s.recvfrom(1024)
    assert echoed.startswith(b"error:")


def test_stats_endpoint_and_rollup_query_param(spark, tmp_path):
    import json
    import urllib.request

    from refluxdb_spark.engine import RefluxEngine
    from refluxdb_spark.server import serve_http

    eng = RefluxEngine(spark, str(tmp_path / "wh"))
    eng.write_lines(["cpu,host=a value=1.0 1000000000000000000"])
    srv = serve_http(eng, port=0)
    port = srv.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/stats") as r:
            st = json.loads(r.read())
        assert st["n_partitions"] >= 1 and st["total_bytes"] > 0
        body = "q=SELECT name, value FROM cpu&rollup=0"
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query", data=body.encode(), method="POST"
        )
        with urllib.request.urlopen(req) as r:
            rows = json.loads(r.read())
        assert rows[0]["value"] == 1.0
    finally:
        srv.shutdown()


def test_metrics_ingest_endpoint(served):
    """GET /metrics/ingest serves the observe()-metered ledger (empty
    until a metered write happens, then the per-batch rows)."""
    from refluxdb_spark.sources.lineprotocol import explode_fields, parse_lines_df

    eng, port, _ = served
    status, body = _http("GET", port, "/metrics/ingest")
    assert status == 200 and body == []
    raw = eng.spark.createDataFrame(
        [("metered,host=m v=1.5 1700000000000000000",)], "value string"
    )
    eng.write_dataframe(explode_fields(parse_lines_df(raw)), record_metrics=True)
    status, body = _http("GET", port, "/metrics/ingest")
    assert status == 200 and len(body) == 1
    assert body[0]["rows"] == 1 and body[0]["null_values"] == 0


def test_udp_typed_engine_echoes_reference_test_line(spark, tmp_path_factory):
    """A typed engine's UDP echo round-trips the reference's OWN
    parser-test line (quoted string field, protocol.rs:155) byte for
    byte — the line the f64-only reference cannot ingest — and the
    ingested row lands typed."""
    import socket as _socket
    import time as _time

    eng = RefluxEngine(
        spark, str(tmp_path_factory.mktemp("wh_typed_srv")), typed_fields=True
    )
    udp = UDPLineServer(eng, port=0, echo=True).start()
    line = (
        b'mySingleTagMeasurement,tag1=value1 fieldKey1="fieldValue" '
        b"1556813561098000000"
    )
    try:
        with _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM) as s:
            s.settimeout(5)
            s.sendto(line + b"\n", ("127.0.0.1", udp.port))
            echoed, _ = s.recvfrom(1024)
        assert echoed == line + b"\n"
        deadline = _time.time() + 5
        while _time.time() < deadline and not udp._buf:
            _time.sleep(0.05)
        udp.flush()
        rows = eng.query_rows(
            "SELECT name, value_type, value_str FROM mySingleTagMeasurement"
        )
        assert [(r["name"], r["value_type"], r["value_str"]) for r in rows] == [
            ("fieldKey1", "string", "fieldValue")
        ]
    finally:
        udp.stop()
