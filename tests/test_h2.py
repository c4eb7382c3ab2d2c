"""gRPC-over-HTTP/2 transport — the wire layer a stock gRPC client
speaks to the reference daemon (``src/server``), served h2c by the
pure-stdlib framing in ``ekati_spark/wire/h2.py`` + HPACK in
``wire/hpackc.py``.

Three layers of evidence:

- HPACK against RFC 7541's own Appendix C golden vectors (request
  series with and without Huffman, dynamic-table evolution checked
  between requests);
- a raw-socket HTTP/2 client (this file) driving Put + streamed Get
  end to end — preface, SETTINGS exchange, Huffman-coded request
  headers, DATA framing, response trailers with ``grpc-status``;
- the STOCK ``curl`` (libnghttp2) and ``nghttp`` clients doing the
  same POSTs — interop with an independent full implementation,
  including whatever header compression it chooses.
"""

from __future__ import annotations

import shutil
import socket
import struct
import subprocess

import pytest

from ekati_spark.graph.compiler import QueryEngine
from ekati_spark.server import EkatiServer
from ekati_spark.wire import h2 as H2
from ekati_spark.wire import hpackc
from ekati_spark.wire import proto as W


# ---------------------------------------------------------------------------
# HPACK unit level


def test_hpack_integer_codec_rfc_examples():
    # RFC 7541 C.1: 10 in a 5-bit prefix; 1337 in a 5-bit prefix; 42 8-bit
    assert hpackc.encode_int(10, 5) == bytes([0b01010])
    assert hpackc.encode_int(1337, 5) == bytes([31, 154, 10])
    assert hpackc.encode_int(42, 8) == bytes([42])
    for v, p in [(0, 5), (30, 5), (31, 5), (1337, 5), (5000, 4), (99, 7)]:
        data = hpackc.encode_int(v, p)
        got, pos = hpackc.decode_int(data, 0, p)
        assert (got, pos) == (v, len(data))


def test_hpack_huffman_rfc_golden():
    """RFC 7541 C.4.1: 'www.example.com' Huffman-codes to the spec's
    exact bytes; decode inverts; EOS-in-data and bad padding raise."""
    enc = hpackc.huffman_encode(b"www.example.com")
    assert enc.hex() == "f1e3c2e5f23a6ba0ab90f4ff"
    assert hpackc.huffman_decode(enc) == b"www.example.com"
    assert hpackc.huffman_encode(b"no-cache").hex() == "a8eb10649cbf"
    for payload in (b"", b"x", bytes(range(256))):
        assert hpackc.huffman_decode(hpackc.huffman_encode(payload)) == payload
    with pytest.raises(ValueError):
        hpackc.huffman_decode(b"\x00")  # '0''0'... invalid padding tail


def test_hpack_decoder_rfc_c3_c4_request_series():
    """Appendix C.3 (plain) and C.4 (Huffman) three-request series on
    one connection each: indexed fields, incremental indexing, dynamic
    table evolution and reference back into it."""
    expected = [
        [(":method", "GET"), (":scheme", "http"), (":path", "/"),
         (":authority", "www.example.com")],
        [(":method", "GET"), (":scheme", "http"), (":path", "/"),
         (":authority", "www.example.com"), ("cache-control", "no-cache")],
        [(":method", "GET"), (":scheme", "https"), (":path", "/index.html"),
         (":authority", "www.example.com"),
         ("custom-key", "custom-value")],
    ]
    plain = [
        "828684410f7777772e6578616d706c652e636f6d",
        "828684be58086e6f2d6361636865",
        "828785bf400a637573746f6d2d6b65790c637573746f6d2d76616c7565",
    ]
    huff = [
        "828684418cf1e3c2e5f23a6ba0ab90f4ff",
        "828684be5886a8eb10649cbf",
        "828785bf408825a849e95ba97d7f8925a849e95bb8e8b4bf",
    ]
    for series in (plain, huff):
        dec = hpackc.Decoder()
        for blob, want in zip(series, expected):
            assert dec.decode(bytes.fromhex(blob)) == want
        # after request 3 the dynamic table holds custom-key then
        # cache-control then :authority (RFC C.3.3 table state)
        assert dec.dynamic == [
            ("custom-key", "custom-value"),
            ("cache-control", "no-cache"),
            (":authority", "www.example.com"),
        ]


def test_hpack_dynamic_table_size_update_and_eviction():
    dec = hpackc.Decoder(max_size=4096)
    # insert two entries, then shrink the table to evict the older one
    block = (
        b"\x40" + hpackc.encode_int(1, 7) + b"a"
        + hpackc.encode_int(1, 7) + b"1"
        + b"\x40" + hpackc.encode_int(1, 7) + b"b"
        + hpackc.encode_int(1, 7) + b"2"
    )
    dec.decode(block)
    assert dec.dynamic == [("b", "2"), ("a", "1")]
    dec.decode(hpackc.encode_int(34, 5, 0x20))  # fits exactly one entry
    assert dec.dynamic == [("b", "2")]
    with pytest.raises(ValueError):
        dec.decode(hpackc.encode_int(1 << 20, 5, 0x20))


# ---------------------------------------------------------------------------
# raw-socket HTTP/2 client


class _H2Client:
    """Minimal prior-knowledge h2c client for driving the server: its
    OWN encoder (including Huffman-coded literals) so the server's
    decode path is exercised without external tools."""

    def __init__(self, host: str, port: int, sock=None):
        # a pre-connected (e.g. TLS-wrapped) socket may be supplied
        self.sock = sock or socket.create_connection((host, port), timeout=10)
        self.sock.sendall(H2.PREFACE)
        self.sock.sendall(H2.pack_frame(H2.SETTINGS, 0, 0, b""))
        self.next_stream = 1

    def close(self):
        self.sock.close()

    def _recv_frame(self):
        head = b""
        while len(head) < 9:
            chunk = self.sock.recv(9 - len(head))
            if not chunk:
                return None
            head += chunk
        length = int.from_bytes(head[:3], "big")
        body = b""
        while len(body) < length:
            chunk = self.sock.recv(length - len(body))
            if not chunk:
                return None
            body += chunk
        return head[3], head[4], int.from_bytes(head[5:9], "big"), body

    @staticmethod
    def _hpack_huffman_literal(name: str, value: str) -> bytes:
        out = bytearray()
        nb = hpackc.huffman_encode(name.encode())
        vb = hpackc.huffman_encode(value.encode())
        out += b"\x00" + hpackc.encode_int(len(nb), 7, 0x80) + nb
        out += hpackc.encode_int(len(vb), 7, 0x80) + vb
        return bytes(out)

    def request(self, path: str, body: bytes):
        """POST ``body`` as gRPC DATA; returns (headers, data, trailers).
        Request headers go Huffman-coded to prove the server decodes
        real compressed blocks, not just raw octets."""
        sid = self.next_stream
        self.next_stream += 2
        block = b"".join(
            self._hpack_huffman_literal(n, v)
            for n, v in [
                (":method", "POST"), (":scheme", "http"), (":path", path),
                (":authority", "localhost"),
                ("content-type", "application/grpc"), ("te", "trailers"),
            ]
        )
        self.sock.sendall(
            H2.pack_frame(H2.HEADERS, H2.END_HEADERS, sid, block)
        )
        self.sock.sendall(
            H2.pack_frame(H2.DATA, H2.END_STREAM, sid, body)
        )
        dec = hpackc.Decoder()
        headers = trailers = None
        data = bytearray()
        while True:
            fr = self._recv_frame()
            assert fr is not None, "connection closed mid-response"
            ftype, flags, stream_id, payload = fr
            if ftype == H2.SETTINGS and not flags & H2.ACK:
                self.sock.sendall(H2.pack_frame(H2.SETTINGS, H2.ACK, 0, b""))
            elif ftype == H2.HEADERS and stream_id == sid:
                decoded = dec.decode(payload)
                if headers is None:
                    headers = decoded
                else:
                    trailers = decoded
                if flags & H2.END_STREAM:
                    return headers, bytes(data), trailers
            elif ftype == H2.DATA and stream_id == sid:
                data += payload
                if payload:
                    upd = struct.pack(">I", len(payload))
                    self.sock.sendall(
                        H2.pack_frame(H2.WINDOW_UPDATE, 0, 0, upd)
                    )
                    self.sock.sendall(
                        H2.pack_frame(H2.WINDOW_UPDATE, 0, sid, upd)
                    )
                if flags & H2.END_STREAM:
                    return headers, bytes(data), trailers


@pytest.fixture()
def h2_served(spark):
    engine = QueryEngine(spark)
    engine.execute(
        'put "s1" {"name": "ada", "likes": ^"s2"}; "s2" {"name": "bob"}'
    )
    server = EkatiServer(engine).start()
    # run the tests' Get once so its cold Spark stages land here: the
    # response-timing waits below then measure the transport, not the
    # first planning and execution of the query
    server.grpc_call("Get", _get_query_msg())
    h2srv = server.start_h2()
    yield server, h2srv
    server.stop()


def _get_query_msg() -> bytes:
    return W.encode("Query", {"iris": ["s1"]})


def test_h2_grpc_put_get_roundtrip(h2_served):
    """End to end over our raw client: Put a node, Get it back as
    framed Node messages, grpc-status 0 on the trailers channel —
    request headers Huffman-coded throughout."""
    _, h2srv = h2_served
    cli = _H2Client(h2srv.host, h2srv.port)
    try:
        node = {
            "id": {"iri": "h2node"},
            "attributes": [
                {
                    "key": {"Data": {"str": "proto"}},
                    "value": {"Data": {"str": "h2c"}},
                }
            ],
        }
        hdrs, data, trailers = cli.request(
            "/ahghee.WatDbService/Put", W.frame(W.encode("Node", node))
        )
        assert (":status", "200") in hdrs
        assert ("content-type", "application/grpc") in hdrs
        assert ("grpc-status", "0") in trailers
        frames = list(W.iter_frames(data))
        assert len(frames) == 1
        assert W.decode("PutResponse", frames[0])["success"] is True

        q = W.encode("Query", {"iris": ["h2node"]})
        hdrs, data, trailers = cli.request(
            "/ahghee.WatDbService/Get", W.frame(q)
        )
        assert ("grpc-status", "0") in trailers
        nodes = [W.decode("Node", f) for f in W.iter_frames(data)]
        assert any(n.get("id", {}).get("iri") == "h2node" for n in nodes)
    finally:
        cli.close()


def test_h2_grpc_unknown_method_unimplemented(h2_served):
    _, h2srv = h2_served
    cli = _H2Client(h2srv.host, h2srv.port)
    try:
        _, data, trailers = cli.request("/ahghee.WatDbService/Nope", b"")
        assert data == b""
        assert ("grpc-status", "12") in trailers
    finally:
        cli.close()


def test_h2_grpc_compressed_frame_trailer_not_connection_kill(h2_served):
    """A gRPC message with the compressed flag set must come back as a
    grpc-status 12 (UNIMPLEMENTED) trailer with grpc-accept-encoding
    identity, and a truncated/malformed frame as grpc-status 13
    (INTERNAL — per the gRPC spec only unsupported compression is
    UNIMPLEMENTED) — NOT escape the handler and kill the connection
    (the round-13/14 advice): the SAME connection must serve a
    follow-up request."""
    _, h2srv = h2_served
    cli = _H2Client(h2srv.host, h2srv.port)
    try:
        msg = W.encode("Query", {"iris": ["s1"]})
        compressed = b"\x01" + struct.pack(">I", len(msg)) + msg
        _, data, trailers = cli.request(
            "/ahghee.WatDbService/Get", compressed
        )
        assert data == b""
        assert ("grpc-status", "12") in trailers
        assert ("grpc-accept-encoding", "identity") in trailers
        # truncated frame: declared length exceeds the body -> INTERNAL
        _, data, trailers = cli.request(
            "/ahghee.WatDbService/Get", b"\x00" + struct.pack(">I", 99)
        )
        assert ("grpc-status", "13") in trailers
        # short prefix (3 bytes) -> INTERNAL, not a struct.error escape
        _, data, trailers = cli.request(
            "/ahghee.WatDbService/Get", b"\x00\x00\x00"
        )
        assert ("grpc-status", "13") in trailers
        # connection still alive: a clean request on the same socket
        _, data, trailers = cli.request(
            "/ahghee.WatDbService/Get", W.frame(_get_query_msg())
        )
        assert ("grpc-status", "0") in trailers
        assert list(W.iter_frames(data))
    finally:
        cli.close()


def test_h2_padded_data_flow_control_full_frame(h2_served):
    """RFC 9113 §6.9.1: flow control accounts the ENTIRE DATA payload
    including the pad-length byte and padding. The server's
    WINDOW_UPDATE replenishment must cover the full frame length, or a
    padding-using client's send window shrinks permanently."""
    _, h2srv = h2_served
    cli = _H2Client(h2srv.host, h2srv.port)
    try:
        sid = cli.next_stream
        cli.next_stream += 2
        block = b"".join(
            cli._hpack_huffman_literal(n, v)
            for n, v in [
                (":method", "POST"), (":scheme", "http"),
                (":path", "/ahghee.WatDbService/Get"),
                (":authority", "localhost"),
                ("content-type", "application/grpc"), ("te", "trailers"),
            ]
        )
        cli.sock.sendall(
            H2.pack_frame(H2.HEADERS, H2.END_HEADERS, sid, block)
        )
        body = W.frame(_get_query_msg())
        pad = 7
        padded = bytes([pad]) + body + b"\x00" * pad
        cli.sock.sendall(
            H2.pack_frame(H2.DATA, H2.END_STREAM | H2.PADDED, sid, padded)
        )
        replenished = {0: 0, sid: 0}
        got_status = None
        dec = hpackc.Decoder()
        while got_status is None:
            fr = cli._recv_frame()
            assert fr is not None
            ftype, flags, stream_id, payload = fr
            if ftype == H2.SETTINGS and not flags & H2.ACK:
                cli.sock.sendall(
                    H2.pack_frame(H2.SETTINGS, H2.ACK, 0, b"")
                )
            elif ftype == H2.WINDOW_UPDATE:
                replenished[stream_id] += int.from_bytes(payload, "big")
            elif ftype == H2.HEADERS:
                for n, v in dec.decode(payload):
                    if n == "grpc-status":
                        got_status = v
        assert got_status == "0"
        # both windows replenished by the FULL padded payload length
        assert replenished[0] == len(padded)
        assert replenished[sid] == len(padded)
    finally:
        cli.close()


def test_h2_padded_data_invalid_pad_is_goaway_protocol_error(h2_served):
    """RFC 9113 §6.1: a pad length >= the frame payload length is a
    CONNECTION error of type PROTOCOL_ERROR — the server must answer
    with GOAWAY(0x1) and close, never silently mis-slice the body."""
    _, h2srv = h2_served
    cli = _H2Client(h2srv.host, h2srv.port)
    try:
        sid = cli.next_stream
        cli.next_stream += 2
        block = b"".join(
            cli._hpack_huffman_literal(n, v)
            for n, v in [
                (":method", "POST"), (":scheme", "http"),
                (":path", "/ahghee.WatDbService/Get"),
                (":authority", "localhost"),
                ("content-type", "application/grpc"), ("te", "trailers"),
            ]
        )
        cli.sock.sendall(
            H2.pack_frame(H2.HEADERS, H2.END_HEADERS, sid, block)
        )
        # pad length 200 on a 3-byte payload: invalid by definition
        cli.sock.sendall(
            H2.pack_frame(
                H2.DATA, H2.END_STREAM | H2.PADDED, sid, bytes([200]) + b"xx"
            )
        )
        goaway_code = None
        while goaway_code is None:
            fr = cli._recv_frame()
            assert fr is not None, "closed without GOAWAY"
            ftype, flags, stream_id, payload = fr
            if ftype == H2.SETTINGS and not flags & H2.ACK:
                cli.sock.sendall(
                    H2.pack_frame(H2.SETTINGS, H2.ACK, 0, b"")
                )
            elif ftype == H2.GOAWAY:
                goaway_code = int.from_bytes(payload[4:8], "big")
        assert goaway_code == H2.PROTOCOL_ERROR
        assert cli._recv_frame() is None  # connection torn down
    finally:
        cli.close()


def test_h2_initial_window_raise_unstalls_response(h2_served):
    """A response stalled on stream flow control (client set
    SETTINGS_INITIAL_WINDOW_SIZE=0) must flow as soon as the peer
    raises the initial window via SETTINGS — without waiting for an
    unrelated WINDOW_UPDATE (the round-13 advice: _apply_settings now
    flushes pending on a positive delta)."""
    _, h2srv = h2_served
    cli = _H2Client(h2srv.host, h2srv.port)
    try:
        # shrink the initial window to 0 BEFORE the request
        setting = struct.pack(">HI", H2.SETTINGS_INITIAL_WINDOW_SIZE, 0)
        cli.sock.sendall(H2.pack_frame(H2.SETTINGS, 0, 0, setting))
        sid = cli.next_stream
        cli.next_stream += 2
        block = b"".join(
            cli._hpack_huffman_literal(n, v)
            for n, v in [
                (":method", "POST"), (":scheme", "http"),
                (":path", "/ahghee.WatDbService/Get"),
                (":authority", "localhost"),
                ("content-type", "application/grpc"), ("te", "trailers"),
            ]
        )
        cli.sock.sendall(
            H2.pack_frame(H2.HEADERS, H2.END_HEADERS, sid, block)
        )
        cli.sock.sendall(
            H2.pack_frame(
                H2.DATA, H2.END_STREAM, sid, W.frame(_get_query_msg())
            )
        )
        # drain until response HEADERS arrive; DATA must NOT arrive
        # while the stream window is 0
        dec = hpackc.Decoder()
        saw_headers = False
        cli.sock.settimeout(2)
        stalled_data = b""
        import socket as _socket

        while not saw_headers:
            fr = cli._recv_frame()
            assert fr is not None
            ftype, flags, stream_id, payload = fr
            if ftype == H2.SETTINGS and not flags & H2.ACK:
                cli.sock.sendall(H2.pack_frame(H2.SETTINGS, H2.ACK, 0, b""))
            elif ftype == H2.HEADERS and stream_id == sid:
                dec.decode(payload)
                saw_headers = True
        try:
            fr = cli._recv_frame()
            if fr and fr[0] == H2.DATA:
                stalled_data += fr[3]
        except (_socket.timeout, TimeoutError):
            pass
        assert stalled_data == b"", "DATA flowed through a zero window"
        # raise the initial window: the stalled response must now flow
        setting = struct.pack(">HI", H2.SETTINGS_INITIAL_WINDOW_SIZE, 65535)
        cli.sock.sendall(H2.pack_frame(H2.SETTINGS, 0, 0, setting))
        cli.sock.settimeout(10)
        data = bytearray()
        trailers = None
        while trailers is None:
            fr = cli._recv_frame()
            assert fr is not None
            ftype, flags, stream_id, payload = fr
            if ftype == H2.SETTINGS and not flags & H2.ACK:
                cli.sock.sendall(H2.pack_frame(H2.SETTINGS, H2.ACK, 0, b""))
            elif ftype == H2.DATA and stream_id == sid:
                data += payload
            elif ftype == H2.HEADERS and stream_id == sid:
                trailers = dec.decode(payload)
        assert ("grpc-status", "0") in trailers
        nodes = [W.decode("Node", f) for f in W.iter_frames(bytes(data))]
        assert any(n.get("id", {}).get("iri") == "s1" for n in nodes)
    finally:
        cli.close()


# ---------------------------------------------------------------------------
# stock-client interop


def _curl_ok():
    curl = shutil.which("curl")
    if not curl:
        return None
    probe = subprocess.run(
        [curl, "--version"], capture_output=True, text=True
    )
    return curl if "HTTP2" in probe.stdout or "nghttp2" in probe.stdout else None


def test_h2_interop_with_stock_curl(h2_served, tmp_path):
    """curl --http2-prior-knowledge (libnghttp2 — an independent full
    HTTP/2 + HPACK implementation, Huffman and dynamic table included)
    POSTs a framed Get; the response body must decode as Node frames."""
    curl = _curl_ok()
    if curl is None:
        pytest.skip("no HTTP/2-capable curl on PATH")
    _, h2srv = h2_served
    req = tmp_path / "get.bin"
    hdr_dump = tmp_path / "headers.txt"
    req.write_bytes(W.frame(_get_query_msg()))
    out = subprocess.run(
        [
            curl, "-s", "--http2-prior-knowledge",
            "-X", "POST",
            "-H", "content-type: application/grpc",
            "-H", "te: trailers",
            "--data-binary", f"@{req}",
            "-D", str(hdr_dump),
            f"http://{h2srv.host}:{h2srv.port}/ahghee.WatDbService/Get",
        ],
        capture_output=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr.decode()
    head = hdr_dump.read_text()
    assert "HTTP/2 200" in head
    assert "content-type: application/grpc" in head
    # curl 7.88 appends received TRAILERS after the body on stdout;
    # parse the length-prefixed frames greedily — the leftover must be
    # exactly the gRPC status trailer (or empty on curls that route
    # trailers to the header dump instead)
    frames, leftover = [], out.stdout
    while len(leftover) >= 5 and leftover[0] == 0:
        ln = int.from_bytes(leftover[1:5], "big")
        frames.append(leftover[5 : 5 + ln])
        leftover = leftover[5 + ln :]
    assert leftover in (b"", b"grpc-status: 0\r\n"), leftover
    assert "grpc-status: 0" in head or leftover, (head, leftover)
    nodes = [W.decode("Node", f) for f in frames]
    assert any(n.get("id", {}).get("iri") == "s1" for n in nodes)


def test_h2_interop_with_stock_nghttp(h2_served, tmp_path):
    """nghttp -v shows every frame: assert the full gRPC shape — 200
    response headers, DATA, and the grpc-status trailer — as decoded
    by nghttp2 itself."""
    nghttp = shutil.which("nghttp")
    if nghttp is None:
        pytest.skip("no nghttp on PATH")
    _, h2srv = h2_served
    req = tmp_path / "get.bin"
    req.write_bytes(W.frame(_get_query_msg()))
    out = subprocess.run(
        [
            nghttp, "-v",
            "-H", "content-type: application/grpc",
            "-H", "te: trailers",
            "-d", str(req),
            f"http://{h2srv.host}:{h2srv.port}/ahghee.WatDbService/Get",
        ],
        capture_output=True,
        timeout=120,
    )
    txt = out.stdout.decode(errors="replace")  # DATA frames are binary
    assert out.returncode == 0, out.stderr.decode(errors="replace")
    assert ":status: 200" in txt
    assert "content-type: application/grpc" in txt
    assert "grpc-status: 0" in txt


# ---------------------------------------------------------------------------
# TLS + ALPN ("grpcs")


@pytest.fixture(scope="module")
def tls_pair(tmp_path_factory):
    """Self-signed localhost cert/key via the stock openssl CLI."""
    openssl = shutil.which("openssl")
    if openssl is None:
        pytest.skip("no openssl on PATH")
    d = tmp_path_factory.mktemp("tls")
    cert, key = str(d / "cert.pem"), str(d / "key.pem")
    subprocess.run(
        [
            openssl, "req", "-x509", "-newkey", "rsa:2048", "-nodes",
            "-keyout", key, "-out", cert, "-days", "2",
            "-subj", "/CN=localhost",
            "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1",
        ],
        check=True, capture_output=True, timeout=120,
    )
    return cert, key


def _tls_client_sock(host, port, cert, alpn=("h2",)):
    import ssl

    ctx = ssl.create_default_context(cafile=cert)
    ctx.set_alpn_protocols(list(alpn))
    raw = socket.create_connection((host, port), timeout=10)
    return ctx.wrap_socket(raw, server_hostname="localhost")


def test_h2s_grpc_over_tls_alpn(h2_served, tls_pair):
    """grpcs end to end: TLS 1.2+ handshake against the self-signed
    cert (verified as its own CA), ALPN negotiates exactly "h2", and
    the same gRPC Put/Get framing runs over the encrypted channel with
    grpc-status trailers."""
    server, _ = h2_served
    cert, key = tls_pair
    h2s = server.start_h2s(cert, key)
    tls = _tls_client_sock(h2s.host, h2s.port, cert)
    try:
        assert tls.version() in ("TLSv1.2", "TLSv1.3")
        assert tls.selected_alpn_protocol() == "h2"
        cli = _H2Client(h2s.host, h2s.port, sock=tls)
        hdrs, data, trailers = cli.request(
            "/ahghee.WatDbService/Get", W.frame(_get_query_msg())
        )
        assert (":status", "200") in hdrs
        assert ("grpc-status", "0") in trailers
        nodes = [W.decode("Node", f) for f in W.iter_frames(data)]
        assert any(n.get("id", {}).get("iri") == "s1" for n in nodes)
    finally:
        tls.close()
        h2s.stop()  # module-scoped server: don't leak the listener


def test_h2s_interop_with_stock_curl_https(h2_served, tls_pair, tmp_path):
    """Stock curl over https: ALPN-negotiated HTTP/2 (no
    prior-knowledge flag — TLS ALPN is how real gRPC clients select
    h2), self-signed CA passed via --cacert, gRPC body + trailers."""
    curl = _curl_ok()
    if curl is None:
        pytest.skip("curl missing or lacks HTTP/2")
    server, _ = h2_served
    cert, key = tls_pair
    h2s = server.start_h2s(cert, key)
    req = tmp_path / "get.bin"
    req.write_bytes(W.frame(_get_query_msg()))
    try:
        out = subprocess.run(
            [
                curl, "-sS", "--http2", "--cacert", cert,
                "--resolve", f"localhost:{h2s.port}:127.0.0.1",
                "-H", "content-type: application/grpc",
                "-H", "te: trailers",
                "--data-binary", f"@{req}",
                "-D", str(tmp_path / "head.txt"),
                f"https://localhost:{h2s.port}/ahghee.WatDbService/Get",
            ],
            capture_output=True,
            timeout=120,
        )
    finally:
        h2s.stop()  # module-scoped server: don't leak the listener
    assert out.returncode == 0, out.stderr.decode(errors="replace")
    head = (tmp_path / "head.txt").read_text(errors="replace")
    assert head.startswith("HTTP/2 200"), head
    frames, leftover = [], out.stdout
    while len(leftover) >= 5 and leftover[0] == 0:
        ln = int.from_bytes(leftover[1:5], "big")
        frames.append(leftover[5 : 5 + ln])
        leftover = leftover[5 + ln :]
    assert leftover in (b"", b"grpc-status: 0\r\n"), leftover
    assert "grpc-status: 0" in head or leftover, (head, leftover)
    nodes = [W.decode("Node", f) for f in frames]
    assert any(n.get("id", {}).get("iri") == "s1" for n in nodes)
