"""HTTP/2 (RFC 9113) cleartext server framing for the gRPC transport.

The reference daemon serves ``WatDbService`` over gRPC — protobuf
messages on HTTP/2 streams (``src/server``; the Blazor UI and the VS
Code extension are stock gRPC clients). ``wire/proto.py`` already
speaks the message bytes and ``wire/bridge.py`` maps them onto the
engine; this module supplies the missing layer: real HTTP/2 framing
over a cleartext socket ("h2c with prior knowledge" — what
``grpc.insecure_channel`` / ``curl --http2-prior-knowledge`` /
``nghttp`` speak), pure stdlib.

Scope is the server side of gRPC's HTTP/2 profile:

- connection preface check, SETTINGS exchange + ACK, PING reply,
  GOAWAY, RST_STREAM, PRIORITY (ignored), WINDOW_UPDATE;
- HEADERS (+CONTINUATION, padding, priority weight) decoded through a
  per-connection HPACK ``Decoder`` (``wire/hpackc.py`` — full RFC 7541
  decode incl. Huffman and dynamic-table updates, so clients may
  compress however they like);
- DATA reassembly per stream until END_STREAM, with receive-window
  replenishment;
- responses as HEADERS, sent before the request runs, +
  flow-controlled DATA (≤ peer SETTINGS_MAX_FRAME_SIZE per frame,
  connection + stream send windows honored, WINDOW_UPDATE consumed
  while output is pending) + an END_STREAM trailers HEADERS frame —
  the gRPC status channel.

Interop is pinned in tests/test_h2.py by driving the server with the
stock ``curl`` (libnghttp2) and ``nghttp`` clients end to end.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading

from ekati_spark.wire import hpackc

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"

# frame types
DATA = 0x0
HEADERS = 0x1
PRIORITY = 0x2
RST_STREAM = 0x3
SETTINGS = 0x4
PUSH_PROMISE = 0x5
PING = 0x6
GOAWAY = 0x7
WINDOW_UPDATE = 0x8
CONTINUATION = 0x9

# flags
END_STREAM = 0x1
ACK = 0x1
END_HEADERS = 0x4
PADDED = 0x8
PRIORITY_FLAG = 0x20

SETTINGS_MAX_FRAME_SIZE = 0x5
SETTINGS_INITIAL_WINDOW_SIZE = 0x4

# error codes (RFC 9113 §7)
PROTOCOL_ERROR = 0x1

DEFAULT_WINDOW = 65535
DEFAULT_MAX_FRAME = 16384


def pack_frame(ftype: int, flags: int, stream_id: int, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))[1:]
        + bytes([ftype, flags])
        + struct.pack(">I", stream_id & 0x7FFFFFFF)
        + payload
    )


class _Stream:
    __slots__ = ("headers", "body", "complete", "send_window")

    def __init__(self, initial_window: int):
        self.headers: list[tuple[str, str]] = []
        self.body = bytearray()
        self.complete = False
        self.send_window = initial_window


class H2Connection:
    """One cleartext HTTP/2 connection; ``handler(headers, body) ->
    (status, headers, finish)`` is invoked per completed request stream.
    The status and headers are sent at once; then ``finish() -> (body,
    trailers)`` runs the request, and its response is written back
    flow-controlled."""

    def __init__(self, sock: socket.socket, handler):
        self.sock = sock
        self.handler = handler
        self.decoder = hpackc.Decoder()
        self.streams: dict[int, _Stream] = {}
        self.conn_send_window = DEFAULT_WINDOW
        self.peer_max_frame = DEFAULT_MAX_FRAME
        self.peer_initial_window = DEFAULT_WINDOW
        # (stream_id, remaining DATA bytes, trailers) awaiting window
        self.pending: list[list] = []
        self.last_stream_id = 0  # highest peer stream seen, for GOAWAY
        self._hdr_stream: int | None = None  # CONTINUATION accumulator
        self._hdr_flags = 0
        self._hdr_block = bytearray()

    # -- socket helpers ------------------------------------------------------

    def _recv_exact(self, n: int) -> bytes | None:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                return None
            buf += chunk
        return bytes(buf)

    def _send(self, data: bytes) -> None:
        self.sock.sendall(data)

    # -- main loop -----------------------------------------------------------

    def run(self) -> None:
        preface = self._recv_exact(len(PREFACE))
        if preface != PREFACE:
            self.sock.close()
            return
        self._send(pack_frame(SETTINGS, 0, 0, b""))
        try:
            while True:
                head = self._recv_exact(9)
                if head is None:
                    return
                length = int.from_bytes(head[:3], "big")
                ftype, flags = head[3], head[4]
                stream_id = int.from_bytes(head[5:9], "big") & 0x7FFFFFFF
                payload = self._recv_exact(length) if length else b""
                if payload is None and length:
                    return
                if self._dispatch(ftype, flags, stream_id, payload or b""):
                    return
        except (ConnectionResetError, BrokenPipeError, OSError):
            return
        finally:
            try:
                self.sock.close()
            except OSError:
                pass

    # -- frame handling ------------------------------------------------------

    def _goaway(self, error_code: int) -> bool:
        """Tear the connection down per RFC 9113 §5.4.1: send GOAWAY
        naming the highest stream this side processed and the error
        code, then signal close. Malformed frames (e.g. a pad length
        >= the payload length, §6.1) MUST be connection errors — never
        silently accepted with a mis-sliced body.

        The close is GRACEFUL: half-close our write side, then drain
        (and discard) whatever the peer already had in flight until
        EOF or a short timeout. Closing with unread bytes in the
        receive queue makes the kernel send RST, which can destroy the
        peer's buffered-but-unread GOAWAY — exactly the frame this
        teardown exists to deliver."""
        try:
            self._send(
                pack_frame(
                    GOAWAY,
                    0,
                    0,
                    struct.pack(">II", self.last_stream_id, error_code),
                )
            )
            self.sock.shutdown(socket.SHUT_WR)
            self.sock.settimeout(1.0)
            while self.sock.recv(65536):
                pass
        except OSError:
            pass
        return True

    def _dispatch(self, ftype, flags, stream_id, payload) -> bool:
        """Returns True when the connection should close."""
        if stream_id:
            self.last_stream_id = max(self.last_stream_id, stream_id)
        if ftype == SETTINGS:
            if not flags & ACK:
                self._apply_settings(payload)
                self._send(pack_frame(SETTINGS, ACK, 0, b""))
            return False
        if ftype == PING:
            if not flags & ACK:
                self._send(pack_frame(PING, ACK, 0, payload))
            return False
        if ftype == GOAWAY:
            return True
        if ftype == WINDOW_UPDATE:
            inc = int.from_bytes(payload[:4], "big") & 0x7FFFFFFF
            if stream_id == 0:
                self.conn_send_window += inc
            elif stream_id in self.streams:
                self.streams[stream_id].send_window += inc
            self._flush_pending()
            return False
        if ftype == RST_STREAM:
            self.streams.pop(stream_id, None)
            self.pending = [p for p in self.pending if p[0] != stream_id]
            return False
        if ftype == PRIORITY:
            return False
        if ftype == HEADERS:
            pos = 0
            if flags & PADDED:
                if not payload or payload[0] >= len(payload):
                    return self._goaway(PROTOCOL_ERROR)
                pad = payload[0]
                pos = 1
                payload = payload[: len(payload) - pad]
            if flags & PRIORITY_FLAG:
                pos += 5
            self._hdr_stream = stream_id
            self._hdr_flags = flags
            self._hdr_block = bytearray(payload[pos:])
            if flags & END_HEADERS:
                self._finish_headers()
            return False
        if ftype == CONTINUATION:
            if stream_id != self._hdr_stream:
                return True  # PROTOCOL_ERROR: close
            self._hdr_block += payload
            if flags & END_HEADERS:
                self._finish_headers()
            return False
        if ftype == DATA:
            st = self.streams.get(stream_id)
            if st is None:
                return False
            # flow control accounts the ENTIRE frame payload including
            # the pad-length byte and padding (RFC 9113 §6.9.1), so the
            # replenishment amount is captured BEFORE stripping padding
            flow_len = len(payload)
            if flags & PADDED:
                # RFC 9113 §6.1: a pad length >= the payload length
                # (which includes the pad-length byte itself) is a
                # connection error — reject, never mis-slice
                if not payload or payload[0] >= len(payload):
                    return self._goaway(PROTOCOL_ERROR)
                pad = payload[0]
                payload = payload[1 : len(payload) - pad]
            st.body += payload
            if flow_len:
                # replenish both receive windows so clients never stall
                upd = struct.pack(">I", flow_len)
                self._send(pack_frame(WINDOW_UPDATE, 0, 0, upd))
                self._send(pack_frame(WINDOW_UPDATE, 0, stream_id, upd))
            if flags & END_STREAM:
                st.complete = True
                self._respond(stream_id)
            return False
        # unknown frame types are ignored per RFC 9113 §4.1
        return False

    def _apply_settings(self, payload: bytes) -> None:
        for i in range(0, len(payload) - 5, 6):
            ident = int.from_bytes(payload[i : i + 2], "big")
            value = int.from_bytes(payload[i + 2 : i + 6], "big")
            if ident == SETTINGS_MAX_FRAME_SIZE:
                self.peer_max_frame = value
            elif ident == SETTINGS_INITIAL_WINDOW_SIZE:
                delta = value - self.peer_initial_window
                self.peer_initial_window = value
                for st in self.streams.values():
                    st.send_window += delta
                if delta > 0:
                    # a raised initial window can unblock responses
                    # stalled on stream flow control — flush now rather
                    # than waiting for an unrelated WINDOW_UPDATE
                    self._flush_pending()

    def _finish_headers(self) -> None:
        stream_id = self._hdr_stream
        flags = self._hdr_flags
        headers = self.decoder.decode(bytes(self._hdr_block))
        self._hdr_stream = None
        self._hdr_block = bytearray()
        st = self.streams.get(stream_id)
        if st is None or st.complete:
            # new request stream (trailers on a complete stream are
            # ignored — gRPC clients don't send any)
            st = _Stream(self.peer_initial_window)
            self.streams[stream_id] = st
        st.headers.extend(headers)
        if flags & END_STREAM:
            st.complete = True
            self._respond(stream_id)

    # -- response path -------------------------------------------------------

    def _respond(self, stream_id: int) -> None:
        st = self.streams[stream_id]
        status, headers, finish = self.handler(st.headers, bytes(st.body))
        # the response HEADERS go out before the request's work runs: a
        # slow request shows at once that its response has started
        hdr_block = hpackc.encode_headers(
            [(":status", str(status)), *headers]
        )
        self._send(pack_frame(HEADERS, END_HEADERS, stream_id, hdr_block))
        body, trailers = finish()
        self.pending.append([stream_id, bytearray(body), trailers])
        self._flush_pending()

    def _flush_pending(self) -> None:
        done = []
        for item in self.pending:
            stream_id, body, trailers = item
            st = self.streams.get(stream_id)
            if st is None:
                done.append(item)
                continue
            while body:
                n = min(
                    len(body), self.peer_max_frame,
                    self.conn_send_window, st.send_window,
                )
                if n <= 0:
                    break
                chunk = bytes(body[:n])
                del body[:n]
                self.conn_send_window -= n
                st.send_window -= n
                self._send(pack_frame(DATA, 0, stream_id, chunk))
            if body:
                continue  # stalled on flow control; WINDOW_UPDATE resumes
            if trailers is not None:
                self._send(
                    pack_frame(
                        HEADERS,
                        END_HEADERS | END_STREAM,
                        stream_id,
                        hpackc.encode_headers(trailers),
                    )
                )
            else:
                self._send(pack_frame(DATA, END_STREAM, stream_id, b""))
            self.streams.pop(stream_id, None)
            done.append(item)
        self.pending = [p for p in self.pending if p not in done]


def make_server_tls_context(certfile: str, keyfile: str):
    """TLS server context for gRPC's "grpcs" profile: TLS ≥ 1.2 with
    ALPN advertising ``h2`` (RFC 7301 — what ``grpc.secure_channel``
    and ``curl --http2`` negotiate). Pure stdlib ``ssl``."""
    import ssl

    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.minimum_version = ssl.TLSVersion.TLSv1_2
    ctx.load_cert_chain(certfile, keyfile)
    ctx.set_alpn_protocols(["h2"])
    return ctx


class H2Server:
    """Threaded HTTP/2 server: one ``H2Connection`` per accepted
    socket, requests dispatched to ``handler``. Cleartext (h2c, prior
    knowledge) by default; pass ``ssl_context``
    (``make_server_tls_context``) for TLS+ALPN ("grpcs") — the
    handshake happens per connection, and a client that negotiates an
    ALPN protocol other than ``h2`` is refused (no ALPN at all is
    accepted as prior knowledge, the curl ``--http2-prior-knowledge``
    over TLS form)."""

    def __init__(
        self, handler, host: str = "127.0.0.1", port: int = 0,
        ssl_context=None,
    ):
        outer_handler = handler
        outer_ssl = ssl_context

        class _ConnHandler(socketserver.BaseRequestHandler):
            def handle(self):
                sock = self.request
                if outer_ssl is not None:
                    import ssl as _ssl

                    try:
                        sock = outer_ssl.wrap_socket(sock, server_side=True)
                    except (_ssl.SSLError, OSError):
                        return  # failed handshake: drop the connection
                    alpn = sock.selected_alpn_protocol()
                    if alpn is not None and alpn != "h2":
                        sock.close()
                        return
                H2Connection(sock, outer_handler).run()

        class _Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._srv = _Server((host, port), _ConnHandler)
        self.host, self.port = self._srv.server_address
        self._thread: threading.Thread | None = None

    def start(self) -> "H2Server":
        self._thread = threading.Thread(
            target=self._srv.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
