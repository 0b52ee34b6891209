"""RFC 6455 (WebSocket) — the one wire of the live source, the literal
transport the reference speaks (scraper.py:177-246 holds a long-lived
WebSocket subscription; :208-216 its ping/pong keepalive envelope).
Implemented from the public spec, from scratch:

* client handshake (Sec-WebSocket-Key → Sec-WebSocket-Accept check),
* frame encode/decode — FIN/opcode, 7/16/64-bit payload lengths,
  client-side masking (mandatory per spec), fragmentation reassembly,
* control frames: ping answered with pong inline (the keepalive), close
  and clean EOF distinguished from a mid-stream drop.

This module owns the whole subscription protocol on top:

* client → server: one JSON text message ``{"start_seq": N,
  "max_frames": K}``, or the control query ``{"latest": true}`` →
  one text message ``{"latest_seq": N}`` (the seq one past the newest
  frame);
* server → client: data messages ``8-byte big-endian seq ‖ payload``,
  then the END marker, a message with ``seq = 2^64−1`` and no payload.
  A close frame or EOF *before* the END marker means the connection
  dropped; the END marker is what tells "no more frames right now" (a
  live tail returning a short batch) from a mid-stream failure.

``subscribe`` and ``latest_seq`` are the client half (one connection
each; ``socket_source`` wraps them in the reconnect/backoff envelope).
``WsFrameSocketServer`` is the server half: the local stand-in endpoint
(threaded, handshake + masked-client-frame decode + history replay +
fault injection).
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import socket
import struct
import threading

_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # fixed by RFC 6455 §1.3
END_SEQ = (1 << 64) - 1

OP_CONT, OP_TEXT, OP_BINARY = 0x0, 0x1, 0x2
OP_CLOSE, OP_PING, OP_PONG = 0x8, 0x9, 0xA


def accept_key(key: str) -> str:
    """Sec-WebSocket-Accept for a Sec-WebSocket-Key (RFC 6455 §4.2.2)."""
    digest = hashlib.sha1((key + _GUID).encode("ascii")).digest()
    return base64.b64encode(digest).decode("ascii")


def _read_headers(fh) -> dict[str, str]:
    headers: dict[str, str] = {}
    while True:
        line = fh.readline()
        if line in (b"\r\n", b"\n", b""):
            return headers
        k, _, v = line.decode("latin-1").partition(":")
        headers[k.strip().lower()] = v.strip()


def client_handshake(sock: socket.socket, host: str, path: str = "/"):
    """HTTP Upgrade from the client side; returns the buffered reader.
    Raises ConnectionError on a non-101 status or a wrong accept hash
    (a proxy or non-ws endpoint answering)."""
    key = base64.b64encode(os.urandom(16)).decode("ascii")
    sock.sendall((
        f"GET {path} HTTP/1.1\r\n"
        f"Host: {host}\r\n"
        "Upgrade: websocket\r\n"
        "Connection: Upgrade\r\n"
        f"Sec-WebSocket-Key: {key}\r\n"
        "Sec-WebSocket-Version: 13\r\n\r\n").encode("ascii"))
    fh = sock.makefile("rb")
    status = fh.readline()
    if b" 101 " not in status and not status.rstrip().endswith(b"101"):
        raise ConnectionError(f"ws handshake rejected: {status!r}")
    headers = _read_headers(fh)
    if headers.get("sec-websocket-accept") != accept_key(key):
        raise ConnectionError("ws handshake: bad Sec-WebSocket-Accept")
    return fh


def server_handshake(conn: socket.socket):
    """HTTP Upgrade from the server side; returns the buffered reader."""
    fh = conn.makefile("rb")
    request = fh.readline()
    if not request.startswith(b"GET "):
        raise ConnectionError(f"ws server: not an upgrade request "
                              f"{request!r}")
    headers = _read_headers(fh)
    key = headers.get("sec-websocket-key")
    if not key or headers.get("upgrade", "").lower() != "websocket":
        raise ConnectionError("ws server: missing upgrade headers")
    conn.sendall((
        "HTTP/1.1 101 Switching Protocols\r\n"
        "Upgrade: websocket\r\n"
        "Connection: Upgrade\r\n"
        f"Sec-WebSocket-Accept: {accept_key(key)}\r\n\r\n").encode("ascii"))
    return fh


def send_frame(sock: socket.socket, payload: bytes, *,
               opcode: int = OP_BINARY, mask: bool,
               fin: bool = True) -> None:
    """One frame (``fin=False`` starts a fragmented message; continue
    with ``opcode=OP_CONT``). ``mask=True`` for the client side
    (mandatory per §5.3), False for the server side."""
    hdr = bytearray([(0x80 if fin else 0) | opcode])
    n = len(payload)
    mbit = 0x80 if mask else 0
    if n < 126:
        hdr.append(mbit | n)
    elif n < (1 << 16):
        hdr.append(mbit | 126)
        hdr += n.to_bytes(2, "big")
    else:
        hdr.append(mbit | 127)
        hdr += n.to_bytes(8, "big")
    if mask:
        mk = os.urandom(4)
        hdr += mk
        payload = bytes(b ^ mk[i % 4] for i, b in enumerate(payload))
    sock.sendall(bytes(hdr) + payload)


def recv_message(fh, sock: socket.socket, *,
                 mask_replies: bool) -> tuple[int, bytes]:
    """Read ONE complete message: reassembles continuation fragments,
    answers ping with pong inline (the reference's keepalive envelope,
    scraper.py:208-216), skips pongs. Returns (opcode, payload);
    opcode OP_CLOSE means the peer closed cleanly. EOF mid-frame raises
    ConnectionError — that is the 'dropped without close' signal the
    reconnect loop keys on."""
    parts: list[bytes] = []
    first_opcode: int | None = None
    while True:
        b12 = fh.read(2)
        if len(b12) < 2:
            raise ConnectionError("ws: connection dropped mid-frame")
        fin, opcode = b12[0] & 0x80, b12[0] & 0x0F
        masked, n = b12[1] & 0x80, b12[1] & 0x7F
        if n == 126:
            ext = fh.read(2)
            if len(ext) < 2:
                raise ConnectionError("ws: dropped in extended length")
            n = int.from_bytes(ext, "big")
        elif n == 127:
            ext = fh.read(8)
            if len(ext) < 8:
                raise ConnectionError("ws: dropped in extended length")
            n = int.from_bytes(ext, "big")
        mk = None
        if masked:
            mk = fh.read(4)
            if len(mk) < 4:
                raise ConnectionError("ws: dropped in masking key")
        data = fh.read(n)
        if len(data) < n:
            raise ConnectionError("ws: truncated frame payload")
        if mk:
            data = bytes(b ^ mk[i % 4] for i, b in enumerate(data))
        if opcode == OP_PING:
            send_frame(sock, data, opcode=OP_PONG, mask=mask_replies)
            continue
        if opcode == OP_PONG:
            continue
        if opcode == OP_CLOSE:
            return OP_CLOSE, data
        if opcode in (OP_TEXT, OP_BINARY):
            first_opcode = opcode
        parts.append(data)
        if fin:
            return (first_opcode if first_opcode is not None else OP_CONT,
                    b"".join(parts))


def subscribe(host: str, port: int, start_seq: int, want: int):
    """One subscription connection: yields (seq, payload) from
    ``start_seq``; RETURNS on the END marker or after ``want`` frames;
    raises ConnectionError (an OSError) on a close frame or EOF before
    the END marker — the caller's retry loop owns reconnection."""
    with socket.create_connection((host, port), timeout=10.0) as sk:
        fh = client_handshake(sk, host)
        send_frame(sk, json.dumps(
            {"start_seq": start_seq, "max_frames": want},
        ).encode("utf-8"), opcode=OP_TEXT, mask=True)
        got = 0
        while got < want:
            opcode, msg = recv_message(fh, sk, mask_replies=True)
            if opcode == OP_CLOSE:
                raise ConnectionError("ws closed before END marker")
            if len(msg) < 8:
                raise ConnectionError("ws: short data message")
            seq = int.from_bytes(msg[:8], "big")
            if seq == END_SEQ:
                return
            yield seq, msg[8:]
            got += 1


def latest_seq(host: str, port: int) -> int:
    """One control-query connection: the server's current history length
    (the seq one past the newest frame)."""
    with socket.create_connection((host, port), timeout=10.0) as sk:
        fh = client_handshake(sk, host)
        send_frame(sk, b'{"latest": true}', opcode=OP_TEXT, mask=True)
        opcode, msg = recv_message(fh, sk, mask_replies=True)
        if opcode == OP_CLOSE:
            raise ConnectionError("ws closed on latest query")
        return int(json.loads(msg.decode("utf-8"))["latest_seq"])


class WsFrameSocketServer:
    """Threaded local WebSocket frame server: real RFC 6455 handshake,
    masked-client-frame decode, history replay from any seq, a ping
    mid-stream (so clients must implement the keepalive), END-marker
    completion, and ``fail_after_frames`` fault injection (drop with no
    close frame). ``kill()`` closes the listener and every live
    connection (the mid-stream crash); a new instance on the same port
    models the endpoint coming back."""

    def __init__(self, payloads, host: str = "127.0.0.1", port: int = 0,
                 fail_after_frames: int | None = None,
                 fragment_data: bool = False):
        self.payloads = list(payloads)
        self.fail_after = fail_after_frames
        self.fragment_data = fragment_data
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        if hasattr(socket, "SO_REUSEPORT"):
            # REUSEADDR only covers TIME_WAIT; a crash-restart while old
            # child connections linger in ESTABLISHED/CLOSE_WAIT needs
            # REUSEPORT to rebind the listener immediately
            self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEPORT, 1)
        self._sock.bind((host, port))
        self._sock.listen(16)
        self.host, self.port = self._sock.getsockname()
        self._stop = False
        self._conns: list[socket.socket] = []
        self._thread: threading.Thread | None = None

    def start(self) -> "WsFrameSocketServer":
        self._thread = threading.Thread(target=self._accept_loop,
                                        daemon=True)
        self._thread.start()
        return self

    def append(self, payload: bytes) -> None:
        """Grow the live history. list.append is atomic under the GIL and
        _serve reads len() per request, so a concurrent append is simply
        not yet visible to an in-flight subscription."""
        self.payloads.append(payload)

    def _accept_loop(self):
        while not self._stop:
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            self._conns.append(conn)
            threading.Thread(target=self._serve, args=(conn,),
                             daemon=True).start()

    def _send_data(self, conn, message: bytes):
        if self.fragment_data and len(message) > 16:
            # exercise client-side reassembly: first fragment (FIN=0,
            # opcode=binary) + continuation (FIN=1, opcode=0)
            cut = len(message) // 2
            send_frame(conn, message[:cut], opcode=OP_BINARY, mask=False,
                       fin=False)
            send_frame(conn, message[cut:], opcode=OP_CONT, mask=False)
        else:
            send_frame(conn, message, opcode=OP_BINARY, mask=False)

    def _serve(self, conn: socket.socket):
        try:
            fh = server_handshake(conn)
            opcode, req_raw = recv_message(fh, conn, mask_replies=False)
            if opcode == OP_CLOSE:
                return
            req = json.loads(req_raw.decode("utf-8"))
            if req.get("latest"):
                send_frame(conn, json.dumps(
                    {"latest_seq": len(self.payloads)}).encode("utf-8"),
                    opcode=OP_TEXT, mask=False)
                return
            s = int(req.get("start_seq", 0))
            m = int(req.get("max_frames", 1 << 30))
            sent = 0
            for seq in range(s, min(len(self.payloads), s + m)):
                if self.fail_after is not None and sent >= self.fail_after:
                    return  # abrupt drop: no close frame, no END marker
                if sent == 1:
                    # keepalive probe mid-stream: a client that does not
                    # answer pings would be dropped by a real endpoint
                    send_frame(conn, b"ka", opcode=OP_PING, mask=False)
                self._send_data(conn, struct.pack(">Q", seq)
                                + self.payloads[seq])
                sent += 1
            self._send_data(conn, struct.pack(">Q", END_SEQ))
        except (OSError, ConnectionError, ValueError):
            pass  # client went away / handshake garbage; connection dies
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def kill(self):
        self._stop = True
        try:
            self._sock.close()
        except OSError:
            pass
        for c in self._conns:
            try:
                c.close()
            except OSError:
                pass
