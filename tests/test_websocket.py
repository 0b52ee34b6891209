"""RFC 6455 layer (sources/websocket.py) — the one wire of the live
source, the literal WebSocket transport the reference speaks
(scraper.py:177-246, keepalive :208-216): handshake accept-hash vectors,
masked-frame encode/decode at every payload-length form, ping→pong
keepalive, fragmentation reassembly, the latest-seq control query, and
the fleet reader's exactly-once drain over two ws shards. The
single-endpoint stream contracts live in test_socket_source.py."""

from __future__ import annotations

import socket
import struct
import threading

import pytest

from dexscraper_spark.sources.binary import make_frame, sample_pairs
from dexscraper_spark.sources.socket_source import (
    fetch_frames, query_latest_seq)
from dexscraper_spark.sources.websocket import (
    OP_BINARY, OP_PING, OP_TEXT, WsFrameSocketServer, accept_key,
    client_handshake, recv_message, send_frame, server_handshake)


def _payloads(n, pairs=4):
    return [make_frame(sample_pairs(pairs, seed=i % 13)) for i in range(n)]


def test_accept_key_rfc_vector():
    # the worked example from RFC 6455 §1.3
    assert accept_key("dGhlIHNhbXBsZSBub25jZQ==") == \
        "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="


def _sock_pair():
    a, b = socket.socketpair()
    return a, b


@pytest.mark.parametrize("size", [0, 5, 125, 126, 300, 65535, 65536, 70000])
def test_frame_roundtrip_all_length_forms(size):
    """7-bit, 16-bit and 64-bit payload-length encodings, client-masked,
    must decode bit-identically on the peer."""
    a, b = _sock_pair()
    try:
        payload = bytes(i % 251 for i in range(size))
        send_frame(a, payload, opcode=OP_BINARY, mask=True)
        opcode, got = recv_message(b.makefile("rb"), b, mask_replies=False)
        assert opcode == OP_BINARY and got == payload
    finally:
        a.close()
        b.close()


def test_unmasked_server_frame_roundtrip():
    a, b = _sock_pair()
    try:
        send_frame(a, b"hello", opcode=OP_TEXT, mask=False)
        opcode, got = recv_message(b.makefile("rb"), b, mask_replies=True)
        assert opcode == OP_TEXT and got == b"hello"
    finally:
        a.close()
        b.close()


def test_ping_is_answered_with_matching_pong():
    """The keepalive envelope: a ping arriving before a data message must
    be answered with a pong echoing its payload, transparently."""
    a, b = _sock_pair()
    try:
        send_frame(a, b"keepalive-probe", opcode=OP_PING, mask=False)
        send_frame(a, b"data", opcode=OP_BINARY, mask=False)
        opcode, got = recv_message(b.makefile("rb"), b, mask_replies=True)
        # the ping was consumed transparently; the data message came out
        assert (opcode, got) == (OP_BINARY, b"data")
    finally:
        a.close()
        b.close()


def test_pong_echo_payload_raw():
    """Read the pong at the frame level to pin opcode, mask bit and
    payload echo."""
    a, b = _sock_pair()
    try:
        send_frame(a, b"probe", opcode=OP_PING, mask=False)
        send_frame(a, b"d", opcode=OP_BINARY, mask=False)
        recv_message(b.makefile("rb"), b, mask_replies=True)  # pongs inline
        fh = a.makefile("rb")
        b1, b2 = fh.read(1)[0], fh.read(1)[0]
        assert b1 & 0x0F == 0xA and b1 & 0x80          # pong, FIN
        assert b2 & 0x80                               # masked (client)
        n = b2 & 0x7F
        mk = fh.read(4)
        data = bytes(x ^ mk[i % 4] for i, x in enumerate(fh.read(n)))
        assert data == b"probe"
    finally:
        a.close()
        b.close()


def test_fragmented_message_reassembly():
    a, b = _sock_pair()
    try:
        msg = b"0123456789abcdefghij"
        a.sendall(bytes([OP_BINARY, 10]) + msg[:10])          # FIN=0
        a.sendall(bytes([0x80 | 0x0, 10]) + msg[10:])         # FIN=1 cont
        opcode, got = recv_message(b.makefile("rb"), b, mask_replies=False)
        assert opcode == OP_BINARY and got == msg
    finally:
        a.close()
        b.close()


def test_handshake_client_server_pair():
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    result = {}

    def serve():
        conn, _ = srv.accept()
        result["fh"] = server_handshake(conn)
        send_frame(conn, b"ok", opcode=OP_BINARY, mask=False)
        conn.close()

    t = threading.Thread(target=serve)
    t.start()
    try:
        sk = socket.create_connection(("127.0.0.1", port))
        fh = client_handshake(sk, "127.0.0.1")
        opcode, got = recv_message(fh, sk, mask_replies=True)
        assert (opcode, got) == (OP_BINARY, b"ok")
        sk.close()
    finally:
        t.join()
        srv.close()


def test_handshake_rejects_wrong_accept():
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        conn.recv(4096)
        conn.sendall(b"HTTP/1.1 101 Switching Protocols\r\n"
                     b"Upgrade: websocket\r\nConnection: Upgrade\r\n"
                     b"Sec-WebSocket-Accept: bogus\r\n\r\n")
        conn.close()

    t = threading.Thread(target=serve)
    t.start()
    try:
        sk = socket.create_connection(("127.0.0.1", port))
        with pytest.raises(ConnectionError, match="Accept"):
            client_handshake(sk, "127.0.0.1")
        sk.close()
    finally:
        t.join()
        srv.close()


def test_ws_fetch_over_real_server_with_drops_and_fragments():
    """fetch_frames against the ws server: handshake,
    mid-stream ping, fragmented data messages, every connection dropped
    after 2 frames with no close frame — resume must still deliver each
    seq exactly once, in order."""
    srv = WsFrameSocketServer(_payloads(7), fail_after_frames=2,
                              fragment_data=True).start()
    try:
        frames = fetch_frames("127.0.0.1", srv.port, 0, 7,
                              backoff_base=0.02)
        assert [s for s, _ in frames] == list(range(7))
        assert frames[3][1] == srv.payloads[3]
    finally:
        srv.kill()


def test_ws_latest_seq_query():
    srv = WsFrameSocketServer(_payloads(4)).start()
    try:
        assert query_latest_seq("127.0.0.1", srv.port) == 4
        srv.append(_payloads(1)[0])
        assert query_latest_seq("127.0.0.1", srv.port) == 5
    finally:
        srv.kill()


def test_spark_fleet_over_ws_transport(spark, tmp_path):
    """The partitioned fleet reader over two ws shard servers (one
    flaky): executor-side subscriptions, exactly-once globally."""
    from pyspark.sql import functions as F

    from dexscraper_spark.sources.frame_source import register_frame_source
    from dexscraper_spark.sources.socket_source import SHARD_STRIDE

    register_frame_source(spark)
    a = WsFrameSocketServer(_payloads(4)).start()
    b = WsFrameSocketServer(_payloads(3), fail_after_frames=1).start()
    try:
        q = (spark.readStream.format("dexframes")
             .option("endpoints", f"127.0.0.1:{a.port},127.0.0.1:{b.port}")
             .option("frames_per_batch", "4")
             .option("max_frames", "4")
             .option("backoff_base_s", "0.02")
             .load()
             .writeStream.format("memory").queryName("ws_fleet_mem")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180)
        got = (spark.table("ws_fleet_mem")
               .groupBy("msg_id", "record_position")
               .agg(F.count(F.lit(1)).alias("n")).collect())
        seqs = {0: set(), 1: set()}
        for r in got:
            assert r["n"] == 1
            seqs[r["msg_id"] // SHARD_STRIDE].add(r["msg_id"] % SHARD_STRIDE)
        assert seqs[0] == set(range(4)) and seqs[1] == set(range(3))
    finally:
        a.kill()
        b.kill()
