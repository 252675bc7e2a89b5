"""Clients for graft's two server protocols.

`LineClient` speaks the line protocol (one CLI argument vector per line,
one JSON object per reply). `BinClient` speaks the framed binary protocol:
a 16-byte little-endian header (magic 'KAUL', version 1, message type,
payload size) and fixed-layout payloads, as laid out in
`graft.api.BinaryProtocol`.
"""

import json
import socket
import struct

MAGIC = 0x4B41554C
HEADER = struct.Struct("<IHHQ")

FIND, SHOW_CALLERS, SHOW_CALLEES, TRACE = 0x0001, 0x0002, 0x0003, 0x0004
STATUS, PING = 0x0008, 0x0009
FIND_RESP, SHOW_RESP, TRACE_RESP = 0x8001, 0x8002, 0x8003
STATUS_RESP, PONG, ERROR = 0x8005, 0x8006, 0xFFFF

MAX_QUERY = 2048
BLOCK_INFO = 536
TRACE_PATH = 256 * 16 + 4


class ServerError(Exception):
    pass


def _fixed(text, cap):
    b = text.encode("utf-8")[:cap]
    return b + b"\x00" * (cap - len(b)), len(b)


class LineClient:
    def __init__(self, port, timeout=170):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        self.rf = self.sock.makefile("r", encoding="utf-8")

    def request(self, line):
        """Send one request line; return the result rows or raise."""
        self.sock.sendall((line + "\n").encode("utf-8"))
        reply = self.rf.readline()
        if not reply:
            raise ServerError("connection closed")
        msg = json.loads(reply)
        if not msg.get("ok"):
            raise ServerError(msg.get("error", "error"))
        return msg["result"]

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass


class BinClient:
    def __init__(self, port, timeout=170):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)

    def _read(self, n):
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(min(n - len(buf), 1 << 20))
            if not chunk:
                raise ServerError("connection closed")
            buf += chunk
        return bytes(buf)

    def _call(self, msg_type, payload, want):
        self.sock.sendall(HEADER.pack(MAGIC, 1, msg_type, len(payload)) + payload)
        magic, _, rtype, size = HEADER.unpack(self._read(HEADER.size))
        if magic != MAGIC:
            raise ServerError("bad magic")
        body = self._read(size)
        if rtype == ERROR:
            code, = struct.unpack_from("<i", body)
            mlen, = struct.unpack_from("<H", body, 260)
            raise ServerError("error %d: %s" % (code, body[4:4 + mlen].decode()))
        if rtype != want:
            raise ServerError("unexpected response type 0x%04x" % rtype)
        return body

    def ping(self):
        self._call(PING, b"", PONG)

    def find(self, query, max_results=10):
        q, qlen = _fixed(query, MAX_QUERY)
        body = self._call(FIND, struct.pack("<HHB3x", qlen, max_results, 1) + q,
                          FIND_RESP)
        return self._blocks(body, 4, struct.unpack_from("<i", body)[0])

    def show(self, relation, target, depth):
        t, tlen = _fixed(target, MAX_QUERY)
        msg = SHOW_CALLERS if relation == "callers" else SHOW_CALLEES
        body = self._call(msg, t + struct.pack("<HHi", tlen, depth, 1000), SHOW_RESP)
        return self._blocks(body, 8, struct.unpack_from("<i", body)[0])

    def trace(self, direction, target, depth):
        """Callees of `target` (sent as source) or its callers (as target)."""
        src, tgt = (target, "") if direction == "callees" else ("", target)
        s, slen = _fixed(src, MAX_QUERY)
        t, tlen = _fixed(tgt, MAX_QUERY)
        payload = (s + struct.pack("<H", slen) + t +
                   struct.pack("<HHBx", tlen, depth, 0))
        body = self._call(TRACE, payload, TRACE_RESP)
        n, = struct.unpack_from("<H", body)
        paths = []
        for i in range(n):
            off = 2 + i * TRACE_PATH
            count, dist = struct.unpack_from("<HH", body, off + 256 * 16)
            nodes = [body[off + k * 16: off + (k + 1) * 16].hex()
                     for k in range(count)]
            paths.append((nodes, dist))
        return paths

    def status(self):
        body = self._call(STATUS, b"", STATUS_RESP)
        blocks, edges = struct.unpack_from("<qq", body)
        return blocks, edges

    @staticmethod
    def _blocks(body, start, count):
        """[(id, uri)] of a find/show response."""
        out = []
        for i in range(count):
            off = start + i * BLOCK_INFO
            ulen, = struct.unpack_from("<H", body, off + 16 + 256)
            out.append((body[off:off + 16].hex(),
                        body[off + 16:off + 16 + ulen].decode("utf-8")))
        return out

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass
