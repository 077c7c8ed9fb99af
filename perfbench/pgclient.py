"""Minimal PostgreSQL v3 client: startup without authentication and the
simple-query protocol, as much as the benchmark's load generator needs."""

import socket
import struct


class PgError(Exception):
    pass


class PgConn:
    def __init__(self, host, port, user="bench", database="graft", timeout=60.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rfile = self.sock.makefile("rb", buffering=1 << 16)
        self.bytes_in = 0
        body = struct.pack("!i", 196608) + b"".join(
            k.encode() + b"\0" + v.encode() + b"\0"
            for k, v in (("user", user), ("database", database))) + b"\0"
        self.sock.sendall(struct.pack("!i", len(body) + 4) + body)
        while True:
            kind, payload = self._read()
            if kind == b"E":
                raise PgError(self._error(payload))
            if kind == b"Z":
                break

    def _read(self):
        head = self.rfile.read(5)
        if len(head) < 5:
            raise PgError("connection closed")
        kind, length = head[:1], struct.unpack("!i", head[1:])[0]
        payload = self.rfile.read(length - 4)
        self.bytes_in += 5 + len(payload)
        return kind, payload

    @staticmethod
    def _error(payload):
        fields = {}
        for part in payload.split(b"\0"):
            if part:
                fields[chr(part[0])] = part[1:].decode("utf-8", "replace")
        return f"{fields.get('C', '?')}: {fields.get('M', '')}"

    def query(self, sql):
        """Run one simple query; returns (rows as tuples of str/None,
        bytes received). Raises PgError on an ErrorResponse, after reading
        through ReadyForQuery so the connection stays usable."""
        body = sql.encode() + b"\0"
        self.sock.sendall(b"Q" + struct.pack("!i", len(body) + 4) + body)
        start = self.bytes_in
        rows, error = [], None
        while True:
            kind, payload = self._read()
            if kind == b"D":
                n = struct.unpack("!h", payload[:2])[0]
                pos, row = 2, []
                for _ in range(n):
                    ln = struct.unpack("!i", payload[pos:pos + 4])[0]
                    pos += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(payload[pos:pos + ln].decode())
                        pos += ln
                rows.append(tuple(row))
            elif kind == b"E":
                error = self._error(payload)
            elif kind == b"Z":
                break
        if error is not None:
            raise PgError(error)
        return rows, self.bytes_in - start

    def close(self):
        try:
            self.sock.sendall(b"X" + struct.pack("!i", 4))
        except OSError:
            pass
        self.rfile.close()
        self.sock.close()
