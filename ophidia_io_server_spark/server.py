"""TCP query-server façade (≙ the reference's network surface:
thread-per-connection accept loop ``src/server/execs/oph_io_server.c:290-299``,
request loop ``oph_io_server_thread.c``).

A user of the reference talks to a socket: submit a dialect query, fetch the
result set.  This façade exposes the same interaction on top of the Spark
engine — one `IOServer` (catalog shared across connections, like the
reference's MetaDB), one thread per client, results streamed back as the
RS-packet framing from ``protocol.py``.

Wire format (new, documented — the reference's exact C wire structs are not
reproduced): each request is a 4-byte big-endian length + UTF-8 query string;
each response is 1 status byte (``K`` ok / ``E`` error) followed by, for ok
with a result set, the RS packet stream (terminated by its zero-row packet),
for ok without result an empty RS stream, and for errors a 4-byte length +
UTF-8 message.  ``QUIT`` closes the connection.

Memory contract: a result set is fetched with one Spark job, as one Arrow
table on the driver per request (``protocol.serialize_result_set``), bounded
by Spark's own ``spark.driver.maxResultSize``; the RS packets are then framed
from that table at ``MAX_PACKET_LEN`` bytes each.

Error contract: the whole result is collected, and its ORDER applied, before
the ``K`` status byte is sent, so every analysis, execution and encoding
error becomes a clean ``E`` frame and the connection stays usable.  After
``K`` only the socket itself can fail; the connection is then closed, and a
client must treat a truncated RS stream as a query failure.

This is a developer/parity façade: production deployments should front Spark
with Spark Connect / Livy-style services instead of a hand-rolled socket
protocol.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading

from pyspark.sql import SparkSession

from ophidia_io_server_spark import protocol
from ophidia_io_server_spark.operators.engine import IOServer
from ophidia_io_server_spark.protocol import TERMINATOR, serialize_result_set


def _read_exact(f, n: int) -> bytes:
    buf = f.read(n)
    if len(buf) < n:
        raise ConnectionError("peer closed")
    return buf


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed")
        buf += chunk
    return buf


class _Handler(socketserver.BaseRequestHandler):
    def handle(self) -> None:
        srv: IOServer = self.server.io_server  # type: ignore[attr-defined]
        lock: threading.Lock = self.server.catalog_lock  # type: ignore[attr-defined]
        while True:
            try:
                (ln,) = struct.unpack(">i", _recv_exact(self.request, 4))
                query = _recv_exact(self.request, ln).decode()
            except (ConnectionError, struct.error):
                return
            if query.strip().upper() == "QUIT":
                return
            try:
                params = self._read_binds()
                # catalog mutations are driver-side dict ops — serialize them
                # (≙ the reference's MetaDB rwlock); Spark jobs themselves are
                # thread-safe and run outside the lock via the returned plan
                with lock:
                    rs = srv.execute(query, params=params, result_set=True)
                # the first packet collects the whole result (one Spark job)
                # before 'K' is sent: every execution error becomes an 'E'
                pkt_iter = (serialize_result_set(rs) if rs is not None
                            else iter([struct.pack(">ii", 0, 0) + TERMINATOR]))
                first_pkt = next(pkt_iter)
            except Exception as e:  # noqa: BLE001 — wire boundary
                msg = f"{type(e).__name__}: {e}".encode()[:65536]
                self.request.sendall(b"E" + struct.pack(">i", len(msg)) + msg)
                continue
            self.request.sendall(b"K" + first_pkt)
            try:
                for pkt in pkt_iter:
                    self.request.sendall(pkt)
            except Exception:  # noqa: BLE001
                # only the socket can fail here (the client went away); the
                # client is mid-RS-parse, so this cannot become an 'E' frame
                self.request.close()
                return

    def _read_binds(self) -> dict[int, object]:
        """Typed ?N bind args following the query (≙ the reference EQ
        message's DL/DD/DV/DB sub-headers): 4-byte count, then per bind a
        1-byte tag + payload (L: 8-byte long; D: 8-byte double; S/B: 4-byte
        length + bytes; B decodes to a list of little-endian float64)."""
        (nbinds,) = struct.unpack(">i", _recv_exact(self.request, 4))
        params: dict[int, object] = {}
        for i in range(1, nbinds + 1):
            tag = _recv_exact(self.request, 1)
            if tag == b"L":
                (params[i],) = struct.unpack(">q", _recv_exact(self.request, 8))
            elif tag == b"D":
                (params[i],) = struct.unpack(">d", _recv_exact(self.request, 8))
            elif tag in (b"S", b"B"):
                (ln,) = struct.unpack(">i", _recv_exact(self.request, 4))
                raw = _recv_exact(self.request, ln)
                params[i] = (list(struct.unpack(f"<{ln // 8}d", raw))
                             if tag == b"B" else raw.decode())
            else:
                raise ValueError(f"bad bind tag {tag!r}")
        return params


class QueryServer(socketserver.ThreadingTCPServer):
    """Thread-per-connection dialect server bound to an in-process Spark."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, spark: SparkSession, host: str = "127.0.0.1", port: int = 0):
        super().__init__((host, port), _Handler)
        self.io_server = IOServer(spark)
        self.catalog_lock = threading.Lock()

    @property
    def address(self) -> tuple[str, int]:
        return self.server_address  # type: ignore[return-value]

    def serve_background(self) -> threading.Thread:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return t


class QueryClient:
    """Minimal client for QueryServer (test/demo counterpart of the
    reference's oph_io_client)."""

    def __init__(self, host: str, port: int):
        self.sock = socket.create_connection((host, port))

    def execute(self, query: str, params: dict[int, object] | None = None):
        q = query.encode()
        frames = [struct.pack(">i", len(q)) + q]
        params = params or {}
        frames.append(struct.pack(">i", len(params)))
        for i in sorted(params):
            v = params[i]
            if isinstance(v, bool) or isinstance(v, int):
                frames.append(b"L" + struct.pack(">q", int(v)))
            elif isinstance(v, float):
                frames.append(b"D" + struct.pack(">d", v))
            elif isinstance(v, (list, tuple)):
                raw = struct.pack(f"<{len(v)}d", *[float(x) for x in v])
                frames.append(b"B" + struct.pack(">i", len(raw)) + raw)
            else:
                raw = str(v).encode()
                frames.append(b"S" + struct.pack(">i", len(raw)) + raw)
        self.sock.sendall(b"".join(frames))
        with self.sock.makefile("rb") as f:  # buffered: no recv per cell header
            status = _read_exact(f, 1)
            if status == b"E":
                (ln,) = struct.unpack(">i", _read_exact(f, 4))
                raise RuntimeError(_read_exact(f, ln).decode())
            # RS stream: header, then packets until the zero-row terminator
            raw = [_read_exact(f, 8)]
            while True:
                count_b = _read_exact(f, 4)
                raw.append(count_b)
                (nrows,) = struct.unpack(">i", count_b)
                if nrows == 0:
                    break
                for _ in range(nrows):
                    nc_b = _read_exact(f, 4)
                    raw.append(nc_b)
                    for _ in range(struct.unpack(">i", nc_b)[0]):
                        head = _read_exact(f, 5)
                        raw.append(head)
                        raw.append(_read_exact(f, struct.unpack(">i", head[1:])[0]))
        return protocol.deserialize_packets([b"".join(raw)])

    def close(self) -> None:
        try:
            q = b"QUIT"
            self.sock.sendall(struct.pack(">i", len(q)) + q)
        finally:
            self.sock.close()
