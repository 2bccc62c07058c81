"""Result-set fetch façade (≙ the reference's ``RS`` message path:
packet format ``src/client/oph_io_client_interface.h:42-47``, server
serialization loop ``src/server/execs/oph_io_server_thread.c:336-462``).

The reference materializes the session result set, then streams it to the
client as packets of at most ``MAX_PACKET_LEN`` bytes (conf default 4 MB):
nrows, nfields, then per-cell ``len`` + bytes with numbers stringified.

Spark-first re-expression: rows come off ``toLocalIterator()`` (one partition
at a time crosses the driver — the fetch is O(packet) memory, never a full
``collect()``), cells are encoded the same way (numbers stringified, arrays
as packed little-endian float64 — the reference's binary ``measure`` blob),
and packets are framed at ``max_packet_len``.  ``deserialize_packets`` is the
client side; round-tripping is exercised in tests.

Framing (per packet): 4-byte big-endian row count, then rows; each row:
4-byte cell count, then cells; each cell: 1-byte type tag (L/D/S/B/N),
4-byte length, bytes.  A zero-row packet terminates the stream; the first
packet is preceded by an 8-byte header (4-byte nfields, 4-byte reserved).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame

MAX_PACKET_LEN = 4_000_000  # etc/oph_ioserver.conf:5
FLOAT_FMT = "%.12g"         # reference stringifies doubles with %.*f


def _encode_cell(v) -> bytes:
    if v is None:
        return b"N" + struct.pack(">i", 0)
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, int):
        b = b"%d" % v
        return b"L" + struct.pack(">i", len(b)) + b
    if isinstance(v, float):
        b = (FLOAT_FMT % v).encode()
        return b"D" + struct.pack(">i", len(b)) + b
    if isinstance(v, (list, tuple)):
        b = struct.pack(f"<{len(v)}d", *[float(x) for x in v])
        return b"B" + struct.pack(">i", len(b)) + b
    b = str(v).encode()
    return b"S" + struct.pack(">i", len(b)) + b


def serialize_result_set(df: DataFrame, max_packet_len: int = MAX_PACKET_LEN
                         ) -> Iterator[bytes]:
    """Yield framed packets for a result DataFrame (streamed, not collected)."""
    nfields = len(df.columns)
    header = struct.pack(">ii", nfields, 0)
    first = True
    buf: list[bytes] = []
    buf_len = 0
    nrows = 0

    def flush():
        nonlocal buf, buf_len, nrows, first
        pkt = struct.pack(">i", nrows) + b"".join(buf)
        out = (header + pkt) if first else pkt
        first = False
        buf, buf_len, nrows = [], 0, 0
        return out

    for row in df.toLocalIterator():
        cells = b"".join(_encode_cell(v) for v in row)
        rec = struct.pack(">i", len(row)) + cells
        if buf and buf_len + len(rec) > max_packet_len:
            yield flush()
        buf.append(rec)
        buf_len += len(rec)
        nrows += 1
    if buf:
        yield flush()
    elif first:
        yield header  # empty result: the header, then only the terminator
    yield struct.pack(">i", 0)  # terminator


def deserialize_packets(packets) -> tuple[int, list[list]]:
    """Client-side decode → (nfields, rows).  Inverse of serialize."""
    data = b"".join(packets)
    nfields, _ = struct.unpack_from(">ii", data, 0)
    off = 8
    rows: list[list] = []
    while off < len(data):
        (nrows,) = struct.unpack_from(">i", data, off)
        off += 4
        if nrows == 0:
            break
        for _ in range(nrows):
            (ncells,) = struct.unpack_from(">i", data, off)
            off += 4
            row = []
            for _ in range(ncells):
                tag = data[off:off + 1]
                (ln,) = struct.unpack_from(">i", data, off + 1)
                off += 5
                raw = data[off:off + ln]
                off += ln
                if tag == b"N":
                    row.append(None)
                elif tag == b"L":
                    row.append(int(raw))
                elif tag == b"D":
                    row.append(float(raw))
                elif tag == b"B":
                    row.append(list(struct.unpack(f"<{ln // 8}d", raw)))
                else:
                    row.append(raw.decode())
            rows.append(row)
    return nfields, rows
