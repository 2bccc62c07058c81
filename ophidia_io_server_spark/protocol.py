"""Result-set fetch façade (≙ the reference's ``RS`` message path:
packet format ``src/client/oph_io_client_interface.h:42-47``, server
serialization loop ``src/server/execs/oph_io_server_thread.c:336-462``).

The reference materializes the session result set, orders it in the server,
then streams it to the client as packets of at most ``MAX_PACKET_LEN`` bytes
(conf default 4 MB): nrows, nfields, then per-cell ``len`` + bytes with
numbers stringified.

Spark-first re-expression: one fetch is one Spark job.  The result frame is
materialized with ``DataFrame.toArrow()`` (partition order kept), a wire
fetch's ORDER is applied to that Arrow table on the driver, cells are
encoded (numbers stringified, arrays as packed little-endian float64 — the
reference's binary ``measure`` blob, read straight from the Arrow offsets
and values buffers), and packets are framed at ``max_packet_len``.
``deserialize_packets`` is the client side; round-tripping is exercised in
tests.

Memory contract: the driver holds one Arrow table per request, plus the
encoded bytes of one Arrow record batch at a time.  The collect is bounded
by Spark's own ``spark.driver.maxResultSize``, like any ``collect()``.

Error contract: the collect runs at the generator's first ``next()``, and
every column type is checked there, so execution and encoding errors raise
before the first packet is produced; later packets cannot fail.

Order contract (``ResultSet.order_by``): ascending, NULLs first, NaN after
every number, ``-0.0`` equal to ``0.0``, ties in partition order — Spark's
``ASC NULLS FIRST``.  ``ResultSet.ordered()`` gives the same order as a
Spark sort for in-process callers.

Framing (per packet): 4-byte big-endian row count, then rows; each row:
4-byte cell count, then cells; each cell: 1-byte type tag (L/D/S/B/N),
4-byte length, bytes.  A zero-row packet terminates the stream; the first
packet is preceded by an 8-byte header (4-byte nfields, 4-byte reserved).
Cell text is what ``_encode_cell`` makes of the value ``DataFrame.collect()``
returns (TIMESTAMP as naive local time, DECIMAL rebuilt from Java's
engineering string).  Arrays are numeric; a NULL element inside one is sent
as NaN: a packed double array has no NULL, and NaN is the measure's
missing-value marker.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from dataclasses import dataclass
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

MAX_PACKET_LEN = 4_000_000  # etc/oph_ioserver.conf:5
FLOAT_FMT = "%.12g"         # reference stringifies doubles with %.*f
TERMINATOR = struct.pack(">i", 0)


@dataclass(frozen=True)
class ResultSet:
    """A result frame and the column a fetch orders it by (None: keep the
    frame's own order).  The order is applied by whoever consumes it: the
    wire fetch sorts the collected Arrow table, ``ordered()`` asks Spark."""

    df: DataFrame
    order_by: str | None = None

    def ordered(self) -> DataFrame:
        if self.order_by is None:
            return self.df
        return self.df.orderBy(F.col(self.order_by).asc())


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
    b = str(v).encode()
    return b"S" + struct.pack(">i", len(b)) + b


_NULL_CELL = _encode_cell(None)


def _is_list(t: pa.DataType) -> bool:
    return pa.types.is_list(t) or pa.types.is_large_list(t)


def _check_column(name: str, t: pa.DataType) -> None:
    """Reject, before any packet exists, an array the encoder cannot pack."""
    if _is_list(t):
        vt = t.value_type
        if not (pa.types.is_integer(vt) or pa.types.is_floating(vt) or pa.types.is_boolean(vt)
                or pa.types.is_null(vt)):
            raise TypeError(f"column {name!r}: {t} is not a numeric array")


def _array_cells(col: pa.Array) -> list[bytes]:
    """``B`` cells of a list column, sliced from one packed float64 buffer
    of its values (NULL elements → NaN); NULL arrays are ``N`` cells."""
    # ``col.values`` is the unsliced child; ``col.offsets`` index into it
    flat = pc.cast(col.values, pa.float64(), safe=False).to_numpy(zero_copy_only=False)
    buf = flat.astype("<f8", copy=False).tobytes()
    offs = col.offsets.to_pylist()
    out = []
    for i, ok in enumerate(col.is_valid().to_pylist()):
        if not ok:
            out.append(_NULL_CELL)
            continue
        lo, hi = offs[i] * 8, offs[i + 1] * 8
        out.append(b"B" + struct.pack(">i", hi - lo) + buf[lo:hi])
    return out


def _python_values(col: pa.Array) -> list:
    """The values ``DataFrame.collect()`` would give for a scalar column."""
    t = col.type
    if pa.types.is_timestamp(t):
        # Arrow carries UTC microseconds (tz-aware); collect() renders
        # TIMESTAMP as naive local time and TIMESTAMP_NTZ as naive wall time
        conv = TimestampType() if t.tz else TimestampNTZType()
        return [None if v is None else conv.fromInternal(v)
                for v in col.cast(pa.int64()).to_pylist()]
    if pa.types.is_decimal(t):
        # collect() rebuilds a DECIMAL from Java's engineering string:
        # unscaled 1 at scale 10 is Decimal('1.00E-10'), not Decimal('1E-10')
        return [None if v is None else Decimal(v.to_eng_string()) for v in col.to_pylist()]
    return col.to_pylist()


def _column_cells(col: pa.Array) -> list[bytes]:
    if _is_list(col.type):
        return _array_cells(col)
    return [_encode_cell(v) for v in _python_values(col)]


def sort_table(table: pa.Table, column: int) -> pa.Table:
    """Stable ascending sort in Spark's ``ASC NULLS FIRST`` order.  Arrow's
    ``at_start`` would put NaN before the numbers, so sort with NULLs last
    (numbers, then NaN, then NULLs) and move the NULL block to the front."""
    key = table.column(column)
    idx = pc.sort_indices(key, null_placement="at_end")
    if key.null_count:
        idx = pa.concat_arrays([idx[-key.null_count:], idx[:-key.null_count]])
    return table.take(idx)


def serialize_result_set(rs: ResultSet | DataFrame, max_packet_len: int = MAX_PACKET_LEN
                         ) -> Iterator[bytes]:
    """Yield framed packets for a result set (a plain DataFrame is sent in
    its own order).  One Spark job, run at the first ``next()``."""
    if isinstance(rs, DataFrame):
        rs = ResultSet(rs)
    table = rs.df.toArrow()
    for f in table.schema:
        _check_column(f.name, f.type)
    if rs.order_by is not None:
        table = sort_table(table, table.column_names.index(rs.order_by))

    nfields = table.num_columns
    header = struct.pack(">ii", nfields, 0)
    row_head = struct.pack(">i", nfields)
    first = True
    buf: list[bytes] = []
    buf_len = 0

    def flush():
        nonlocal buf, buf_len, first
        pkt = struct.pack(">i", len(buf)) + b"".join(buf)
        out = (header + pkt) if first else pkt
        first = False
        buf, buf_len = [], 0
        return out

    for batch in table.to_batches():
        cols = [_column_cells(c) for c in batch.columns]
        for cells in zip(*cols):
            rec = row_head + b"".join(cells)
            if buf and buf_len + len(rec) > max_packet_len:
                yield flush()
            buf.append(rec)
            buf_len += len(rec)
    if buf:
        yield flush()
    elif first:
        yield header  # empty result: the header, then only the terminator
    yield TERMINATOR


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
