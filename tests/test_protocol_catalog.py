"""RS-message serialization round-trip and catalog persistence/restore."""

import shutil
import tempfile

import pytest

from ophidia_io_server_spark.catalog import Catalog, CatalogError
from ophidia_io_server_spark.operators.engine import IOServer
from ophidia_io_server_spark.protocol import deserialize_packets, serialize_result_set
from ophidia_io_server_spark.sources.random_import import random_fragment


def test_rs_roundtrip(spark):
    df = random_fragment(spark, 50, 6)
    nfields, rows = deserialize_packets(serialize_result_set(df))
    want = [[r.id_dim, list(r.measure)] for r in df.orderBy("id_dim").collect()]
    rows.sort(key=lambda r: r[0])
    assert nfields == 2
    assert len(rows) == 50
    assert rows[0][0] == want[0][0]
    assert rows[0][1] == pytest.approx(want[0][1])
    assert rows[-1][1] == pytest.approx(want[-1][1])


def test_rs_chunking_small_packets(spark):
    df = random_fragment(spark, 40, 4)
    packets = list(serialize_result_set(df, max_packet_len=200))
    assert len(packets) > 3  # forced chunking
    nfields, rows = deserialize_packets(packets)
    assert nfields == 2 and len(rows) == 40


def test_rs_mixed_types(spark):
    df = spark.createDataFrame(
        [(1, 1.5, "ab", None), (2, -0.25, "", 7)],
        "a long, b double, c string, d long",
    )
    _, rows = deserialize_packets(serialize_result_set(df))
    rows.sort(key=lambda r: r[0])
    assert rows == [[1, 1.5, "ab", None], [2, -0.25, "", 7]]


def test_catalog_persist_restore(spark):
    root = tempfile.mkdtemp(prefix="ophidia_cat_")
    try:
        srv = IOServer(spark)
        srv.execute("operation=create_database;db_name=clim")
        srv.catalog.put("f1", random_fragment(spark, 20, 3), cache=False)
        srv.catalog.put("clim.f2", random_fragment(spark, 10, 2), cache=False)
        srv.catalog.put("tmp1", random_fragment(spark, 5, 2), temp=True, cache=False)
        saved = srv.catalog.persist(root)
        assert sorted(saved) == ["clim.f2", "default.f1"]

        cat2 = Catalog.restore(spark, root, cache=False)
        assert cat2.list_fragments("default") == ["f1"]
        assert cat2.list_fragments("clim") == ["f2"]
        assert not cat2.exists("tmp1")  # temps don't survive restart
        assert cat2.df("clim.f2").count() == 10
        # restored fragments answer dialect queries
        srv2 = IOServer(spark, catalog=cat2)
        out = srv2.execute("operation=select;from=f1;field=id_dim|oph_size_array(measure);"
                           "select_alias=id_dim|n;order=id_dim;limit=3")
        assert [r.n for r in out.collect()] == [3, 3, 3]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_catalog_restore_missing(spark):
    with pytest.raises(CatalogError):
        Catalog.restore(spark, "/tmp/definitely_not_a_catalog_dir_xyz")


def test_persist_layout_enables_id_skipping(spark):
    root = tempfile.mkdtemp(prefix="ophidia_cat_layout_")
    try:
        srv = IOServer(spark)
        srv.catalog.put("big", random_fragment(spark, 10000, 4), cache=False)
        srv.catalog.persist(root, id_files=8)
        import glob
        files = glob.glob(f"{root}/default/big/part-*")
        assert len(files) == 8  # range-partitioned into id-contiguous files

        cat2 = Catalog.restore(spark, root, cache=False)
        q = cat2.df("big").where("id_dim >= 1 AND id_dim <= 100")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "LessThanOrEqual(id_dim,100" in plan
        assert q.count() == 100
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_versioned_persist_time_travel(spark):
    root = tempfile.mkdtemp(prefix="ophidia_cat_ver_")
    try:
        srv = IOServer(spark)
        srv.catalog.put("f", random_fragment(spark, 10, 2), cache=False)
        v1 = srv.catalog.persist_versioned(root)
        srv.catalog.put("f", random_fragment(spark, 25, 2), cache=False, overwrite=True)
        srv.catalog.put("g", random_fragment(spark, 5, 2), cache=False)
        v2 = srv.catalog.persist_versioned(root)
        assert (v1, v2) == (1, 2)

        latest = Catalog.restore_versioned(spark, root, cache=False)
        assert latest.df("f").count() == 25 and latest.exists("g")
        old = Catalog.restore_versioned(spark, root, version=1, cache=False)
        assert old.df("f").count() == 10 and not old.exists("g")

        with pytest.raises(CatalogError):
            Catalog.restore_versioned(spark, root, version=9)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_merge_upsert_semantics(spark):
    from pyspark.sql import functions as F

    from ophidia_io_server_spark.catalog import Catalog, CatalogError, merge_into, merge_upsert

    base = spark.createDataFrame(
        [(1, [1.0]), (2, [2.0]), (3, [3.0])], "id_dim long, measure array<double>")
    upd = spark.createDataFrame(
        [(2, [20.0]), (3, None), (4, [40.0])], "id_dim long, measure array<double>")
    got = {r["id_dim"]: r["measure"] for r in merge_upsert(base, upd).collect()}
    assert got[1] == [1.0]          # untouched base row survives
    assert got[2] == [20.0]         # update replaces
    assert got[3] is None           # NULL cell in an update row still WINS
    assert got[4] == [40.0]         # unmatched update inserts
    with pytest.raises(CatalogError, match="schema"):
        merge_upsert(base, upd.withColumnRenamed("measure", "m2"))

    cat = Catalog(spark)
    cat.put("frag", base, cache=False)
    merge_into(cat, "frag", upd, cache=False)
    assert {r["id_dim"] for r in cat.df("frag").collect()} == {1, 2, 3, 4}


def test_merge_upsert_rejects_duplicate_update_keys(spark):
    import pytest

    from ophidia_io_server_spark.catalog import CatalogError, merge_upsert

    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id_dim long, m double")
    dup = spark.createDataFrame([(2, 21.0), (2, 22.0)], "id_dim long, m double")
    with pytest.raises(CatalogError, match="duplicate key"):
        merge_upsert(base, dup)
    # explicit opt-out keeps the old (row-multiplying) behavior available
    assert merge_upsert(base, dup, validate=False).count() == 3
    ok = spark.createDataFrame([(2, 21.0), (3, 30.0)], "id_dim long, m double")
    got = {r["id_dim"]: r["m"] for r in merge_upsert(base, ok).collect()}
    assert got == {1: 10.0, 2: 21.0, 3: 30.0}


# -- golden bytes: the Arrow encoder against the row encoder it replaced -----

def _ref_encode_cell(v) -> bytes:
    """The RS cell encoder over ``collect()`` rows that the Arrow path
    replaced, kept verbatim as the reference for the wire bytes."""
    import struct

    if v is None:
        return b"N" + struct.pack(">i", 0)
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, int):
        b = b"%d" % v
        return b"L" + struct.pack(">i", len(b)) + b
    if isinstance(v, float):
        b = ("%.12g" % v).encode()
        return b"D" + struct.pack(">i", len(b)) + b
    if isinstance(v, (list, tuple)):
        b = struct.pack(f"<{len(v)}d", *[float(x) for x in v])
        return b"B" + struct.pack(">i", len(b)) + b
    b = str(v).encode()
    return b"S" + struct.pack(">i", len(b)) + b


def _ref_packets(df, max_packet_len):
    import struct

    header = struct.pack(">ii", len(df.columns), 0)
    packets, buf, buf_len = [], [], 0
    for row in df.collect():
        rec = struct.pack(">i", len(row)) + b"".join(_ref_encode_cell(v) for v in row)
        if buf and buf_len + len(rec) > max_packet_len:
            packets.append(struct.pack(">i", len(buf)) + b"".join(buf))
            buf, buf_len = [], 0
        buf.append(rec)
        buf_len += len(rec)
    if buf:
        packets.append(struct.pack(">i", len(buf)) + b"".join(buf))
    packets = [header + packets[0]] + packets[1:] if packets else [header]
    return packets + [struct.pack(">i", 0)]


GOLDEN_SCHEMA = (
    "l long, i int, f float, d double, b boolean, dec decimal(10,2), dz decimal(38,10), "
    "dt date, ts timestamp, tsn timestamp_ntz, s string, n string, "
    "ad array<double>, ai array<int>, ab array<boolean>, bn binary")


def _golden_rows():
    import datetime
    from decimal import Decimal

    inf, nan = float("inf"), float("nan")
    return [
        (1, 7, 1.5, 0.1, True, Decimal("1.50"), Decimal("0E-10"),
         datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 2, 3, 4, 5),
         datetime.datetime(2024, 1, 2, 3, 4, 5), "ab", None, [1.0, -0.0, 2.5], [1, -2], [True],
         bytearray(b"\x00\xff'")),
        (-(2 ** 62), -(2 ** 31), -0.0, nan, False, Decimal("-0.05"),
         Decimal("12345678901234567890.0123456789"),
         datetime.date(1969, 12, 31), datetime.datetime(1999, 12, 31, 23, 59, 59, 123456),
         datetime.datetime(1970, 1, 1, 0, 0, 0, 1), "", None, [], [], [], bytearray()),
        (None, None, None, inf, None, None, None, None, None, None, "é ü", None,
         None, None, None, None),
        (3, 0, 3.4028234663852886e38, -inf, True, Decimal("99999999.99"), Decimal("1E-10"),
         datetime.date(2000, 2, 29), datetime.datetime(2038, 1, 19, 3, 14, 8),
         datetime.datetime(2200, 6, 1, 12, 0), "x;y=z", None,
         [nan, float("inf"), -1e-300, 1.7976931348623157e308], [2 ** 31 - 1], [False, True],
         bytearray(b"oph")),
        (4, 1, 1e-45, -0.0, False, Decimal("0.00"), Decimal("-1.5"),
         datetime.date(1, 1, 1), datetime.datetime(1900, 3, 1, 0, 0, 0, 5),
         datetime.datetime(1, 1, 1), "long " * 40, None, [0.1] * 50, list(range(30)), [True] * 9,
         bytearray(range(256))),
    ]


@pytest.mark.parametrize("tz", ["UTC", "Asia/Kolkata", "America/St_Johns"])
def test_rs_golden_bytes_match_row_encoder(spark, monkeypatch, tz):
    """Every type the dialect returns is framed byte-for-byte as the old
    ``_encode_cell``-over-``collect()`` path framed it, in one packet and
    across many; TIMESTAMP renders as naive local text in any local zone."""
    import time

    monkeypatch.setenv("TZ", tz)
    time.tzset()
    try:
        df = spark.createDataFrame(_golden_rows() * 3, GOLDEN_SCHEMA).repartition(3).cache()
        df.count()
        for max_len in (4_000_000, 400, 64, 1):
            got = list(serialize_result_set(df, max_packet_len=max_len))
            assert got == _ref_packets(df, max_len)
        assert len(got) == df.count() + 1  # one row per packet, then the terminator
        df.unpersist()
    finally:
        monkeypatch.undo()
        time.tzset()


def test_rs_golden_bytes_empty_result(spark):
    df = spark.createDataFrame([], GOLDEN_SCHEMA)
    got = list(serialize_result_set(df))
    assert got == _ref_packets(df, 4_000_000)
    assert got == [len(df.columns).to_bytes(4, "big") + bytes(4), bytes(4)]


def test_rs_array_null_elements_are_nan(spark):
    import math

    df = spark.createDataFrame([(1, [1.0, None, 2.0]), (2, [None]), (3, None)],
                               "id_dim long, measure array<double>")
    _, rows = deserialize_packets(serialize_result_set(df))
    rows.sort(key=lambda r: r[0])
    assert rows[0][1][0] == 1.0 and math.isnan(rows[0][1][1]) and rows[0][1][2] == 2.0
    assert len(rows[1][1]) == 1 and math.isnan(rows[1][1][0])
    assert rows[2][1] is None


def test_rs_order_matches_spark_asc_nulls_first(spark):
    """The driver-side ORDER: NULLs first, NaN after every number, ±0 tied
    and kept in partition order (stable)."""
    from ophidia_io_server_spark.protocol import ResultSet

    vals = [2.0, None, float("nan"), -0.0, -5.0, 0.0, float("inf"), None, float("-inf")]
    df = spark.createDataFrame(list(enumerate(vals)), "i long, v double").coalesce(1)
    _, rows = deserialize_packets(serialize_result_set(ResultSet(df, "v")))
    assert [r[0] for r in rows] == [1, 7, 8, 4, 3, 5, 0, 6, 2]
    spark_order = [r.i for r in ResultSet(df, "v").ordered().collect()]
    assert spark_order[:4] == [1, 7, 8, 4] and spark_order[6:] == [0, 6, 2]
    assert sorted(spark_order[4:6]) == [3, 5]  # -0.0 == 0.0: Spark's tie order is its own
