"""TCP query-server façade: dialect round trips over a real socket."""

import pytest

from ophidia_io_server_spark.server import QueryClient, QueryServer


@pytest.fixture(scope="module")
def server(spark):
    qs = QueryServer(spark)
    qs.serve_background()
    yield qs
    qs.shutdown()


def test_server_query_roundtrip(server):
    host, port = server.address
    cli = QueryClient(host, port)
    try:
        cli.execute("operation=random_import;frag_name=net1;nrows=30;array_len=4")
        nfields, rows = cli.execute(
            "operation=select;from=net1;field=id_dim|oph_reduce(measure,'sum')"
            "|oph_size_array(measure);select_alias=id_dim|s|n;"
            "where=id_dim<=10;order=id_dim")
        assert nfields == 3
        assert len(rows) == 10
        assert [r[0] for r in rows] == list(range(1, 11))
        assert all(r[2] == 4 for r in rows)
    finally:
        cli.close()


def test_server_error_reply(server):
    host, port = server.address
    cli = QueryClient(host, port)
    try:
        with pytest.raises(RuntimeError, match="unknown operation"):
            cli.execute("operation=definitely_not_an_op")
        # connection stays usable after an error
        cli.execute("operation=random_import;frag_name=net2;nrows=5;array_len=2")
        _, rows = cli.execute("operation=select;from=net2;field=id_dim;"
                              "select_alias=id_dim;order=id_dim")
        assert len(rows) == 5
    finally:
        cli.close()


def test_server_two_clients_share_catalog(server):
    host, port = server.address
    c1 = QueryClient(host, port)
    c2 = QueryClient(host, port)
    try:
        c1.execute("operation=random_import;frag_name=shared;nrows=8;array_len=2")
        _, rows = c2.execute("operation=select;from=shared;field=id_dim;"
                             "select_alias=id_dim;order=id_dim")
        assert len(rows) == 8
    finally:
        c1.close()
        c2.close()


def test_server_typed_binds(server):
    host, port = server.address
    cli = QueryClient(host, port)
    try:
        cli.execute("operation=create_frag;frag_name=bnd")
        cli.execute("operation=insert;frag_name=bnd;value=?,?",
                    params={1: 7, 2: [1.5, 2.5]})
        nfields, rows = cli.execute(
            "operation=select;from=bnd;field=id_dim|oph_sum_scalar(measure,?);"
            "select_alias=id_dim|m;where=id_dim=?",
            params={1: 10.0, 2: 7})
        assert nfields == 2 and len(rows) == 1
        assert rows[0][0] == 7 and rows[0][1] == [11.5, 12.5]
    finally:
        cli.close()


def test_server_runtime_error_still_clean_E(server, spark, tmp_path):
    """A plan that fails at EXECUTION time (not analysis) must still produce
    a clean 'E' frame: the handler materializes the first packet before
    sending 'K'.  Simulated by registering a parquet-backed fragment and
    deleting its files after planning."""
    import shutil

    from pyspark.sql import functions as F

    path = str(tmp_path / "doomed_frag")
    spark.range(1, 50).select(
        F.col("id").alias("id_dim"),
        F.array(F.col("id").cast("double")).alias("measure"),
    ).write.parquet(path)
    doomed = spark.read.parquet(path)
    server.io_server.catalog.put("doomed", doomed, cache=False)
    shutil.rmtree(path)

    host, port = server.address
    cli = QueryClient(host, port)
    try:
        with pytest.raises(RuntimeError):
            cli.execute("operation=select;from=doomed;field=id_dim;"
                        "select_alias=id_dim;order=id_dim")
        # the connection survives: the error became a clean 'E', not a
        # half-sent RS stream
        cli.execute("operation=random_import;frag_name=after_err;nrows=4;array_len=2")
        _, rows = cli.execute("operation=select;from=after_err;field=id_dim;"
                              "select_alias=id_dim;order=id_dim")
        assert len(rows) == 4
    finally:
        cli.close()


def test_server_empty_select_then_select_on_one_connection(server):
    """An empty result ends with exactly one terminator: a second one would
    be read as the start of the next reply on the same connection."""
    host, port = server.address
    cli = QueryClient(host, port)
    try:
        cli.execute("operation=random_import;frag_name=empty_then;nrows=6;array_len=2")
        nfields, rows = cli.execute("operation=select;from=empty_then;field=id_dim;"
                                    "select_alias=id_dim;where=id_dim>100")
        assert (nfields, rows) == (1, [])
        nfields, rows = cli.execute("operation=select;from=empty_then;field=id_dim;"
                                    "select_alias=id_dim;order=id_dim")
        assert nfields == 1
        assert rows == [[i] for i in range(1, 7)]
    finally:
        cli.close()


def test_server_streams_multi_packet_results(server, monkeypatch):
    """The fetch path streams packet-by-packet (bounded driver memory): with
    a tiny max_packet_len the handler sends many packets and the client
    reassembles them exactly."""
    import functools

    import ophidia_io_server_spark.server as srvmod
    from ophidia_io_server_spark.protocol import serialize_result_set

    monkeypatch.setattr(
        srvmod, "serialize_result_set",
        functools.partial(serialize_result_set, max_packet_len=64),
    )
    host, port = server.address
    cli = QueryClient(host, port)
    try:
        cli.execute("operation=random_import;frag_name=bigres;nrows=200;array_len=6")
        nfields, rows = cli.execute(
            "operation=select;from=bigres;field=id_dim|measure;"
            "select_alias=id_dim|measure;order=id_dim")
        assert nfields == 2
        assert len(rows) == 200
        assert [r[0] for r in rows] == list(range(1, 201))
        assert all(len(r[1]) == 6 for r in rows)
    finally:
        cli.close()


def test_server_restart_restores_fragments(spark, tmp_path):
    """Persist catalog → 'restart' (new server on restored catalog) → query
    over the wire: the reference's MetaDB reload-on-restart flow."""
    from ophidia_io_server_spark.catalog import Catalog
    from ophidia_io_server_spark.operators.engine import IOServer

    root = str(tmp_path / "cat")
    old = QueryServer(spark)
    old.serve_background()
    host, port = old.address
    c = QueryClient(host, port)
    c.execute("operation=random_import;frag_name=persisted;nrows=12;array_len=3")
    c.close()
    old.io_server.catalog.persist_versioned(root)
    old.shutdown()

    fresh = QueryServer(spark)
    fresh.io_server = IOServer(spark, catalog=Catalog.restore_versioned(spark, root))
    fresh.serve_background()
    c2 = QueryClient(*fresh.address)
    try:
        nfields, rows = c2.execute(
            "operation=select;from=persisted;field=id_dim|oph_size_array(measure);"
            "select_alias=id_dim|n;order=id_dim")
        assert len(rows) == 12 and all(r[1] == 3 for r in rows)
    finally:
        c2.close()
        fresh.shutdown()


def test_server_array_null_elements_sent_as_nan(server):
    """A NULL element inside an array travels as NaN (a packed double array
    has no NULL; NaN is the measure's missing-value marker)."""
    import math

    host, port = server.address
    cli = QueryClient(host, port)
    try:
        cli.execute("operation=random_import;frag_name=nullel;nrows=20;array_len=6")
        q = ("operation=select;from=nullel;field=id_dim|oph_predicate(measure,'x-0.5','>0','x','NULL');"
             "select_alias=id_dim|m")
        _, rows = cli.execute(q + ";order=id_dim")
        want = server.io_server.execute(q + ";order=id_dim").collect()
        assert [r[0] for r in rows] == [w.id_dim for w in want] == list(range(1, 21))
        assert any(x is None for w in want for x in w.m)  # the case under test
        for r, w in zip(rows, want):
            assert len(r[1]) == len(w.m)
            for got, exp in zip(r[1], w.m):
                assert math.isnan(got) if exp is None else got == exp
        # unordered and past the first packet too
        _, rows = cli.execute(q)
        assert sorted(r[0] for r in rows) == list(range(1, 21))
    finally:
        cli.close()


def test_server_late_runtime_error_is_clean_E(server, spark, monkeypatch):
    """A Spark failure in a later partition, past what the first packet
    holds, still becomes an 'E' frame: the result is collected before 'K'."""
    import functools

    from pyspark.sql import functions as F

    import ophidia_io_server_spark.server as srvmod
    from ophidia_io_server_spark.protocol import serialize_result_set

    monkeypatch.setattr(srvmod, "serialize_result_set",
                        functools.partial(serialize_result_set, max_packet_len=64))
    late = spark.range(1, 401, numPartitions=4).select(
        F.col("id").alias("id_dim"),
        F.when(F.col("id") == 200, F.raise_error(F.lit("late boom")))
         .otherwise(F.array(F.col("id").cast("double"))).alias("measure"))
    server.io_server.catalog.put("late_err", late, cache=False)
    host, port = server.address
    cli = QueryClient(host, port)
    try:
        for order in ("", ";order=id_dim"):
            with pytest.raises(RuntimeError, match="late boom"):
                cli.execute("operation=select;from=late_err;field=id_dim|measure;"
                            "select_alias=id_dim|measure" + order)
            _, rows = cli.execute("operation=select;from=late_err;field=id_dim;"
                                  "select_alias=id_dim;where=id_dim<4;order=id_dim")
            assert rows == [[1], [2], [3]]
    finally:
        cli.close()
        server.io_server.catalog.drop("late_err")


def _tie_groups(rows, col):
    """Rows grouped by equal order keys (Spark: NULLs equal, NaNs equal,
    -0.0 == 0.0); rows inside a group are sorted, because Spark leaves the
    order of equal keys to the shuffle."""
    import itertools
    import math

    def key(r):
        v = r[col]
        return "null" if v is None else "nan" if math.isnan(v) else v

    return [(k, sorted(repr(r) for r in g)) for k, g in itertools.groupby(rows, key)]


def test_server_one_job_per_fetch_and_order_parity(server, spark, monkeypatch):
    """Every fetch is one Spark job, ORDER included; the driver-side ORDER
    gives the rows of the in-process (Spark-sorted) result in its order."""
    import functools

    from pyspark.sql import functions as F

    import ophidia_io_server_spark.server as srvmod
    from ophidia_io_server_spark.protocol import serialize_result_set

    sc = spark.sparkContext
    tags = iter(f"one_job_{i}" for i in range(100))
    groups = []

    def grouped(rs, *a, **kw):  # runs in the handler thread, like the collect
        groups.append(next(tags))
        sc.setJobGroup(groups[-1], groups[-1])
        yield from serialize_result_set(rs, *a, **kw)

    monkeypatch.setattr(srvmod, "serialize_result_set",
                        functools.partial(grouped, max_packet_len=256))
    vals = [-2.5, None, 3.0, float("nan"), -0.0, 7.0, 0.0, -1e300, 1.5, float("-inf")]
    frag = spark.range(1, 201, numPartitions=4).select(
        F.col("id").alias("id_dim"),
        F.array(F.col("id").cast("double"), (F.col("id") % 7).cast("double")).alias("measure"),
        F.element_at(F.array(*[F.lit(v).cast("double") for v in vals]),
                     ((F.col("id") * 7919) % len(vals) + 1).cast("int")).alias("v"),
    ).cache()
    assert frag.rdd.getNumPartitions() == 4 and frag.count() == 200
    server.io_server.catalog.put("jobs4", frag, cache=False)
    host, port = server.address
    cli = QueryClient(host, port)
    try:
        base = "operation=select;from=jobs4;field=id_dim|measure|v;select_alias=id_dim|measure|v"
        _, rows = cli.execute(base)
        assert sorted(r[0] for r in rows) == list(range(1, 201))
        _, rows = cli.execute(base + ";order=id_dim")
        assert [r[0] for r in rows] == list(range(1, 201))
        _, rows = cli.execute("operation=function;function=oph_export;arg='jobs4'")
        assert [r[0] for r in rows] == list(range(1, 201))
        st = sc.statusTracker()
        assert [len(st.getJobIdsForGroup(g)) for g in groups] == [1, 1, 1]

        _, wire = cli.execute(base + ";order=v")
        local = [[r.id_dim, list(r.measure), r.v]
                 for r in server.io_server.execute(base + ";order=v").collect()]
        assert _tie_groups(wire, 2) == _tie_groups(local, 2)
        assert [r[2] is None for r in wire[:20]] == [True] * 20  # NULLs first
        assert all(r[2] != r[2] for r in wire[-20:])  # NaN after every number
    finally:
        cli.close()
        server.io_server.catalog.drop("jobs4")
        frag.unpersist()


def test_server_order_by_array_is_plan_error(server):
    host, port = server.address
    cli = QueryClient(host, port)
    try:
        cli.execute("operation=random_import;frag_name=ordarr;nrows=4;array_len=2")
        with pytest.raises(RuntimeError, match="QueryExecError.*not a scalar"):
            cli.execute("operation=select;from=ordarr;field=id_dim|measure;"
                        "select_alias=id_dim|measure;order=measure")
    finally:
        cli.close()
