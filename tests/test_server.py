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
