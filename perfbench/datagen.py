"""Seeded input generation: the NetCDF cube for ``cube_ops`` and the star
schema + events + documents tables for ``analytics``.

The analytics tables follow the layout of the engine's test data
(``TESTDATA.md``: TPC-H-like tables plus ``events`` and ``documents``, one
parquet file each) at roughly its smallest scale, so the registered rows and
their DuckDB oracles run unchanged on them.
"""

from __future__ import annotations

import os

import numpy as np


def make_cube(seed: int, lat: int, lon: int, ntime: int) -> np.ndarray:
    """Daily near-surface temperature in K, shape (lat, lon, time)."""
    rng = np.random.default_rng(seed)
    la = np.linspace(-80.0, 80.0, lat)[:, None, None]
    lo = np.linspace(0.0, 360.0, lon, endpoint=False)[None, :, None]
    t = np.arange(ntime)[None, None, :]
    base = 288.0 - 35.0 * np.abs(np.sin(np.radians(la))) + 3.0 * np.cos(np.radians(lo))
    season = 12.0 * np.sin(np.radians(la)) * np.cos(2 * np.pi * t / 365.0)
    trend = rng.normal(0.0, 0.002, size=(lat, lon, 1)) * t
    noise = rng.normal(0.0, 2.5, size=(lat, lon, ntime))
    return (base + season + trend + noise).astype(np.float64)


def write_cube(path: str, cube: np.ndarray) -> None:
    from ophidia_io_server_spark.sources.netcdf_classic import write_classic

    lat, lon, ntime = cube.shape
    write_classic(path, dims=[("lat", lat), ("lon", lon), ("time", ntime)],
                  variables={"tas": (["lat", "lon", "time"], cube)})


_WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
          "line sort window order data column join small customer query big filter "
          "stream group vector").split()


def write_tables(out_dir: str, seed: int) -> None:
    """Write the analytics tables (row counts of the smallest test scale)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, end, n):
        lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
        return (lo + rng.integers(0, int((hi - lo).astype(np.int64)), n)).astype("datetime64[us]")

    i32 = pa.int32()
    put("region", {"r_regionkey": pa.array(np.arange(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    n_cust, n_supp, n_ord, n_line = 150, 10, 1500, 6000
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust).tolist()})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord).tolist()})
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, 200, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_line)})
    n_ev = 1000
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, 15, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = 500
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))) for _ in range(n_doc)]
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
