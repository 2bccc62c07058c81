"""The three workloads, driven from the load-generator process.

``cube_ops`` and ``interactive`` speak the dialect to the server over TCP
through ``QueryClient``; ``analytics`` asks the server process to run
registered rows over the control channel.  Every client runs a closed loop.
Each workload returns a ``Result``; output checks run outside the timed
region and a mismatch counts as a failed op.
"""

from __future__ import annotations

import itertools
import math
import os
import random
import struct
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import datagen

OP_TIMEOUT_S = 60.0
# a fresh JVM keeps speeding ops up (JIT) well past the first few ops
WARMUP_CHAINS = 5
WARMUP_MIX_S = 5.0

# sizes: full run / reduced smoke run
CUBE = {"full": dict(lat=40, lon=50, time=720), "small": dict(lat=6, lon=5, time=60)}
INTERACTIVE = {"full": dict(nrows=10000, array_len=365), "small": dict(nrows=5000, array_len=24)}
# the clients deal seeded shuffles of this deck, so every run sees the same
# class proportions.  No published Ophidia traffic mix exists to take weights
# from, so each class has the same weight.
DECK = ("point", "range", "group", "write")
RANGE_ROWS, GROUP_ROWS, GROUP_SIZE, WRITE_ROWS = 200, 5000, 1000, 20
# analytics: two order-statistics rows (chains of small jobs through the
# range exchange) and a streaming-drain row.  An odd count keeps the median
# of a pass on one row instead of between two.
ROWS = ("lineitem_brown_forsythe", "events_theil_sen", "events_ohlc_streaming")
# rows keep speeding up (JIT) for about three passes after the cold one
WARMUP_PASSES = 2

# random_import's generator (sources/random_import.py), in closed form
_A, _C, _M = 1103515245, 12345, 2147483648


def lcg_rows(ids: np.ndarray, array_len: int, seed: int) -> np.ndarray:
    k = np.arange(array_len, dtype=np.int64)
    h = (ids.astype(np.int64)[:, None] * _A + (k[None, :] + 1) * _C + seed) % _M
    return h.astype(np.float64) / float(_M)


# ---------------------------------------------------------------------------
# results and failure accounting
# ---------------------------------------------------------------------------


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool = True
    reqs: list = field(default_factory=list)  # [(port, seq, start, end, decode_s)]
    payload: object = None


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)  # timed
    window_s: float = 0.0
    check_s: float = 0.0  # output checks during set-up, excluded from setup_s
    warmup: list[Op] = field(default_factory=list)  # discarded from timing, still checked
    failures: list[str] = field(default_factory=list)

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.warmup)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops + self.warmup)


class OpFailed(Exception):
    pass


class Conn:
    """A dialect connection with failure accounting: an ``E`` frame, a
    truncated RS stream, a timeout or any other client error raises
    ``OpFailed``; connection-level failures reconnect."""

    def __init__(self, host: str, port: int, trace: "ClientTrace | None" = None):
        self.addr = (host, port)
        self.trace = trace
        self._connect()

    def _connect(self):
        from ophidia_io_server_spark.server import QueryClient

        self.cli = QueryClient(*self.addr)
        self.cli.sock.settimeout(OP_TIMEOUT_S)
        self.port = self.cli.sock.getsockname()[1]
        self.seq = 0

    def execute(self, op: Op, query: str, params=None):
        self.seq += 1
        t0 = time.time()
        if self.trace is not None:
            self.trace.tl.decode = 0.0
        try:
            return self.cli.execute(query, params)
        except RuntimeError as e:  # 'E' frame: the connection stays usable
            raise OpFailed(f"E frame: {e}") from None
        except (OSError, ValueError, struct.error) as e:  # truncated stream, timeout
            try:
                self.cli.sock.close()
            finally:
                self._connect()
            raise OpFailed(f"{type(e).__name__}: {e}") from None
        finally:
            dec = self.trace.tl.decode if self.trace is not None else 0.0
            op.reqs.append((self.port, self.seq, t0, time.time(), dec))

    def close(self):
        try:
            self.cli.close()
        except OSError:
            pass


class ClientTrace:
    """Client-side decode timing: wraps ``protocol.deserialize_packets``."""

    def __init__(self):
        import ophidia_io_server_spark.protocol as protocol

        self.tl = threading.local()
        inner = protocol.deserialize_packets
        tl = self.tl

        def timed(packets):
            t0 = time.perf_counter()
            try:
                return inner(packets)
            finally:
                tl.decode = getattr(tl, "decode", 0.0) + time.perf_counter() - t0

        protocol.deserialize_packets = timed


def timed_op(kind: str, fn) -> Op:
    op = Op(kind, 0.0)
    t0 = time.perf_counter()
    try:
        op.payload = fn(op)
    except OpFailed as e:
        op.ok, op.payload = False, str(e)
    op.latency_s = time.perf_counter() - t0
    return op


def check_ops(check, ops) -> list[str]:
    """Run ``check(payload)`` on every successful op; a mismatch fails it."""
    out = []
    for op in ops:
        if op.ok:
            bad = check(op.payload)
            if bad:
                op.ok = False
                out += bad
        op.payload = None
    return out


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def all_close(a, b) -> bool:
    return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))


def seqsum(a: np.ndarray) -> np.ndarray:
    """Left-to-right sum along the last axis (the engine's fold order)."""
    return np.cumsum(a, axis=-1)[..., -1]


# ---------------------------------------------------------------------------
# cube_ops
# ---------------------------------------------------------------------------


class CubeOps:
    """The Ophidia operator chain over a seeded NetCDF cube, one client."""

    def __init__(self, seed: int, size: str, workdir: str):
        self.seed, self.dims, self.workdir = seed, CUBE[size], workdir
        self.path = os.path.join(workdir, "cube.nc")
        self.cube = None
        self.n = 0

    def make_inputs(self) -> None:
        d = self.dims
        self.cube = datagen.make_cube(self.seed, d["lat"], d["lon"], d["time"])
        datagen.write_cube(self.path, self.cube)

    def chain(self, conn: Conn) -> Op:
        i = self.n = self.n + 1
        d = self.dims
        nrows, months = d["lat"] * d["lon"], d["time"] // 30
        bseed = self.seed * 1000 + i

        def body(op):
            ex = lambda q: conn.execute(op, q)  # noqa: E731
            try:
                ex(f"operation=file_import;frag_name=c{i};src_path=file://{self.path};"
                   "measure=tas;dim=lat|lon|time;dim_type=1|1|0")
                ex(f"operation=create_frag_select;frag_name=k{i};from=c{i};"
                   "field=id_dim|oph_sum_scalar(measure,-273.15);select_alias=id_dim|measure")
                ex(f"operation=create_frag_select;frag_name=m{i};from=k{i};"
                   "field=id_dim|oph_reduce2(measure,'avg',30);select_alias=id_dim|measure")
                ex(f"operation=random_import;frag_name=b{i};nrows={nrows};array_len={months};"
                   f"algorithm=temperatures;seed={bseed}")
                ex(f"operation=create_frag_select;frag_name=a{i};from=m{i}|b{i};from_alias=a|b;"
                   "field=id_dim|oph_sub_array(a.measure,oph_sum_scalar(b.measure,-273.15));"
                   "select_alias=id_dim|measure;where=id_dim>0")
                _, stats = ex(f"operation=select;from=a{i};field=id_dim|oph_gsl_fit_linear_coeff(measure)"
                              "|oph_gsl_quantile(measure,0.9)|oph_reduce(measure,'std');"
                              "select_alias=id_dim|fit|q90|sd;order=id_dim")
                _, export = ex(f"operation=function;function=oph_export;arg='m{i}'")
            finally:
                for f in "ckmba":
                    try:
                        ex(f"operation=drop_frag;frag_name={f}{i}")
                    except OpFailed:
                        pass
            return (bseed, stats, export)

        return timed_op("chain", body)

    def check(self, payload) -> list[str]:
        bseed, stats, export = payload
        d = self.dims
        nrows, months = d["lat"] * d["lon"], d["time"] // 30
        cel = self.cube.reshape(nrows, d["time"]) + (-273.15)
        mon = seqsum(cel.reshape(nrows, months, 30)) / 30.0
        base = 250.0 + 60.0 * lcg_rows(np.arange(1, nrows + 1), months, bseed)
        anom = mon - (base + (-273.15))
        n = float(months)
        sx, sxx = n * (n - 1) / 2, (n - 1) * n * (2 * n - 1) / 6
        sy, sxy = seqsum(anom), seqsum(anom * np.arange(months))
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        intercept = (sy - slope * sx) / n
        srt = np.sort(anom, axis=1)
        h = (months - 1) * 0.9
        lo = int(math.floor(h))
        q90 = srt[:, lo] + (h - lo) * (srt[:, min(lo + 1, months - 1)] - srt[:, lo])
        mean = sy / n
        sd = np.sqrt(np.maximum((seqsum(anom * anom) - n * mean * mean) / (n - 1), 0.0))
        bad = []
        if [r[0] for r in stats] != list(range(1, nrows + 1)):
            bad.append("stats: id_dim mismatch")
        else:
            for r, row in enumerate(stats):
                if not (all_close(row[1], (intercept[r], slope[r])) and close(row[2], q90[r])
                        and close(row[3], sd[r])):
                    bad.append(f"stats row {r + 1}: {row[1:]} vs "
                               f"{(intercept[r], slope[r]), q90[r], sd[r]}")
                    break
        if [r[0] for r in export] != list(range(1, nrows + 1)):
            bad.append("export: id_dim mismatch")
        elif not all(all_close(row[1], mon[r]) for r, row in enumerate(export)):
            bad.append("export: monthly values differ")
        return bad

    def run(self, host, port, seconds, res: Result, trace=None) -> None:
        conn = Conn(host, port, trace)
        try:
            t0 = time.time()
            while time.time() - t0 < seconds:
                res.ops.append(self.chain(conn))
            res.window_s += time.time() - t0
        finally:
            conn.close()

    def check_ops(self, ops) -> list[str]:
        return check_ops(self.check, ops)

    def setup(self, host, port, res: Result) -> None:
        """Input generation + WARMUP_CHAINS discarded warm-up chains
        (checked, check time in ``res.check_s``)."""
        self.make_inputs()
        conn = Conn(host, port)
        try:
            warm = [self.chain(conn) for _ in range(WARMUP_CHAINS)]
        finally:
            conn.close()
        res.warmup += warm
        res.failures += [f"warm-up: {o.payload}" for o in warm if not o.ok]
        t0 = time.perf_counter()
        res.failures += self.check_ops(warm)
        res.check_s += time.perf_counter() - t0


# ---------------------------------------------------------------------------
# interactive
# ---------------------------------------------------------------------------


class Interactive:
    """Seeded point/range/group/write mix against a resident fragment,
    ``clients`` closed-loop clients with zero think time."""

    def __init__(self, seed: int, size: str, clients: int):
        self.seed, self.clients = seed, clients
        self.nrows, self.array_len = INTERACTIVE[size]["nrows"], INTERACTIVE[size]["array_len"]
        self.rseed = 1000 + seed
        self.frag = "res"

    def _ops(self, conn: Conn, rng: random.Random, tag: str):
        frag, n = self.frag, self.nrows

        def point(op):
            i = rng.randint(1, n)
            _, rows = conn.execute(op, f"operation=select;from={frag};field=id_dim|measure;"
                                       "select_alias=id_dim|measure;where=id_dim=?", {1: i})
            return ("point", i, rows)

        def range_(op):
            a = rng.randint(1, n - RANGE_ROWS + 1)
            _, rows = conn.execute(
                op, f"operation=select;from={frag};field=id_dim|oph_reduce(measure,'avg')"
                    "|oph_gsl_quantile(measure,0.9);select_alias=id_dim|m|q;"
                    "where=id_dim>=?&id_dim<?;order=id_dim", {1: a, 2: a + RANGE_ROWS})
            return ("range", a, rows)

        def group(op):
            a = rng.randrange(0, n - GROUP_ROWS + 1, GROUP_SIZE)
            _, rows = conn.execute(
                op, f"operation=select;from={frag};field=oph_id(id_dim,{GROUP_SIZE})"
                    f"|oph_aggregate_operator(measure,'max');select_alias=g|m;"
                    f"where=id_dim>?&id_dim<=?;group=oph_id(id_dim,{GROUP_SIZE});order=g",
                {1: a, 2: a + GROUP_ROWS})
            return ("group", a, rows)

        def write(op):
            name = f"w_{tag}_{rng.getrandbits(40):x}"
            vals = [[round(rng.uniform(-100, 100), 3) for _ in range(8)] for _ in range(WRITE_ROWS)]
            params = {}
            for j, v in enumerate(vals):
                params[2 * j + 1], params[2 * j + 2] = j + 1, v
            tuples = ",".join(f"(?{2 * j + 1},?{2 * j + 2})" for j in range(WRITE_ROWS))
            conn.execute(op, f"operation=create_frag;frag_name={name}")
            try:
                conn.execute(op, f"operation=multi_insert;frag_name={name};value={tuples}", params)
                _, rows = conn.execute(op, f"operation=select;from={name};field=id_dim|"
                                           "oph_reduce(measure,'sum');select_alias=id_dim|s;order=id_dim")
            finally:
                conn.execute(op, f"operation=drop_frag;frag_name={name}")
            return ("write", vals, rows)

        return {"point": point, "range": range_, "group": group, "write": write}

    def check(self, payload) -> list[str]:
        kind, arg, rows = payload
        if kind == "point":
            want = lcg_rows(np.array([arg]), self.array_len, self.rseed)[0]
            ok = len(rows) == 1 and rows[0][0] == arg and rows[0][1] == want.tolist()
        elif kind == "range":
            ids = np.arange(arg, arg + RANGE_ROWS)
            m = lcg_rows(ids, self.array_len, self.rseed)
            avg = seqsum(m) / float(self.array_len)
            srt = np.sort(m, axis=1)
            h = (self.array_len - 1) * 0.9
            lo = int(math.floor(h))
            q = srt[:, lo] + (h - lo) * (srt[:, min(lo + 1, self.array_len - 1)] - srt[:, lo])
            ok = ([r[0] for r in rows] == ids.tolist()
                  and all(close(r[1], avg[j]) and close(r[2], q[j]) for j, r in enumerate(rows)))
        elif kind == "group":
            m = lcg_rows(np.arange(arg + 1, arg + GROUP_ROWS + 1), self.array_len, self.rseed)
            mx = m.reshape(GROUP_ROWS // GROUP_SIZE, GROUP_SIZE, -1).max(axis=1)
            g0 = arg // GROUP_SIZE + 1
            ok = ([r[0] for r in rows] == list(range(g0, g0 + len(mx)))
                  and all(r[1] == mx[j].tolist() for j, r in enumerate(rows)))
        else:
            ok = ([r[0] for r in rows] == list(range(1, WRITE_ROWS + 1))
                  and all(close(r[1], sum(v)) for r, v in zip(rows, arg)))
        return [] if ok else [f"{kind}: reply differs from the closed form ({arg!r:.60})"]

    def check_ops(self, ops) -> list[str]:
        return check_ops(self.check, ops)

    def setup(self, host, port, res: Result) -> None:
        """Resident fragment import, then a concurrent warm-up: every client
        runs one op of each class, then the mix runs for WARMUP_MIX_S (all
        checked, check time in ``res.check_s``)."""
        conn = Conn(host, port)
        try:
            op = Op("setup", 0.0)
            conn.execute(op, f"operation=random_import;frag_name={self.frag};nrows={self.nrows};"
                             f"array_len={self.array_len};seed={self.rseed}")
            conn.execute(op, f"operation=select;from={self.frag};"
                             "field=oph_aggregate_operator(measure,'sum');select_alias=s")
        finally:
            conn.close()
        warm = Result()
        self._clients(host, port, warm, None, iter(DECK * self.clients), None)
        self._clients(host, port, warm, None, self._cards(self.seed + 1), WARMUP_MIX_S)
        res.warmup += warm.ops
        res.failures += [f"warm-up {o.kind}: {o.payload}" for o in warm.ops if not o.ok]
        t0 = time.perf_counter()
        res.failures += self.check_ops(warm.ops)
        res.check_s += time.perf_counter() - t0

    def run(self, host, port, seconds, res: Result, trace=None) -> None:
        """Clients draw op classes from one shared stream of seeded deck
        shuffles until ``seconds`` have elapsed, so the class proportions of
        a window do not depend on how the draws split between clients."""
        self._clients(host, port, res, trace, self._cards(self.seed), seconds)

    @staticmethod
    def _cards(seed: int):
        rng = random.Random(seed)
        return (c for _ in itertools.count() for c in rng.sample(DECK, len(DECK)))

    def _clients(self, host, port, res: Result, trace, cards, seconds) -> None:
        results: list[list[Op]] = [[] for _ in range(self.clients)]
        errors: list[BaseException] = []
        lock = threading.Lock()

        def client(k: int):
            try:
                conn = Conn(host, port, trace)
                try:
                    ops = self._ops(conn, random.Random(self.seed * 7919 + k), str(k))
                    while seconds is None or time.time() - t0 < seconds:
                        with lock:
                            kind = next(cards, None)
                        if kind is None:
                            return
                        results[k].append(timed_op(kind, ops[kind]))
                finally:
                    conn.close()
            except BaseException as e:  # noqa: BLE001 — re-raised in the caller
                errors.append(e)

        t0 = time.time()
        threads = [threading.Thread(target=client, args=(k,), daemon=True)
                   for k in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        res.window_s += time.time() - t0
        if errors:
            raise errors[0]
        for ops in results:
            res.ops += ops


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


class Analytics:
    """Registered rows run in the server process through the noop sink, in a
    seeded order per pass."""

    def __init__(self, seed: int, workdir: str, ctl):
        self.seed, self.ctl = seed, ctl
        self.data = os.path.join(workdir, "data")

    def setup(self, host, port, res: Result) -> None:
        """Table generation, one cold pass that collects every row and
        compares it with its DuckDB oracle (compare time in
        ``res.check_s``), then WARMUP_PASSES discarded noop-sink passes."""
        datagen.write_tables(self.data, self.seed)
        for name in random.Random(self.seed).sample(ROWS, len(ROWS)):
            op = self._row(name, "check", res)
            res.warmup.append(op)
            if op.ok and op.payload:
                op.ok = False
                res.failures += [f"{name}: {p}" for p in op.payload]
            elif not op.ok:
                res.failures.append(f"{name}: {op.payload}")
        warm = Result()
        for _ in range(WARMUP_PASSES):
            self.run(host, port, 0.0, warm)
        res.warmup += warm.ops
        res.failures += self.check_ops(warm.ops)

    def _row(self, name: str, mode: str, res: Result | None = None) -> Op:
        """One row over the control channel; latency is measured around the
        row in the server, so control-channel framing is not counted."""
        r = self.ctl.call(cmd="row", name=name, data=self.data, mode=mode)
        if not r["ok"]:
            return Op(name, 0.0, ok=False, payload=r["error"])
        if res is not None:
            res.check_s += r["check_ms"] / 1e3
        return Op(name, r["ms"] / 1e3, reqs=[("row", r["seq"], 0.0, 0.0, 0.0)],
                  payload=r["problems"])

    def run(self, host, port, seconds, res: Result, trace=None) -> None:
        """Whole passes over the rows, each in a seeded order, until
        ``seconds`` have elapsed: every row runs equally often."""
        rng = random.Random(self.seed * 31 + len(res.ops))
        t0 = time.time()
        while True:
            for name in rng.sample(ROWS, len(ROWS)):
                res.ops.append(self._row(name, "noop"))
            if time.time() - t0 >= seconds:
                break
        res.window_s += time.time() - t0

    def check_ops(self, ops) -> list[str]:
        """noop-sink rows carry no output to compare; report failed calls."""
        return [f"{o.kind}: {o.payload}" for o in ops if not o.ok]
