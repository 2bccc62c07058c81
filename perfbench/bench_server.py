"""Benchmark server process: one Spark driver plus a ``QueryServer``.

Launched by ``run.py`` as a separate process.  Dialect traffic arrives over
TCP from the load generator; a JSON-lines control channel on stdin/stdout
carries everything else (analytics rows, tracing, reports).  stdout is
reserved for that channel: the process's own fd 1 (and the JVM's) is pointed
at stderr before Spark starts.

    python3 perfbench/bench_server.py --workdir DIR
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import Tracer, collect_group_stats, covered, self_times  # noqa: E402


def relocate_tmp_paths(module, workdir: str) -> int:
    """Point the ``/tmp/...`` staging paths hard-coded in ``module``'s
    top-level functions at ``workdir``: the engine's streaming rows stage
    their input under /tmp, and a benchmark run may write only inside its
    checkout.  Only string constants are rewritten; the staging logic is
    the engine's own."""
    n = 0
    for fn in list(vars(module).values()):
        code = getattr(fn, "__code__", None)
        if code is None or getattr(fn, "__module__", None) != module.__name__:
            continue
        consts = tuple(
            workdir + "/" + c[5:] if isinstance(c, str) and c.startswith("/tmp/") else c
            for c in code.co_consts)
        if consts != code.co_consts:
            fn.__code__ = code.replace(co_consts=consts)
            n += 1
    return n


# ---------------------------------------------------------------------------
# instrumentation
# ---------------------------------------------------------------------------


class TracedLock:
    """Drop-in for ``QueryServer.catalog_lock`` that records acquire waits."""

    def __init__(self, tracer: Tracer):
        self._lock = threading.Lock()
        self.tracer = tracer

    def __enter__(self):
        t0 = time.time()
        self._lock.acquire()
        self.tracer.add_interval("server.lock_wait", t0, time.time())
        return self

    def __exit__(self, *exc):
        self._lock.release()
        return False


class TracedSocket:
    """Socket proxy for one connection: a request starts when its length
    prefix arrives and ends with the last frame of its reply (an ``E`` frame,
    the RS terminator packet, or an empty ``K`` reply)."""

    EMPTY_REPLY = b"K" + b"\x00" * 12

    def __init__(self, sock, tracer: Tracer, sc, port: int):
        self._sock = sock
        self.tracer = tracer
        self.sc = sc
        self.port = port
        self.seq = 0
        self.busy = False

    def recv(self, n: int) -> bytes:
        data = self._sock.recv(n)
        if data and not self.busy:
            self.busy = True
            self.seq += 1
            req = self.tracer.begin((self.port, self.seq))
            self.sc.setJobGroup(req.rid, f"perfbench request {req.rid}")
            req.groups.append(req.rid)
        return data

    def sendall(self, data: bytes) -> None:
        t0 = time.time()
        self._sock.sendall(data)
        self.tracer.add_interval("server.send", t0, time.time())
        self.tracer.count("server.bytes_out", len(data))
        if data[:1] == b"E" or data == b"\x00\x00\x00\x00" or data == self.EMPTY_REPLY:
            self._finish()

    def _finish(self, truncated: bool = False) -> None:
        if self.busy:
            if truncated:
                self.tracer.count("server.truncated")
            self.tracer.end()
            self.busy = False

    def close(self) -> None:
        self._finish(truncated=True)
        self._sock.close()

    def __getattr__(self, name):
        return getattr(self._sock, name)


def traced_serialize(tracer: Tracer, fn):
    """Wrap ``serialize_result_set``: time spent inside the generator (each
    ``next``), packet/row/byte counts; socket sends are not included."""

    def wrapper(df, *a, **kw):
        gen = fn(df, *a, **kw)
        first = True
        while True:
            idx = tracer.open("protocol.serialize")
            try:
                pkt = next(gen)
            except StopIteration:
                return
            finally:
                tracer.close(idx)
            off = 8 if first else 0
            first = False
            tracer.count("protocol.packets")
            tracer.count("protocol.bytes", len(pkt))
            tracer.count("protocol.rows", int.from_bytes(pkt[off:off + 4], "big"))
            yield pkt

    wrapper.__wrapped__ = fn
    return wrapper


def _nc_cells(spark, src_path, measure, *a, **kw) -> int:
    from ophidia_io_server_spark.sources.netcdf_import import backend_for

    n = 1
    for _, size in backend_for(src_path).dims(src_path, measure):
        n *= size
    return n


def install(tracer: Tracer, qs, spark) -> None:
    """Swap timing wrappers around the public functions of each layer."""
    import ophidia_io_server_spark.dialect.expression as expression
    import ophidia_io_server_spark.functions as functions
    import ophidia_io_server_spark.operators.engine as engine
    import ophidia_io_server_spark.operators.select as select
    import ophidia_io_server_spark.server as server
    import ophidia_io_server_spark.sources.netcdf_import as netcdf_import
    from ophidia_io_server_spark.catalog import Catalog

    w = tracer.wrap
    engine.IOServer.execute = w(engine.IOServer.execute, "operators.execute")
    engine.parse_query = w(engine.parse_query, "dialect.parse", counter="dialect.statements")
    engine.execute_select = w(engine.execute_select, "operators.select")
    select.compile_expression = w(select.compile_expression, "dialect.compile")
    expression.compile_expression = w(expression.compile_expression, "dialect.compile")
    functions.call_primitive = w(functions.call_primitive, "functions.build",
                                 counter="functions.primitive_calls")
    Catalog.put = w(Catalog.put, "catalog.put", counter="catalog.puts")
    Catalog.drop = w(Catalog.drop, "catalog.drop", counter="catalog.drops")
    engine.random_fragment = w(engine.random_fragment, "sources.plan",
                               cells=lambda spark, nrows, array_len, *a, **kw: nrows * array_len)
    netcdf_import.import_variable = w(netcdf_import.import_variable, "sources.plan",
                                      cells=_nc_cells)
    server.serialize_result_set = traced_serialize(tracer, server.serialize_result_set)

    sc = spark.sparkContext

    class TracedHandler(server._Handler):
        def setup(self):
            self.request = TracedSocket(self.request, tracer, sc, self.client_address[1])

    qs.catalog_lock = TracedLock(tracer)
    qs.RequestHandlerClass = TracedHandler


class StreamRecorder:
    """Collects streaming progress through a ``StreamingQueryListener``:
    micro-batch jobs run under the query's runId job group, not the
    caller's, so each run is attributed to the analytics row that started
    it."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.current: str | None = None  # rid of the row being run
        self.run_owner: dict[str, str] = {}
        self.progress: list[dict] = []
        rec = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                if rec.current is not None:
                    rec.run_owner[str(event.runId)] = rec.current

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs or {})
                rows = sum(int(s.numRowsTotal) for s in (p.stateOperators or []))
                rec.progress.append({"run": str(p.runId), "trigger": d.get("triggerExecution", 0),
                                     "add": d.get("addBatch", 0), "state_rows": rows})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def for_row(self, rid: str) -> dict:
        runs = [r for r, owner in self.run_owner.items() if owner == rid]
        prog = [p for p in self.progress if p["run"] in runs]
        last_state: dict[str, int] = {}
        for p in prog:
            last_state[p["run"]] = p["state_rows"]
        return {
            "runs": runs,
            "batches": len(prog),
            "batch_ms": [p["trigger"] for p in prog],
            "trigger_overhead_ms": [p["trigger"] - p["add"] for p in prog],
            "state_rows": sum(last_state.values()),
        }


class StorageSampler(threading.Thread):
    """Samples cached bytes (RDD storage info) and live catalog fragments."""

    def __init__(self, sc, catalog, period: float = 0.2):
        super().__init__(daemon=True)
        self.sc, self.catalog, self.period = sc, catalog, period
        self.samples: list[tuple[float, float, int]] = []

    def run(self):
        while True:
            time.sleep(self.period)
            try:
                mem = sum(r.memSize() for r in self.sc._jsc.sc().getRDDStorageInfo())
            except Exception:  # noqa: BLE001 — JVM shutting down
                return
            live = sum(len(f) for f in self.catalog.dbs.values())
            self.samples.append((time.time(), mem / 1e6, live))


# ---------------------------------------------------------------------------
# analytics rows
# ---------------------------------------------------------------------------


def _load_compare():
    """The row comparison of ``scripts/check_correctness.py`` (exact typed
    equality after canonical sort), loaded from the checkout."""
    import importlib.util

    path = os.path.join(os.path.dirname(HERE), "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class Server:
    def __init__(self, workdir: str):
        from ophidia_io_server_spark import get_spark
        from ophidia_io_server_spark.server import QueryServer

        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
        self.spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "500000",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        })
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.qs = QueryServer(self.spark)
        self.qs.serve_background()
        import ophidia_io_server_spark.workloads.streaming as wl_streaming

        relocate_tmp_paths(wl_streaming, workdir)
        self.tracer: Tracer | None = None
        self.streams: StreamRecorder | None = None
        self.sampler: StorageSampler | None = None
        self.row_seq = 0
        self._compare = None
        self._duck: dict[str, object] = {}

    # -- commands -----------------------------------------------------------

    def cmd_trace_on(self, msg):
        self.tracer = Tracer()
        install(self.tracer, self.qs, self.spark)
        self.streams = StreamRecorder(self.spark)
        self.sampler = StorageSampler(self.sc, self.qs.io_server.catalog)
        self.sampler.start()
        return {}

    def cmd_row(self, msg):
        """Run one registered row.  mode=check collects it and compares
        with its DuckDB oracle (compare time reported as ``check_ms``);
        mode=noop drives the full plan through the noop sink."""
        from ophidia_io_server_spark.workload import WORKLOADS

        name, data = msg["name"], msg["data"]
        w = WORKLOADS[name]
        self.row_seq += 1
        req = None
        if self.tracer is not None:
            req = self.tracer.begin(("row", self.row_seq), prefix="row")
            self.sc.setJobGroup(req.rid, f"perfbench row {name}")
            req.groups.append(req.rid)
            self.streams.current = req.rid
        fn = w.fn if req is None else self.tracer.wrap(w.fn, "workloads.plan")
        t0 = time.perf_counter()
        try:
            df = fn(self.spark, data)
            if msg["mode"] == "check":
                got = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        finally:
            ms = (time.perf_counter() - t0) * 1e3
            if req is not None:
                self.streams.current = None
                self.tracer.end()
                self.sc.setJobGroup("perfbench-idle", "idle")
        t0 = time.perf_counter()
        problems = self._check(name, w.oracle, got, data) if msg["mode"] == "check" else []
        check_ms = (time.perf_counter() - t0) * 1e3
        return {"ms": ms, "check_ms": check_ms, "seq": self.row_seq, "problems": problems}

    def _check(self, name, oracle, got, data) -> list[str]:
        import duckdb

        if oracle is None:
            return [f"{name}: no registered oracle"]
        if self._compare is None:
            self._compare = _load_compare()
        con = self._duck.get(data)
        if con is None:
            con = duckdb.connect()
            for f in sorted(os.listdir(data)):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(data, f)}')")
            self._duck[data] = con
        return self._compare(name, got, con.execute(oracle).df())

    def cmd_report(self, msg):
        """Per-request records of every traced request/row that started at
        or after ``since`` (epoch seconds)."""
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        since = msg.get("since", 0.0)
        out = []
        for req in list(self.tracer.requests):
            if req.start < since:
                continue
            stream = self.streams.for_row(req.rid)
            groups = req.groups + stream["runs"]
            js = collect_group_stats(self.sc, groups)
            root = req.spans[0]
            st = self_times(req.spans, js.intervals)
            rec = {
                "key": list(req.key), "start": req.start, "end": req.end,
                "handler_s": root.end - root.start,
                "self_s": st, "counts": req.counts,
                "in_job_s": covered(js.intervals, req.start, req.end),
                "spark": {k: v for k, v in vars(js).items() if k != "intervals"},
                "stream": stream,
            }
            out.append(rec)
        samples = [s for s in (self.sampler.samples if self.sampler else []) if s[0] >= since]
        return {"requests": out,
                "cached_mb_peak": max((s[1] for s in samples), default=0.0),
                "live_fragments_mean": (sum(s[2] for s in samples) / len(samples)) if samples else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    args = ap.parse_args()
    # control channel on the original stdout; everything else → stderr
    ctl = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    def reply(obj):
        ctl.write(json.dumps(obj) + "\n")
        ctl.flush()

    try:
        srv = Server(args.workdir)
    except Exception as e:  # noqa: BLE001 — report start failure to the load generator
        traceback.print_exc()
        reply({"ok": False, "error": f"{type(e).__name__}: {e}"})
        return 1
    reply({"ok": True, "port": srv.qs.address[1]})
    for line in sys.stdin:
        msg = json.loads(line)
        try:
            res = getattr(srv, "cmd_" + msg["cmd"])(msg)
            res["ok"] = True
        except Exception as e:  # noqa: BLE001 — control boundary: report and keep serving
            traceback.print_exc()
            res = {"ok": False, "error": f"{type(e).__name__}: {e}"}
        reply(res)
    srv.qs.shutdown()
    srv.qs.server_close()
    srv.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
