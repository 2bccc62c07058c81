"""Benchmark entry point (the load-generator process).

    python3 perfbench/run.py --workload {cube_ops,interactive,analytics}
                             --seed N --seconds S --trace {0,1} [--size small]

Starts a fresh server process (``bench_server.py``: Spark driver +
``QueryServer``), sets the workload up, measures a closed loop for
``--seconds``, checks every output outside the timed region, and prints one
JSON object as the last stdout line.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs an untraced window, then a traced one with
timing wrappers and Spark counters, and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402
from tracing import median, percentile, tail_percentile  # noqa: E402
from workloads import ROWS  # noqa: E402

# the server is killed if a run outlives its set-up allowance plus its
# windows plus one op timeout per window (a hung server must not outlive
# the run)
SETUP_ALLOWANCE_S = 90.0
DRIVER_MEM = "2g"

END_TO_END = [("ops_per_s", "1/s"), ("op_p50_ms", "ms"), ("setup_s", "s")]

# span name -> per-layer metric (self time, Spark in-job time excluded)
SELF_TIME = {
    "root": "trace.unattributed_ms",
    "server.lock_wait": "server.lock_wait_ms",
    "server.send": "server.send_ms",
    "operators.execute": "operators.execute_ms",
    "operators.select": "operators.select_ms",
    "dialect.parse": "dialect.parse_ms",
    "dialect.compile": "dialect.compile_ms",
    "functions.build": "functions.build_ms",
    "catalog.put": "catalog.ms",
    "catalog.drop": "catalog.ms",
    "sources.plan": "sources.plan_ms",
    "protocol.serialize": "protocol.serialize_ms",
    "workloads.plan": "workloads.plan_ms",
}
COUNTS = {"server.bytes_out", "protocol.rows", "protocol.packets", "protocol.bytes",
          "dialect.statements", "functions.primitive_calls", "catalog.puts",
          "catalog.drops", "sources.cells"}
SPARK = {
    "jobs": "spark.jobs", "stages": "spark.stages", "tasks": "spark.tasks",
    "single_task_stages": "spark.single_task_stages", "run_ms": "spark.executor_run_ms",
    "cpu_ms": "spark.executor_cpu_ms", "gc_ms": "spark.gc_ms",
    "shuffle_read_mb": "spark.shuffle_read_mb", "shuffle_write_mb": "spark.shuffle_write_mb",
}

PER_LAYER = (
    [("server.handler_ms", "ms"), ("server.lock_wait_ms", "ms"), ("server.send_ms", "ms"),
     ("server.overhead_ms", "ms"), ("server.bytes_out", "bytes")]
    + [("protocol.serialize_ms", "ms"), ("protocol.decode_ms", "ms"), ("protocol.rows", "count"),
       ("protocol.packets", "count"), ("protocol.bytes", "bytes"),
       ("dialect.parse_ms", "ms"), ("dialect.compile_ms", "ms"), ("dialect.statements", "count"),
       ("operators.execute_ms", "ms"), ("operators.select_ms", "ms"),
       ("functions.primitive_calls", "count"), ("functions.build_ms", "ms"),
       ("catalog.puts", "count"), ("catalog.drops", "count"), ("catalog.ms", "ms"),
       ("catalog.cached_mb", "MB"), ("catalog.live_fragments", "count"),
       ("sources.plan_ms", "ms"), ("sources.cells", "count"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.single_task_stages", "count"), ("spark.in_job_ms", "ms"),
       ("spark.outside_job_ms", "ms"), ("spark.executor_run_ms", "ms"),
       ("spark.executor_cpu_ms", "ms"), ("spark.gc_ms", "ms"),
       ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
       ("spark.max_task_share", "ratio"),
       ("streaming.drains", "count"), ("streaming.batches", "count"),
       ("streaming.batch_ms_p50", "ms"), ("streaming.trigger_overhead_ms", "ms"),
       ("streaming.state_rows", "count"), ("workloads.plan_ms", "ms")]
    + [m for r in ROWS for m in ((f"row.{r}.ms", "ms"), (f"row.{r}.jobs", "count"))]
    + [("trace.op_p50_ms", "ms"), ("trace.overhead_ms", "ms"), ("trace.unattributed_ms", "ms"),
       ("untraced.op_p90_ms", "ms"), ("server.peak_rss_mb", "MB")]
)


# ---------------------------------------------------------------------------
# server process
# ---------------------------------------------------------------------------


def process_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def tree_rss_mb(root_pid: int) -> float:
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 1e6


class ServerProcess:
    """The server child process, its control channel and an RSS sampler."""

    def __init__(self, workdir: str, watchdog_s: float):
        for sub in ("tmp", "spark-local"):
            os.makedirs(os.path.join(workdir, sub), exist_ok=True)
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(os.cpu_count()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
            "TMPDIR": os.path.join(workdir, "tmp"),
            "PYTHONDONTWRITEBYTECODE": "1",
            # every JVM (launcher and driver): temp files in the work dir, and
            # no /tmp/hsperfdata_<user> perf file
            "_JAVA_OPTIONS": (env.get("_JAVA_OPTIONS", "") + " -XX:-UsePerfData"
                              f" -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}").strip(),
        })
        env.pop("OMP_NUM_THREADS", None)
        self.log = open(os.path.join(workdir, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "bench_server.py"), "--workdir", workdir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log, cwd=workdir,
            env=env, text=True, start_new_session=True)
        self.peak_rss_mb = 0.0
        self._stopped = False
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()
        self._watchdog = threading.Timer(watchdog_s, self.kill)
        self._watchdog.start()
        ready = self._read()
        if not ready.get("ok"):
            raise RuntimeError(f"server failed to start: {ready.get('error')}")
        self.port = ready["port"]

    def _sample(self):
        while not self._stop.wait(0.1):
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.proc.pid))

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("server process exited")
        return json.loads(line)

    def call(self, **msg) -> dict:
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def kill(self):
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(self):
        """Kill the server's process group (Python, the JVM and its Python
        workers) and wait until all of it has ended."""
        if self._stopped:
            return
        self._stopped = True
        self._watchdog.cancel()
        self.kill()
        self.proc.wait()
        deadline = time.time() + 10
        while time.time() < deadline and _group_alive(self.proc.pid):
            time.sleep(0.1)
        self._stop.set()
        self._sampler.join()
        self.log.close()

    def log_tail(self, n: int = 30) -> str:
        with open(self.log.name) as f:
            return "".join(f.readlines()[-n:])


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def latencies_ms(ops, timeout_s: float) -> list[float]:
    """Op latencies; a failed op counts as missing every latency limit."""
    return [(o.latency_s if o.ok else max(o.latency_s, timeout_s)) * 1e3 for o in ops]


def watchdog_s(seconds: float, trace: int) -> float:
    """Server lifetime limit: set-up, the measured ``seconds`` (one window,
    or two halves when traced), and the last op of each window, which may
    run up to the op timeout."""
    return SETUP_ALLOWANCE_S + seconds + (2 if trace else 1) * wl.OP_TIMEOUT_S


def end_to_end(res, setup_s: float) -> dict:
    """Completed ops per second of timed wall time, the median op latency
    and the set-up time."""
    vals = {"ops_per_s": sum(o.ok for o in res.ops) / res.window_s,
            "op_p50_ms": percentile(latencies_ms(res.ops, wl.OP_TIMEOUT_S), 50),
            "setup_s": setup_s}
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}


def per_layer(ops, report: dict, untraced: dict) -> dict:
    """Per-op means over the traced window.  ``untraced`` carries the
    untraced window's p50/p90 and the whole run's peak RSS."""
    recs = {tuple(r["key"]): r for r in report["requests"]}
    acc: dict[str, float] = defaultdict(float)
    batch_ms, trig, share = [], [], []
    for op in ops:
        in_job = 0.0
        op_share = 0.0
        for port, seq, t0, t1, dec in op.reqs:
            r = recs.get((port, seq))
            if r is None:
                continue
            for name, sec in r["self_s"].items():
                if name in SELF_TIME:
                    acc[SELF_TIME[name]] += sec * 1e3
            for name, n in r["counts"].items():
                if name in COUNTS:
                    acc[name] += n
            for name, m in SPARK.items():
                acc[m] += r["spark"][name]
            op_share = max(op_share, r["spark"]["max_task_share"])
            in_job += r["in_job_s"] * 1e3
            if port != "row":
                acc["server.handler_ms"] += r["handler_s"] * 1e3
                acc["server.overhead_ms"] += ((t1 - t0) - r["handler_s"]) * 1e3
                acc["protocol.decode_ms"] += dec * 1e3
            st = r["stream"]
            acc["streaming.drains"] += len(st["runs"])
            acc["streaming.batches"] += st["batches"]
            acc["streaming.state_rows"] += st["state_rows"]
            batch_ms += st["batch_ms"]
            trig += st["trigger_overhead_ms"]
        acc["spark.in_job_ms"] += in_job
        acc["spark.outside_job_ms"] += op.latency_s * 1e3 - in_job
        share.append(op_share)
    n = max(len(ops), 1)
    vals = {name: 0.0 for name, _ in PER_LAYER}
    vals.update({k: v / n for k, v in acc.items()})
    vals["spark.max_task_share"] = sum(share) / n
    vals["streaming.batch_ms_p50"] = median(batch_ms)
    vals["streaming.trigger_overhead_ms"] = sum(trig) / len(trig) if trig else 0.0
    vals["catalog.cached_mb"] = report["cached_mb_peak"]
    vals["catalog.live_fragments"] = report["live_fragments_mean"]
    by_kind: dict[str, list] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op)
    for row in ROWS:
        if row in by_kind:
            rops = by_kind[row]
            vals[f"row.{row}.ms"] = median([o.latency_s * 1e3 for o in rops])
            jobs = [recs[(p, s)]["spark"]["jobs"] for o in rops for p, s, *_ in o.reqs
                    if (p, s) in recs]
            vals[f"row.{row}.jobs"] = sum(jobs) / len(rops)
    traced_p50 = percentile(latencies_ms(ops, wl.OP_TIMEOUT_S), 50) if ops else 0.0
    vals["trace.op_p50_ms"] = traced_p50
    vals["trace.overhead_ms"] = traced_p50 - untraced["op_p50_ms"]
    vals["untraced.op_p90_ms"] = untraced["op_p90_ms"]
    vals["server.peak_rss_mb"] = untraced["peak_rss_mb"]
    return {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def make_workload(name, seed, size, workdir, srv):
    if name == "cube_ops":
        return wl.CubeOps(seed, size, workdir)
    if name == "interactive":
        return wl.Interactive(seed, size, clients=os.cpu_count())
    if name == "analytics":
        return wl.Analytics(seed, workdir, srv)
    raise SystemExit(f"unknown workload {name!r}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("cube_ops", "interactive", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full",
                    help="small: reduced inputs for smoke tests")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ophidia_io_server_spark", "__init__.py")):
        print("perfbench: engine package ophidia_io_server_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workdir = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}-{time.time_ns()}")
    srv = None

    def terminate(*_):
        # stop the server process group first: client threads may still be
        # blocked on it; the finally below then cleans up the work dir
        if srv is not None:
            srv.kill()
        sys.exit(143)

    signal.signal(signal.SIGTERM, terminate)
    try:
        # setup_s: one wall-clock interval from server launch to the first
        # timed op, less the time spent checking warm-up outputs
        t_launch = time.perf_counter()
        srv = ServerProcess(workdir, watchdog_s(args.seconds, args.trace))
        work = make_workload(args.workload, args.seed, args.size, workdir, srv)
        res = wl.Result()
        work.setup("127.0.0.1", srv.port, res)
        setup_s = time.perf_counter() - t_launch - res.check_s
        # traced: half the time untraced, half traced, so a traced run
        # measures as long as an untraced one
        window_s = args.seconds / 2 if args.trace else args.seconds
        work.run("127.0.0.1", srv.port, window_s, res)
        untraced = list(res.ops)
        failures = res.failures + work.check_ops(untraced)
        if args.trace:
            lat = latencies_ms(untraced, wl.OP_TIMEOUT_S)
            before = {"op_p50_ms": percentile(lat, 50), "op_p90_ms": percentile(lat, 90)}
            r = srv.call(cmd="trace_on")
            if not r["ok"]:
                raise RuntimeError(r["error"])
            since = time.time()
            traced_res = wl.Result()
            work.run("127.0.0.1", srv.port, window_s, traced_res, trace=wl.ClientTrace())
            report = srv.call(cmd="report", since=since)
            if not report["ok"]:
                raise RuntimeError(report["error"])
            failures += work.check_ops(traced_res.ops)
            srv.stop()
            before["peak_rss_mb"] = srv.peak_rss_mb
            metrics = per_layer(traced_res.ops, report, before)
            attempted = res.attempted + traced_res.attempted
            failed = res.failed + traced_res.failed
            n_ops = len(traced_res.ops)
        else:
            metrics = end_to_end(res, setup_s)
            attempted, failed, n_ops = res.attempted, res.failed, len(res.ops)
    except Exception as e:  # noqa: BLE001 — the run cannot produce a result
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        if srv is not None:
            print(srv.log_tail(), file=sys.stderr)
        return 1
    finally:
        if srv is not None:
            srv.stop()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass

    lat = latencies_ms(res.ops, wl.OP_TIMEOUT_S)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} ops={n_ops} "
          f"attempted={attempted} failed={failed} timed_s={res.window_s:.2f} "
          f"tail_percentile_with_10_beyond={tail_percentile(lat)}")
    # per op kind (interactive: request classes; analytics: rows)
    kinds: dict[str, list[float]] = {}
    for o, ms in zip(res.ops, lat):
        kinds.setdefault(o.kind, []).append(ms)
    for kind, v in sorted(kinds.items()):
        print(f"  {kind}: n={len(v)} p50_ms={median(v):.1f} latency_ms={[round(x) for x in v]}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    for f in failures[:20]:
        print(f"  FAILED CHECK: {f}")
    correct = not failures and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
