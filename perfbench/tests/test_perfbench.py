"""Tests for the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

The smoke tests start a real server process at reduced input sizes and take
about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import struct
import subprocess
import sys
import threading
import types

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import bench_server  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402
from tracing import Span, covered, percentile, self_times, tail_percentile  # noqa: E402

# ---------------------------------------------------------------------------
# percentile selection
# ---------------------------------------------------------------------------


def test_percentile_is_linear_interpolation():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile([5.0], 90) == 5.0
    assert percentile(list(range(101)), 90) == 90.0


@pytest.mark.parametrize("n,want", [(200, 95.0), (1000, 99.0), (100, 90.0), (50, 80.0),
                                    (30, 50.0), (15, None)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    xs = [float(i) for i in range(n)]
    p = tail_percentile(xs)
    assert p == want
    if p is not None:
        assert sum(x > percentile(xs, p) for x in xs) >= 10


def test_tail_percentile_with_ties_counts_strictly_beyond():
    assert tail_percentile([7.0] * 500) is None


# ---------------------------------------------------------------------------
# self time over nested spans
# ---------------------------------------------------------------------------


def _spans():
    # root [0,10] > a [1,5] > b [2,3];  root > c [6,8]
    return [Span("root", 0, 10, None, "r"), Span("a", 1, 5, 0, "r"),
            Span("b", 2, 3, 1, "r"), Span("c", 6, 8, 0, "r")]


def test_self_time_subtracts_child_coverage():
    st = self_times(_spans())
    assert st == {"root": pytest.approx(4.0), "a": pytest.approx(3.0),
                  "b": pytest.approx(1.0), "c": pytest.approx(2.0)}


def test_self_time_excludes_job_time_and_adds_up():
    jobs = [(2.5, 7.0)]
    st = self_times(_spans(), jobs)
    assert st == {"root": pytest.approx(3.0), "a": pytest.approx(1.0),
                  "b": pytest.approx(0.5), "c": pytest.approx(1.0)}
    assert sum(st.values()) + covered(jobs, 0, 10) == pytest.approx(10.0)


def test_self_time_sums_repeated_names_and_overlapping_children():
    spans = [Span("root", 0, 10, None, "r"), Span("x", 1, 4, 0, "r"),
             Span("x", 3, 6, 0, "r")]
    st = self_times(spans)
    assert st["root"] == pytest.approx(5.0)  # children cover [1,6]
    assert st["x"] == pytest.approx(6.0)


# ---------------------------------------------------------------------------
# failure counting
# ---------------------------------------------------------------------------


def _serve(replies):
    """Fake server: answers each request with the next canned reply and
    closes the connection after a truncated one."""
    lsock = socket.socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(4)

    def recv_exact(c, n):
        buf = b""
        while len(buf) < n:
            chunk = c.recv(n - len(buf))
            if not chunk:
                raise ConnectionError
            buf += chunk
        return buf

    def loop():
        pending = list(replies)
        while pending:
            c, _ = lsock.accept()
            with c:
                try:
                    while pending:
                        (ln,) = struct.unpack(">i", recv_exact(c, 4))
                        recv_exact(c, ln + 4)  # query + zero bind count
                        reply = pending.pop(0)
                        c.sendall(reply)
                        if reply is TRUNCATED:
                            break
                except ConnectionError:
                    pass
        lsock.close()

    t = threading.Thread(target=loop, daemon=True)
    t.start()
    return lsock.getsockname()[1], t


HEADER = struct.pack(">ii", 1, 0)
ROW = struct.pack(">ii", 1, 1) + b"L" + struct.pack(">i", 1) + b"7"
OK = b"K" + HEADER + ROW + struct.pack(">i", 0)
E_FRAME = b"E" + struct.pack(">i", 4) + b"boom"
TRUNCATED = b"K" + HEADER + struct.pack(">ii", 1, 1)  # row promised, then EOF


def test_failures_are_counted_including_truncated_rs_stream():
    port, t = _serve([OK, E_FRAME, TRUNCATED, OK])
    conn = wl.Conn("127.0.0.1", port)
    res = wl.Result()
    for _ in range(4):
        res.ops.append(wl.timed_op("q", lambda op: conn.execute(op, "operation=x")))
    conn.close()
    t.join(5)
    assert [o.ok for o in res.ops] == [True, False, False, True]
    assert res.ops[0].payload == (1, [[7]])
    assert "E frame" in res.ops[1].payload
    assert "peer closed" in res.ops[2].payload  # truncated stream → reconnect
    assert res.attempted == 4 and res.failed == 2
    lat = run.latencies_ms(res.ops, wl.OP_TIMEOUT_S)
    assert lat[1] >= wl.OP_TIMEOUT_S * 1e3  # a failure misses every latency limit


def test_watchdog_covers_setup_windows_and_last_op():
    assert run.watchdog_s(12, 0) == run.SETUP_ALLOWANCE_S + 12 + wl.OP_TIMEOUT_S
    assert run.watchdog_s(70, 1) == run.SETUP_ALLOWANCE_S + 70 + 2 * wl.OP_TIMEOUT_S


def test_failed_output_check_fails_the_op():
    inter = wl.Interactive(seed=1, size="small", clients=1)
    good = wl.lcg_rows(np.array([5]), inter.array_len, inter.rseed)[0]
    ops = [wl.Op("point", 0.1, payload=("point", 5, [[5, good.tolist()]])),
           wl.Op("point", 0.1, payload=("point", 5, [[5, (good + 1e-6).tolist()]]))]
    bad = inter.check_ops(ops)
    assert [o.ok for o in ops] == [True, False] and len(bad) == 1


def test_traced_socket_marks_reply_ends():
    class Sock:
        def __init__(self):
            self.sent = []

        def recv(self, n):
            return b"\x00" * n

        def sendall(self, data):
            self.sent.append(data)

        def close(self):
            pass

    class SC:
        def setJobGroup(self, *a):
            pass

    from tracing import Tracer

    tr = Tracer()
    s = bench_server.TracedSocket(Sock(), tr, SC(), 4242)
    s.recv(4)
    s.sendall(b"K" + HEADER + ROW)
    assert tr.requests == []
    s.sendall(struct.pack(">i", 0))
    s.recv(4)
    s.sendall(E_FRAME)
    s.recv(4)
    s.sendall(b"K" + b"\x00" * 12)  # statement without a result set
    s.recv(4)
    s.close()  # connection dropped mid-reply
    assert [r.key for r in tr.requests] == [(4242, 1), (4242, 2), (4242, 3), (4242, 4)]
    assert tr.requests[0].counts["server.bytes_out"] == len(OK) - 4 + 4
    assert tr.requests[3].counts["server.truncated"] == 1


def test_relocate_tmp_paths_rewrites_only_tmp_constants():
    mod = types.ModuleType("fake_staging")
    exec("def stage(tag):\n    return f'/tmp/stage_{tag}_f2'\n"
         "def other():\n    return '/var/x'\n", mod.__dict__)
    for f in (mod.stage, mod.other):
        f.__module__ = "fake_staging"
    assert bench_server.relocate_tmp_paths(mod, "/w") == 1
    assert mod.stage("ab") == "/w/stage_ab_f2" and mod.other() == "/var/x"


# ---------------------------------------------------------------------------
# contract: metric names, and failing without the engine
# ---------------------------------------------------------------------------


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in run.END_TO_END]
    assert [m["name"] for m in spec["per_layer"]] == [n for n, _ in run.PER_LAYER]
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == dict(run.PER_LAYER)


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "cube_ops",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""


# ---------------------------------------------------------------------------
# smoke runs at reduced size
# ---------------------------------------------------------------------------


def _run(workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--trace", str(trace),
                        "--size", "small"],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["cube_ops", "interactive", "analytics"])
def test_smoke_traced_run(workload):
    out = _run(workload, trace=1)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    m = out["metrics"]
    assert list(m) == [n for n, _ in run.PER_LAYER]
    assert m["spark.jobs"]["value"] > 0
    if workload == "analytics":
        assert m["streaming.batches"]["value"] > 0
        assert m["row.events_ohlc_streaming.jobs"]["value"] > 0
    else:
        assert m["server.handler_ms"]["value"] > 0 and m["dialect.statements"]["value"] > 0


def test_smoke_end_to_end():
    out = _run("cube_ops", trace=0)
    assert out["correct"] and out["failed"] == 0
    assert list(out["metrics"]) == [n for n, _ in run.END_TO_END]
    assert all(v["value"] > 0 for v in out["metrics"].values())
