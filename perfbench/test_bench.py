"""Tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import os
import socket
import sys
import threading
import time

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    Span, corpus, rng_for, self_times, tail_level, zipf_components,
)
from loadgen import (  # noqa: E402
    OpenLoopClient, StepResult, backlog_growing, max_rate, poisson_schedule,
)
from workloads import (  # noqa: E402
    DATASET_SEED, FRESH_COMPONENTS, FRESH_N, stream_docs,
)


def _queries(seed: int, mix):
    r = rng_for(seed, "serve_queries")
    return mix.sample(r, zipf_components(r, 256, FRESH_COMPONENTS))


# -- seeded inputs ----------------------------------------------------------


def test_same_seed_gives_identical_inputs():
    mix, a = corpus(DATASET_SEED, FRESH_N, FRESH_COMPONENTS)
    _, b = corpus(DATASET_SEED, FRESH_N, FRESH_COMPONENTS)
    assert a.tobytes() == b.tobytes()
    assert _queries(7, mix).tobytes() == _queries(7, mix).tobytes()
    fa, pa_ = stream_docs(7)
    fb, pb = stream_docs(7)
    assert fa == fb and pa_ == pb
    sa = poisson_schedule(rng_for(7, "arrivals"), 100.0, 2.0)
    sb = poisson_schedule(rng_for(7, "arrivals"), 100.0, 2.0)
    assert sa.tobytes() == sb.tobytes()


def test_different_seeds_give_different_inputs():
    mix, _ = corpus(DATASET_SEED, FRESH_N, FRESH_COMPONENTS)
    assert _queries(7, mix).tobytes() != _queries(8, mix).tobytes()
    _, a = corpus(7, 500, 8)
    _, b = corpus(8, 500, 8)
    assert a.tobytes() != b.tobytes()
    assert stream_docs(7)[0] != stream_docs(8)[0]


def test_input_streams_are_independent():
    # a draw from one purpose never shifts another's values
    r1 = rng_for(3, "corpus")
    r1.normal(size=10)
    assert rng_for(3, "queries").normal() == rng_for(3, "queries").normal()
    assert rng_for(3, "corpus").normal() != rng_for(3, "queries").normal()


def test_planted_pairs_point_back_to_earlier_docs():
    files, planted = stream_docs(1)
    assert len(planted) > 0
    per_file = len(files[0])
    for a, b in planted:
        assert a < b and a // per_file < b // per_file


# -- the percentile rule ----------------------------------------------------


@pytest.mark.parametrize(
    "n, level",
    [(10_000, 99.9), (9_999, 99.0), (1_000, 99.0), (999, 95.0),
     (200, 95.0), (100, 90.0), (40, 75.0), (20, 50.0), (19, None), (0, None)],
)
def test_tail_level_has_ten_samples_beyond(n, level):
    assert tail_level(n) == level


# -- open loop --------------------------------------------------------------


class _StallServer:
    """Line echo server answering {"results": []}; the ``stall_at``-th
    request is held for ``stall_s`` before it and everything behind it is
    answered."""

    def __init__(self, stall_at: int, stall_s: float) -> None:
        self.sock = socket.socket()
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        self.stall_at, self.stall_s = stall_at, stall_s
        self.thread = threading.Thread(target=self._serve, daemon=True)
        self.thread.start()

    def _serve(self) -> None:
        conn, _ = self.sock.accept()
        with conn, conn.makefile("rb") as rf:
            for i, _line in enumerate(rf):
                if i == self.stall_at:
                    time.sleep(self.stall_s)
                conn.sendall(b'{"results": []}\n')

    def close(self) -> None:
        self.thread.join(timeout=5)
        self.sock.close()


def test_stall_inflates_later_requests():
    srv = _StallServer(stall_at=20, stall_s=0.3)
    offsets = np.arange(100) * 0.005  # 200/s for 0.5 s
    try:
        with OpenLoopClient("127.0.0.1", srv.port, 1) as client:
            step = client.run([b"q\n"] * 100, offsets, 200.0)
    finally:
        srv.close()
    assert not srv.thread.is_alive()
    assert step.failed == 0
    lat = step.latency_s
    # requests due during the stall waited for it, counted from their
    # scheduled time: request 30 was due 50 ms into the 300 ms stall
    assert lat[20] >= 0.29
    assert lat[30] >= 0.24
    assert np.median(lat[:20]) < 0.05
    # the generator itself kept its schedule
    assert np.percentile(step.lateness_s, 99) < 0.05
    assert step.max_in_flight >= 50


# -- max-rate selection -----------------------------------------------------


def _step(rate: float, outstanding, latency: float = 0.002) -> StepResult:
    n = len(outstanding)
    return StepResult(
        rate=rate, scheduled=np.arange(n) / rate,
        latency_s=np.full(n, latency), lateness_s=np.zeros(n),
        outstanding=np.asarray(outstanding),
    )


def test_backlog_detection():
    assert not backlog_growing(np.full(400, 3))
    assert backlog_growing(np.arange(400) // 4)


def test_max_rate_rejects_growing_backlog():
    steady = _step(100.0, np.full(200, 2))
    # low tail latency, but in-flight climbs through the step
    growing = _step(200.0, np.arange(400) // 4)
    assert max_rate([steady, growing], limit_s=0.025) == 100.0
    assert max_rate([steady, _step(200.0, np.full(400, 3))], 0.025) == 200.0


def test_max_rate_rejects_failures_and_slow_tails():
    slow = _step(200.0, np.full(400, 3), latency=0.1)
    failed = _step(300.0, np.full(400, 3))
    failed.latency_s[5] = np.nan
    failed.errors = 1
    assert max_rate([_step(100.0, np.full(200, 2)), slow, failed], 0.025) == 100.0


def test_max_rate_rejects_a_late_generator():
    late = _step(400.0, np.full(400, 3))
    late.lateness_s[:] = 0.02
    assert max_rate([late], 0.025) == 0.0


def test_achieved_rate_is_offered_rate_or_capacity():
    keeping_up = _step(100.0, np.full(200, 2))
    assert keeping_up.achieved_qps == pytest.approx(100.0, rel=0.02)
    # 400 requests offered in 1 s, answered one per 5 ms: 200/s
    saturated = _step(400.0, np.arange(400) // 2)
    saturated.latency_s = (np.arange(400) + 1) * 0.005 - saturated.scheduled
    assert saturated.achieved_qps == pytest.approx(200.0, rel=0.01)


# -- verdict ----------------------------------------------------------------


def test_failed_operations_make_the_run_incorrect(tmp_path):
    import run

    r = run.Run("fresh_update", 1, 1.0, False, str(tmp_path))
    r.setup_s = r.ops_per_s = r.p50_ms = r.recall = 1.0
    r.attempt(100)
    r.check(True, "fine")
    assert r.result()["correct"] is True
    r.attempt(50, 2, "requests")  # e.g. error responses or timeouts
    out = r.result()
    assert out["correct"] is False and out["metrics"] == {}
    assert (out["attempted"], out["failed"]) == (151, 2)


# -- span arithmetic --------------------------------------------------------


def test_self_time_subtracts_child_coverage():
    spans = [
        Span("root", 0.0, 10.0, None, "t"),
        Span("a", 1.0, 3.0, 0, "t"),
        Span("b", 2.0, 5.0, 0, "t"),     # overlaps a: union 1..5
        Span("c", 8.0, 12.0, 0, "t"),    # runs past its parent: clipped at 10
        Span("a", 1.5, 2.5, 1, "t"),     # grandchild: charged to a only
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["a"] == pytest.approx((2.0 - 1.0) + 1.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(4.0)


# -- BENCHMARK.json ---------------------------------------------------------


def test_benchmark_json_names_what_run_reports():
    import json

    import run

    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
