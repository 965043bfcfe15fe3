"""Open-loop load generator for the line-oriented TCP serving node.

One thread drives every connection: it sends each request line at its
scheduled Poisson arrival time whether or not earlier answers came back
(an open loop — independent users), and reads answers as they arrive.
Latency runs from the *scheduled* send time, so a stall inflates every
request that was due during it, not only the one that hit it. The
generator's own lateness (actual send − scheduled send) is recorded apart,
so a rate the generator could not keep is reported as invalid instead of
as a slow server.
"""

from __future__ import annotations

import gc
import json
import selectors
import socket
import time
from dataclasses import dataclass, field

import numpy as np


def poisson_schedule(r: np.random.Generator, rate: float,
                     seconds: float) -> np.ndarray:
    """Arrival offsets (s) of a Poisson process of ``rate`` per second over
    ``seconds``."""
    n_max = int(rate * seconds * 1.5) + 16
    t = np.cumsum(r.exponential(1.0 / rate, size=n_max))
    return t[t < seconds]


@dataclass
class StepResult:
    rate: float
    scheduled: np.ndarray          # offsets (s) from step start
    latency_s: np.ndarray          # per request, from scheduled send; nan = failed
    lateness_s: np.ndarray         # actual send − scheduled send
    outstanding: np.ndarray        # in-flight count sampled at each send
    responses: list = field(default_factory=list)
    errors: int = 0
    timeouts: int = 0
    request_bytes: int = 0
    response_bytes: int = 0

    @property
    def max_in_flight(self) -> int:
        return int(self.outstanding.max()) if len(self.outstanding) else 0

    @property
    def failed(self) -> int:
        return self.errors + self.timeouts

    def ok_latencies(self) -> np.ndarray:
        return self.latency_s[np.isfinite(self.latency_s)]

    @property
    def achieved_qps(self) -> float:
        """Answers per second from the first scheduled send to the last
        answer: the offered rate while the node keeps up, its capacity
        while it is saturated."""
        done = self.scheduled + self.latency_s
        done = done[np.isfinite(done)]
        if not len(done):
            return 0.0
        return len(done) / max(float(done.max() - self.scheduled[0]), 1e-9)


def backlog_growing(outstanding: np.ndarray, floor: int = 8) -> bool:
    """True when the in-flight count climbs through the step: the mean over
    its last quarter exceeds twice the first quarter's plus ``floor``. A
    server keeping up holds in-flight roughly flat, whatever the rate."""
    n = len(outstanding)
    if n < 8:
        return False
    q = n // 4
    first = float(np.mean(outstanding[:q]))
    last = float(np.mean(outstanding[-q:]))
    return last > 2.0 * first + floor


def tail_latency_s(latency_s: np.ndarray, level: float) -> float:
    """Latency at ``level`` percentile, counting a failed request (nan) as
    infinitely late: it misses any latency limit."""
    lat = np.where(np.isfinite(latency_s), latency_s, np.inf)
    return float(np.percentile(lat, level)) if len(lat) else float("inf")


def rate_meets(step: StepResult, limit_s: float, level: float = 99.0,
               max_lateness_s: float = 0.005) -> bool:
    """A rate counts toward the highest sustainable rate only when the
    generator kept its schedule, the backlog did not grow, nothing failed
    and the tail latency met the limit."""
    if not generator_valid(step, max_lateness_s):
        return False
    if backlog_growing(step.outstanding) or step.failed:
        return False
    return tail_latency_s(step.latency_s, level) <= limit_s


def generator_valid(step: StepResult, max_lateness_s: float = 0.005) -> bool:
    if not len(step.lateness_s):
        return False
    return float(np.percentile(step.lateness_s, 99)) <= max_lateness_s


def max_rate(steps: list[StepResult], limit_s: float,
             level: float = 99.0) -> float:
    """The highest ladder rate that meets the limit (0.0 if none)."""
    ok = [s.rate for s in steps if rate_meets(s, limit_s, level)]
    return max(ok) if ok else 0.0


class OpenLoopClient:
    """Open-loop client over ``n_conn`` persistent connections to one node.
    Requests go round-robin over the connections; each connection answers
    in order, so a FIFO per connection matches answers to requests."""

    def __init__(self, host: str, port: int, n_conn: int,
                 timeout_s: float = 10.0) -> None:
        self.timeout_s = timeout_s
        self.socks = []
        for _ in range(n_conn):
            s = socket.create_connection((host, port), timeout=timeout_s)
            s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self.socks.append(s)

    def close(self) -> None:
        for s in self.socks:
            s.close()
        self.socks = []

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def run(self, lines: list[bytes], offsets: np.ndarray, rate: float,
            keep_responses: bool = False) -> StepResult:
        """Send ``lines[i]`` at ``offsets[i]`` seconds after the start;
        return when every answer arrived or timed out."""
        n = len(offsets)
        sel = selectors.DefaultSelector()
        bufs = [bytearray() for _ in self.socks]
        fifo: list[list[int]] = [[] for _ in self.socks]
        for j, s in enumerate(self.socks):
            s.setblocking(False)
            sel.register(s, selectors.EVENT_READ, j)
        sent_at = np.full(n, np.nan)
        done_at = np.full(n, np.nan)
        outstanding = np.zeros(n, dtype=np.int64)
        responses: list = [None] * n if keep_responses else []
        step = StepResult(rate, offsets, done_at, sent_at, outstanding)
        received = 0
        nxt = 0
        t0 = time.perf_counter() + 0.002
        # a collection of the caller's heap would stall the schedule
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            while received < n:
                now = time.perf_counter() - t0
                if nxt < n and offsets[nxt] <= now:
                    j = nxt % len(self.socks)
                    sent_at[nxt] = now
                    outstanding[nxt] = nxt - received
                    self.socks[j].setblocking(True)
                    self.socks[j].sendall(lines[nxt])
                    self.socks[j].setblocking(False)
                    step.request_bytes += len(lines[nxt])
                    fifo[j].append(nxt)
                    nxt += 1
                    continue
                if nxt < n:
                    wait = max(0.0, offsets[nxt] - now)
                else:
                    oldest = min(
                        (sent_at[f[0]] for f in fifo if f), default=now
                    )
                    wait = oldest + self.timeout_s - now
                    if wait <= 0:
                        break  # the rest timed out
                for key, _ in sel.select(timeout=min(wait, 0.05)):
                    j = key.data
                    try:
                        chunk = self.socks[j].recv(1 << 16)
                    except BlockingIOError:
                        continue
                    if not chunk:
                        raise ConnectionError("node closed the connection")
                    tnow = time.perf_counter() - t0
                    buf = bufs[j]
                    buf += chunk
                    while True:
                        cut = buf.find(b"\n")
                        if cut < 0:
                            break
                        raw = bytes(buf[:cut])
                        del buf[:cut + 1]
                        i = fifo[j].pop(0)
                        step.response_bytes += len(raw) + 1
                        received += 1
                        try:
                            resp = json.loads(raw)
                        except ValueError:
                            resp = {"error": "unparseable response"}
                        if "error" in resp:
                            step.errors += 1
                        else:
                            done_at[i] = tnow
                        if keep_responses:
                            responses[i] = resp
        finally:
            if gc_was_enabled:
                gc.enable()
            sel.close()
            for s in self.socks:
                s.setblocking(True)
        step.timeouts = n - received
        step.latency_s = done_at - offsets
        step.lateness_s = sent_at - offsets
        step.responses = responses
        return step
