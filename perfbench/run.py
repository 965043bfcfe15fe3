"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed, sets up the engine (Spark session, index build, serving node),
measures for ``--seconds`` seconds, checks every answer, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans written to ``.perfbench_work/``). A run whose
checks fail reports the failures and no metrics. See README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()
T0_EPOCH = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from common import (  # noqa: E402
    ROOT, SPARK_FIELDS, WORK, SparkOps, Tracer, cpu_ticks, fingerprint,
)
from workloads import SERVE_LADDER, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "p50_ms": "ms",
    "recall": "ratio",
}

SPARK_OPS = ("select_heads", "build_postings", "add_batch", "live_search",
             "knn", "trigger")
_SPARK_UNITS = {"jobs": "count", "tasks": "count", "shuffle_bytes": "bytes"}

#: every per-layer metric, in every workload's traced run; a layer the
#: workload does not exercise reads 0
LAYER = {
    "session.start_s": "s",
    "index.heads.select_s": "s",
    "index.heads.count": "count",
    "index.postings.build_s": "s",
    "index.postings.rows": "count",
    "index.postings.replication": "ratio",
    "index.postings.max_len": "count",
    "serving_local.load_s": "s",
    "serving_local.node_load_s": "s",
    "serving_local.search_p50_ms": "ms",
    "serving_local.search_p99_ms": "ms",
    "serving_local.postings_read_per_query": "count",
    "serving_local.rows_scanned_per_query": "count",
    "server.overhead_ms": "ms",
    "server.request_bytes": "bytes",
    "server.response_bytes": "bytes",
    "server.errors": "count",
    "server.rss_mb": "MB",
    "server.capacity_qps": "1/s",
    "loadgen.ref.tail_ms": "ms",
    "loadgen.ref.tail_level": "pct",
    "loadgen.ref.samples": "count",
    "loadgen.max_qps": "1/s",
    **{
        f"loadgen.r{r}.{m}": u
        for r in SERVE_LADDER
        for m, u in (("p99_ms", "ms"), ("lateness_p99_ms", "ms"),
                     ("max_in_flight", "count"), ("samples", "count"),
                     ("valid", "bool"))
    },
    "index.ann.route_s": "s",
    "index.ann.search_s": "s",
    "index.ann.rows_scanned_per_query": "count",
    "operators.knn.search_s": "s",
    **{
        f"spark.{op}.{f}": _SPARK_UNITS.get(f, "s")
        for op in SPARK_OPS
        for f in SPARK_FIELDS
    },
    "streaming.spfresh.add_batch_s": "s",
    "streaming.spfresh.delete_s": "s",
    "streaming.spfresh.search_s": "s",
    "streaming.spfresh.splits": "count",
    "streaming.spfresh.max_posting_len": "count",
    "streaming.stateful.trigger_p50_ms": "ms",
    "streaming.stateful.add_batch_ms": "ms",
    "streaming.stateful.state_commit_ms": "ms",
    "streaming.stateful.state_rows": "count",
    "streaming.stateful.state_bytes": "bytes",
    "streaming.stateful.trigger_growth": "ratio",
    "operators.dedup.candidates": "count",
    "operators.dedup.candidate_precision": "ratio",
    "trace.spans": "count",
    "trace.overhead_pct": "%",
}


def pin_environment(work: str, cpus: int) -> None:
    """Everything the engine and Spark write goes under the run's work
    directory; Spark runs local[cpus] with a driver sized to a small box."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPTAG_SPARK_DRIVER_MEM"] = "3g"
    os.environ["SPTAG_SPARK_AQE"] = "false"
    # every JVM (launcher and driver): temp files in the work dir, and no
    # hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


class Run:
    """One benchmark run: its settings, the engine handles, and what it
    measured and checked."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.work = work
        self.t0_epoch = T0_EPOCH
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer = dict.fromkeys(LAYER, 0.0)
        self.setup_s: float | None = None
        self.ops_per_s = self.p50_ms = self.recall = None
        self.build_s = 0.0
        self._children: list[subprocess.Popen] = []
        self.spark = self.sc = self.ops = None

    # -- bookkeeping used by the workloads
    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def span(self, name: str, **counts):
        return self.tracer.span(name, trace_id=f"{self.workload}/{self.seed}",
                                **counts)

    def attempt(self, n: int, failed: int = 0, what: str = "operations") -> None:
        """Count ``n`` operations, ``failed`` of which failed (error
        responses, timeouts)."""
        self.attempted += n
        self.failed += failed
        if failed and len(self.problems) < 20:
            self.problems.append(f"{failed} of {n} {what} failed")

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def mark_setup(self) -> None:
        self.setup_s = time.perf_counter() - T0

    def spawn(self, argv: list[str]) -> subprocess.Popen:
        p = subprocess.Popen(argv, stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True, cwd=ROOT)
        self._children.append(p)
        return p

    def stop(self, p: subprocess.Popen) -> None:
        if p.poll() is None:
            p.stdin.close()
            try:
                p.wait(timeout=15)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        p.stdout.close()

    @staticmethod
    def rss_mb(pid: int) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    # -- lifecycle
    def start_spark(self):
        from sptag_spark.session import get_spark

        t = time.perf_counter()
        with self.span("session.start"):
            self.spark = get_spark(f"perfbench-{self.workload}",
                                   cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
        self.layer["session.start_s"] = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.ops = SparkOps(self.spark)

    def stop_spark(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = self.sc = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def close(self) -> None:
        for p in self._children:
            self.stop(p)
        self.stop_spark()

    def result(self) -> dict:
        correct = self.failed == 0
        metrics = {}
        if correct:
            if self.trace:
                self.layer.update(self.ops.metrics(SPARK_OPS))
                self.layer["trace.spans"] = len(self.tracer.spans)
                self.layer["trace.overhead_pct"] = self.trace_overhead_pct()
                metrics = {k: {"value": float(self.layer[k]), "unit": u}
                           for k, u in LAYER.items()}
            else:
                e2e = {"setup_s": self.setup_s, "ops_per_s": self.ops_per_s,
                       "p50_ms": self.p50_ms, "recall": self.recall}
                metrics = {k: {"value": float(e2e[k]), "unit": u}
                           for k, u in END_TO_END.items()}
        return {"correct": correct, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def trace_overhead_pct(self) -> float:
        """Measured cost of recording one span, times the spans recorded,
        as a share of the timed phase."""
        probe = Tracer(True)
        n = 20_000
        t = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        per_span = (time.perf_counter() - t) / n
        timed = max(time.perf_counter() - T0 - (self.setup_s or 0.0), 1e-9)
        return 100.0 * per_span * len(self.tracer.spans) / timed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sptag_spark")):
        print(f"perfbench: no sptag_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = os.cpu_count() or 1
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work, cpus)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    loadavg_before = os.getloadavg()
    ticks_before = cpu_ticks()
    try:
        run.start_spark()
        WORKLOADS[args.workload](run)
    finally:
        run.close()
        if run.trace:
            run.tracer.dump(os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    # after the run: the GEMM sample is not set-up
    env = fingerprint(cpus, ticks_before)
    env.update(loadavg_before=loadavg_before,
               aqe=os.environ["SPTAG_SPARK_AQE"],
               driver_memory=os.environ["SPTAG_SPARK_DRIVER_MEM"])
    out = run.result()
    print(json.dumps({"fingerprint": env, "build_s": run.build_s,
                      "problems": run.problems}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
