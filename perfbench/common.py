"""Shared pieces of the benchmark: seeded inputs, statistics, tracing,
the machine fingerprint and Spark's in-process status-store readings.

Nothing here imports pyspark at module level, so the pure helpers can be
tested without a JVM.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

DIM = 64
K = 10
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


# --------------------------------------------------------------------------
# seeded inputs
# --------------------------------------------------------------------------


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, purpose): adding a draw to one
    input never shifts another input's values."""
    digest = hashlib.sha256(f"{seed}/{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


@dataclass
class Mixture:
    """A Gaussian mixture in DIM dimensions: component centers, their
    spread and the per-point noise."""

    centers: np.ndarray
    noise: float = 1.0

    @classmethod
    def draw(cls, seed: int, n_components: int, spread: float = 4.0):
        r = rng_for(seed, "mixture")
        return cls(r.normal(size=(n_components, DIM)) * spread)

    def sample(self, r: np.random.Generator, comp: np.ndarray) -> np.ndarray:
        x = self.centers[comp] + r.normal(size=(len(comp), DIM)) * self.noise
        return x.astype(np.float32)


def corpus(seed: int, n: int, n_components: int) -> tuple[Mixture, np.ndarray]:
    """(mixture, n×DIM float32 vectors whose id is their row number)."""
    mix = Mixture.draw(seed, n_components)
    r = rng_for(seed, "corpus")
    return mix, mix.sample(r, r.integers(0, n_components, n))


def zipf_components(r: np.random.Generator, n: int, n_components: int,
                    s: float = 1.1) -> np.ndarray:
    """n component indices, Zipf-skewed: component c has weight 1/(c+1)^s
    under a seeded permutation, so the hot components differ per seed."""
    w = 1.0 / np.arange(1, n_components + 1) ** s
    perm = r.permutation(n_components)
    return perm[r.choice(n_components, size=n, p=w / w.sum())]


def write_vectors(path: str, ids: np.ndarray, X: np.ndarray,
                  id_col: str = "id") -> str:
    """Write (id long, vector array<float>) as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    flat = pa.array(np.ascontiguousarray(X, dtype=np.float32).ravel())
    vec = pa.FixedSizeListArray.from_arrays(flat, X.shape[1]).cast(
        pa.list_(pa.float32())
    )
    pq.write_table(
        pa.table({id_col: pa.array(ids, pa.int64()), "vector": vec}), path
    )
    return path


def exact_topk(X: np.ndarray, ids: np.ndarray, Q: np.ndarray,
               k: int = K) -> tuple[np.ndarray, np.ndarray]:
    """NumPy ground truth: (ids, squared-l2 dists), each |Q|×k, ordered by
    (dist, id) — the engine's tie order."""
    Xd = X.astype(np.float64)
    Qd = Q.astype(np.float64)
    xx = np.einsum("ij,ij->i", Xd, Xd)
    out_i = np.empty((len(Qd), k), dtype=np.int64)
    out_d = np.empty((len(Qd), k))
    for lo in range(0, len(Qd), 256):
        q = Qd[lo:lo + 256]
        d = xx[None, :] - 2.0 * q @ Xd.T + np.einsum("ij,ij->i", q, q)[:, None]
        part = np.argpartition(d, min(k + 8, d.shape[1] - 1), axis=1)[:, :k + 8]
        for j in range(len(q)):
            cand = part[j]
            exact = ((Xd[cand] - q[j]) ** 2).sum(axis=1)
            order = np.lexsort((ids[cand], exact))[:k]
            out_i[lo + j] = ids[cand[order]]
            out_d[lo + j] = exact[order]
    return out_i, out_d


def recall(found: dict[int, list[int]], truth_ids: np.ndarray,
           qids: np.ndarray) -> float:
    """Mean |found ∩ truth| / k over the queries."""
    k = truth_ids.shape[1]
    hits = sum(
        len(set(found.get(int(q), ())) & set(truth_ids[j].tolist()))
        for j, q in enumerate(qids)
    )
    return hits / (k * len(qids))


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

#: percentiles the tail rule may report, highest first
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_level(n: int) -> float | None:
    """The highest percentile with at least ten samples beyond it, or None
    when n is too small for any (fewer than 20 samples)."""
    for p in TAIL_LEVELS:
        if round(n * (100.0 - p), 6) >= 1000.0:
            return p
    return None


def percentile(values, p: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), p))


def median(values) -> float:
    return float(np.median(np.asarray(values, dtype=np.float64)))


def check_topk_rows(ids: list[int], dists: list[float], k: int,
                    valid_ids: np.ndarray | None,
                    banned: set[int] | None = None) -> list[str]:
    """Shape checks for one query's answer → list of problems (empty = ok):
    k rows, ids unique and known, dists finite and non-decreasing, no
    banned (deleted) id."""
    problems = []
    if len(ids) != k:
        problems.append(f"{len(ids)} rows, want {k}")
    if len(set(ids)) != len(ids):
        problems.append("duplicate ids")
    d = np.asarray(dists, dtype=np.float64)
    if len(d) and (not np.all(np.isfinite(d)) or np.any(np.diff(d) < 0)):
        problems.append("dists not finite and non-decreasing")
    if valid_ids is not None and len(ids):
        if not np.all(np.isin(np.asarray(ids, dtype=np.int64), valid_ids)):
            problems.append("id outside the corpus")
    if banned and banned.intersection(ids):
        problems.append("deleted id returned")
    return problems


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans, written out when the run ends. ``enabled=False``
    makes ``span`` a no-op so untraced runs pay nothing but a call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str = "run", **counts):
        if not self.enabled:
            yield counts
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, time.perf_counter(), 0.0, parent, trace_id, counts)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s.counts
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        """Write the spans and each span name's summed self time."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans],
                       "self_s": self_times(self.spans)}, f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = (s.end - s.start) - _covered(children.get(i, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


# --------------------------------------------------------------------------
# machine fingerprint
# --------------------------------------------------------------------------


def gemm_gflops(n: int = 768, reps: int = 5) -> float:
    """Median GFLOPS of an n×n float64 GEMM on this process's BLAS."""
    r = np.random.default_rng(0)
    a, b = r.random((n, n)), r.random((n, n))
    a @ b
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        a @ b
        times.append(time.perf_counter() - t)
    return 2.0 * n ** 3 / median(times) / 1e9


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot from /proc/stat; (0, 0) where it
    is missing. Steal is time the hypervisor gave this machine's virtual
    CPUs to someone else: a run with much of it ran on a contended host."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return sum(vals[:8]), (vals[7] if len(vals) > 7 else 0)


def fingerprint(cpus: int, ticks_before: tuple[int, int]) -> dict:
    import pyspark

    total, steal = (a - b for a, b in zip(cpu_ticks(), ticks_before))
    return {
        "cpu_steal_pct": round(100.0 * steal / total, 2) if total else None,
        "nproc": os.cpu_count(),
        "spark_master": f"local[{cpus}]",
        "loadavg_after": os.getloadavg(),
        "gemm_gflops": round(gemm_gflops(), 2),
        # driver BLAS threads; get_spark pins one per Python worker
        "blas_threads": {v: os.environ.get(v, "unset") for v in
                         ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                          "MKL_NUM_THREADS")},
        "python": platform.python_version(),
        "numpy": np.__version__,
        "pyspark": pyspark.__version__,
        "machine": platform.machine(),
    }


# --------------------------------------------------------------------------
# Spark status-store readings
# --------------------------------------------------------------------------

SPARK_FIELDS = ("jobs", "tasks", "driver_s", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_bytes")


def _opt(jopt):
    return jopt.get() if jopt.isDefined() else None


class SparkOps:
    """Runs engine calls under a job group per operation and sums what
    Spark's status stores recorded for them: jobs, tasks, executor run,
    CPU and GC time, shuffle bytes, and driver time (the call's wall minus
    the union of its jobs' spans)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.totals: dict[str, dict[str, float]] = {}
        self._n = 0

    @contextmanager
    def op(self, name: str):
        self._n += 1
        group = f"perfbench-{name}-{self._n}"
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            wall = time.time() - t0
            self.sc.setJobGroup("perfbench-idle", "idle")
            self.add(name, self.sc.statusTracker().getJobIdsForGroup(group),
                     wall, t0)

    def add(self, name: str, job_ids, wall: float | None = None,
            t0: float | None = None) -> None:
        store = self.sc._jsc.sc().statusStore()
        tot = self.totals.setdefault(name, dict.fromkeys(SPARK_FIELDS, 0.0))
        spans = []
        for jid in job_ids:
            try:
                job = store.job(int(jid))
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            tot["jobs"] += 1
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None and done is not None:
                spans.append((sub.getTime() / 1e3, done.getTime() / 1e3))
            sids = job.stageIds()
            for j in range(sids.size()):
                try:
                    st = store.lastStageAttempt(int(sids.apply(j)))
                except Exception:  # noqa: BLE001 - skipped stage
                    continue
                tot["tasks"] += st.numCompleteTasks()
                tot["executor_run_s"] += st.executorRunTime() / 1e3
                tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_bytes"] += st.shuffleWriteBytes()
        if wall is not None:
            tot["driver_s"] += max(0.0, wall - _covered(spans, t0, t0 + wall))

    def metrics(self, ops) -> dict[str, float]:
        out = {}
        for op in ops:
            tot = self.totals.get(op, dict.fromkeys(SPARK_FIELDS, 0.0))
            for f in SPARK_FIELDS:
                out[f"spark.{op}.{f}"] = tot[f]
        return out
