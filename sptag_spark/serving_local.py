"""In-memory SPANN serving replica — ms-latency serving of Spark-built artifacts.

The reference's deployment shape (SURVEY §2.11, `Server/ServiceContext.cpp`)
is: indexes are BUILT offline, then every serving node loads the artifacts
into RAM/SSD and answers queries from memory at ms latency; the aggregator
shards queries across such replicas. In this engine, Spark IS the offline
build tier (heads, partitioned postings — `index/`), and Spark batch plans
are the high-throughput serve tier; but a per-query job costs ~1s of fixed
scheduling at any scale, so the reference's ms-scale SINGLE-QUERY operating
point needs the reference's own serving shape: load the Spark-built
artifacts into a process-local replica and answer with NumPy.

This module is that replica. It consumes exactly what the Spark side
persists (`io/index_store.py` save_index layout, or live heads/postings
DataFrames) and mirrors `index/ann.py`'s routing + scoring semantics —
including the `limitDist > 0.1` ratio-cut guard and (dist, id) tie order —
so `tests/test_serving_local.py` can pin replica results row-identical to
the distributed `ann_search` plan.

Scale contract: ONE replica must hold heads + postings in RAM — the same
contract the reference imposes per serving node (SPANN keeps postings on
local SSD). Sharding above that is the aggregator's job (`index/ann.py`
route_queries is that same operator, distributed).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from sptag_spark.index.ann import MAX_DIST_RATIO, SEARCH_INTERNAL_RESULT_NUM
from sptag_spark.operators.knn import _exact_pair_dists


def _route_batch(
    head_ids: np.ndarray,
    H: np.ndarray,
    Q: np.ndarray,
    nprobe: int,
    metric: str,
    max_dist_ratio: float,
    nq: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray]:
    """Batched head routing — per query, bitwise the search_one selection:
    BLAS preselect of nprobe+16 heads behind a tie-safe threshold (keep
    everything <= the kth value, so boundary ties never drop), exact
    row-paired rescore of just those pairs, then the (dist, head_id) order
    and limitDist guard on exact values. → (pair_q, pair_h): query index /
    head slot of every (query, probed head) pair."""
    from sptag_spark.operators.knn import (
        _block_distances,
        _exact_rowpair_dists,
    )

    B = len(Q)
    nH = len(head_ids)
    npb = min(nprobe, nH)
    kkh = min(npb + 16, nH)
    chunk = max(1, int(16_000_000 // max(nH, 1)))
    pq_parts: list[np.ndarray] = []
    ph_parts: list[np.ndarray] = []
    for c0 in range(0, B, chunk):
        Qc = Q[c0 : c0 + chunk]
        DH = _block_distances(H, Qc, metric)  # (nH, m)
        t = np.partition(DH, kkh - 1, axis=0)[kkh - 1]  # (m,)
        qi, hi_ = np.nonzero((DH <= t[None, :]).T)
        pq_parts.append(qi + c0)
        ph_parts.append(hi_)
    pair_q = np.concatenate(pq_parts)
    pair_h = np.concatenate(ph_parts)
    hd = _exact_rowpair_dists(
        H[pair_h],
        Q[pair_q],
        metric,
        nq_rows=(nq[pair_q] if nq is not None else None),
    )
    o = np.lexsort((head_ids[pair_h], hd, pair_q))
    pair_q, pair_h, hd = pair_q[o], pair_h[o], hd[o]
    pos = _run_positions(pair_q)
    keep = pos < npb
    pair_q, pair_h, hd, pos = (
        pair_q[keep],
        pair_h[keep],
        hd[keep],
        pos[keep],
    )
    if max_dist_ratio < float("inf"):
        # pos==0 is each query's min head distance (runs are
        # (dist, id)-sorted); scatter it to the run then cut
        starts = np.nonzero(pos == 0)[0]
        run_id = np.cumsum(pos == 0) - 1
        cut = hd[starts][run_id] * max_dist_ratio
        keep = ~(cut > 0.1) | (hd <= cut)  # limitDist guard
        pair_q, pair_h = pair_q[keep], pair_h[keep]
    return pair_q, pair_h


def route_to_shards(
    centers: np.ndarray | None,
    scatter_topk: int | None,
    q: np.ndarray,
    metric: str,
    n: int,
) -> list[int]:
    """Center-routed scatter selection, shared by the in-process and
    network aggregators: indices of the scatter_topk nearest of ``n``
    shards by query-to-center distance ((dist, index) determinism in
    place of the reference's unstable std::sort ties), or all of them
    when routing is off. scatter_topk <= 0 means BROADCAST — the
    reference's TopK default -1 (`AggregatorContext.cpp:36`), not a
    negative slice."""
    if (
        centers is None
        or scatter_topk is None
        or scatter_topk <= 0
        or scatter_topk >= n
    ):
        return list(range(n))
    # empty shards carry +inf sentinel centers; score only finite rows so
    # the ip/cosine kernels never compute through inf·0 = NaN (the old
    # post-hoc np.where guard was correct but raised RuntimeWarnings).
    # The never-route-to-empty invariant holds by construction: masked
    # rows keep +inf and sort last (r10/r12 advice).
    finite = np.isfinite(centers).all(axis=1)
    d = np.full(n, np.inf)
    if finite.any():
        d[finite] = _exact_pair_dists(
            centers[finite], np.asarray(q, np.float64), metric
        )
    d = np.where(np.isfinite(d), d, np.inf)
    order = np.lexsort((np.arange(n), d))
    return [int(i) for i in order[:scatter_topk]]


def _id_filter_mask(
    ids: np.ndarray,
    deleted_ids: np.ndarray | None,
    allowed_ids: np.ndarray | None,
) -> np.ndarray | None:
    """Serve-time candidate filter: keep ids not in ``deleted_ids``
    (tombstones) and, when given, in ``allowed_ids`` (a metadata
    predicate's surviving ids). → boolean mask, or None when no filter
    applies (callers skip the indexing pass)."""
    keep = None
    if deleted_ids is not None and len(deleted_ids):
        keep = np.isin(ids, np.asarray(deleted_ids), invert=True)
    if allowed_ids is not None:
        k2 = np.isin(ids, np.asarray(allowed_ids))
        keep = k2 if keep is None else (keep & k2)
    return keep


def _run_positions(sorted_keys: np.ndarray) -> np.ndarray:
    """Position of each element within its run of equal keys (keys must
    be pre-sorted) — the segment-arithmetic replacement for a per-group
    ``arange`` loop in the batched rank/preselect stages."""
    new = np.empty(len(sorted_keys), dtype=bool)
    new[0] = True
    new[1:] = sorted_keys[1:] != sorted_keys[:-1]
    starts = np.nonzero(new)[0]
    run_id = np.cumsum(new) - 1
    return np.arange(len(sorted_keys), dtype=np.int64) - starts[run_id]


def _dedup_keep_min(
    cq: np.ndarray,
    key2: np.ndarray,
    val: np.ndarray,
    *carry: np.ndarray,
) -> tuple:
    """One row per (cq, key2) pair, keeping the MINIMUM ``val`` (carried
    arrays take the group's first row in sorted order — callers only pass
    carries whose value is identical across a group's rows, e.g. replica
    rows of one vector id). Packs the pair into one int64 for a single
    argsort pass when key2 fits 32 bits; arbitrary keys take the 3-key
    lexsort. Shared by the full-vector and PQ batch dedups.
    → (cq_u, key2_u, val_u, *carry_u)."""
    if (
        len(key2)
        and key2.min() >= 0
        and key2.max() < (1 << 32)
        and cq.max() < (1 << 31)
    ):
        key = (cq << np.int64(32)) | key2
        o = np.argsort(key, kind="stable")
        key_s = key[o]
        new = np.empty(len(key_s), dtype=bool)
        new[0] = True
        new[1:] = key_s[1:] != key_s[:-1]
        starts = np.nonzero(new)[0]
        return (
            key_s[starts] >> np.int64(32),
            key_s[starts] & np.int64(0xFFFFFFFF),
            np.minimum.reduceat(val[o], starts),
            *(c[o[starts]] for c in carry),
        )
    o = np.lexsort((val, key2, cq))
    cq_s, k_s, v_s = cq[o], key2[o], val[o]
    new = np.empty(len(cq_s), dtype=bool)
    new[0] = True
    new[1:] = (cq_s[1:] != cq_s[:-1]) | (k_s[1:] != k_s[:-1])
    return (
        cq_s[new],
        k_s[new],
        v_s[new],
        *(c[o[new]] for c in carry),
    )


def _exact_rerank(
    cq: np.ndarray,
    ids: np.ndarray,
    V: np.ndarray,
    Q: np.ndarray,
    nq: np.ndarray | None,
    metric: str,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Exact row-paired distance of each (query, candidate) pair — ``V``
    holds the candidates' true vectors, promoted to float64 before any
    arithmetic so a float32/int8 store scores bit-identically to a
    float64 copy — then the final (query, dist, id) order. The batch
    path's last stage for both the full-vector rescore and the PQ refine.
    → (cq, ids, dists) sorted, and each row's rank within its query."""
    from sptag_spark.operators.knn import _exact_rowpair_dists

    d = _exact_rowpair_dists(
        np.asarray(V, dtype=np.float64),
        Q[cq],
        metric,
        nq_rows=(nq[cq] if nq is not None else None),
    )
    o = np.lexsort((ids, d, cq))
    return cq[o], ids[o], d[o], _run_positions(cq[o])


_BATCH_QUERY_CHUNK = 512  # batch_search sub-batch size (measured knee, r10)


def _load_heads(heads: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Collect the head table (the small side, by the RAM contract) →
    (head_ids sorted ascending, float64 centroids in the same order)."""
    hp = heads.select("head_id", "vector").toPandas()
    raw = hp["head_id"].to_numpy(np.int64)
    order = np.argsort(raw)
    return raw[order], np.array(hp["vector"].tolist(), dtype=np.float64)[order]


class _RoutedReplica:
    """The SPANN search loop every process-local replica runs — route to
    heads, read the routed posting slabs, score, top-k — with the scorer
    plugged in, the way the reference plugs its quantizer into one SPANN
    loop (`SPANN/Index.h:46-59`, `PQQuantizer.h`). Routing, the head-major
    slab pass, serve-time filters, replica dedup and the (dist, id) rank
    are shared; a subclass supplies three hooks:

    - ``_ids(rows)``: posting positions → vector ids;
    - ``_slab_scorer(Q, metric, k)``: per-batch setup → a function scoring
      one slab's rows against the queries probing it;
    - ``_rerank(...)``: the final stage on the ranked candidates → (query
      idx, id, dist, rank within query), in (query, dist, id) order.

    Slab layout: ``head_ids``/``H`` sorted by head id, and per head an
    EXTENT (``slab_off``, ``slab_len``) into the posting arrays — the
    indirection that lets a patched disk store keep slabs non-contiguous
    (log-structured appends); contiguous CSR otherwise."""

    #: per-call IO counters in the reference harness's "Ex IOs / Ex
    #: Elements" shape (SSDIndex.h:288-345) — class defaults so every
    #: subclass (incl. from_store loaders that bypass __init__) reads 0
    #: before its first search
    last_io_postings = 0
    last_io_rows = 0
    last_batch_io: dict | None = None
    #: store-exported tombstones (DiskSpannReplica over a sync_store'd
    #: store), merged into every call's serve-time filter
    store_deleted_ids: np.ndarray | None = None

    def _set_slabs(
        self,
        head_ids: np.ndarray,
        H: np.ndarray,
        slab_off: np.ndarray,
        slab_len: np.ndarray,
    ) -> None:
        """Install the head table and slab extents, dropping MEMBERLESS
        heads (r12): a reference head always holds at least its own
        vector (ApproximateRNG assigns every vector via the exact head
        search), but the routed grouped assignment can displace a head
        into groups none of its nearby vectors probe — an empty posting.
        Serving one is pure waste, and worse: a query whose NEAREST head
        is empty lets the limitDist guard prune every other head and
        answer EMPTY (measured, r12 dim-100 probe — 11 of 64 queries).
        nprobe then counts real postings only, as in the reference. The
        mask is load-time only — store files are untouched, so legacy,
        fresh and patched stores all serve identically."""
        if len(slab_len) and (slab_len == 0).any():
            keep = slab_len > 0
            head_ids, H = head_ids[keep], H[keep]
            slab_off, slab_len = slab_off[keep], slab_len[keep]
        self.head_ids, self.H = head_ids, H
        self.slab_off, self.slab_len = slab_off, slab_len
        # live-rows cumulative, kept for introspection (posting lengths
        # via np.diff, total via [-1])
        self.indptr = np.concatenate(([0], np.cumsum(slab_len)))

    def _with_store_tombstones(
        self, deleted_ids: np.ndarray | None
    ) -> np.ndarray | None:
        """Merge the store-exported tombstones (sync_store) into a
        caller's serve-time filter."""
        if self.store_deleted_ids is None:
            return deleted_ids
        if deleted_ids is None or len(deleted_ids) == 0:
            return self.store_deleted_ids
        return np.union1d(
            np.asarray(deleted_ids, dtype=np.int64), self.store_deleted_ids
        )

    def _probe(
        self, q: np.ndarray, nprobe: int, metric: str, max_dist_ratio: float
    ) -> np.ndarray:
        """search_one's routing and slab gather: the nprobe nearest heads
        in (dist, head_id) order, cut by the limitDist guard
        (SPANNIndex.cpp:217-230) → posting positions of their slabs."""
        if len(self.head_ids) == 0:  # empty shard answers empty, not a crash
            self.last_io_postings = self.last_io_rows = 0
            return np.empty(0, dtype=np.int64)
        hd = _exact_pair_dists(self.H, q, metric)
        sel = np.lexsort((self.head_ids, hd))[: min(nprobe, len(self.head_ids))]
        if max_dist_ratio < float("inf"):
            cut = hd[sel].min() * max_dist_ratio
            if cut > 0.1:  # limitDist guard (SPANNIndex.cpp:217-230)
                sel = sel[hd[sel] <= cut]
        cand = np.concatenate(
            [
                np.arange(
                    self.slab_off[s], self.slab_off[s] + self.slab_len[s]
                )
                for s in sel
            ]
        ) if len(sel) else np.empty(0, dtype=np.int64)
        # per-query IO witness, the reference harness's "Ex IOs / Ex
        # Elements" columns (SSDIndex.h:288-345): posting lists read and
        # candidate rows gathered from the store — for DiskSpannReplica
        # these ARE the memmap reads. Two ints; bench reads them per call.
        self.last_io_postings = int(len(sel))
        self.last_io_rows = int(cand.size)
        return cand

    def batch_search(
        self,
        queries: list[tuple[int, np.ndarray]],
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> list[tuple[int, int, int, float]]:
        """→ rows of (query_id, rank, id, dist) — the QueryResult contract,
        row-identical to a search_one loop but VECTORIZED head-major: the
        batch's (query, probed-head) pairs are inverted so each posting
        slab is gathered from the store ONCE per batch (for the disk
        replica, one page-read per slab instead of one per query probing
        it) and scored against all its queries in one block — the
        reference's batch-throughput shape (`SearchIndex` over a query
        batch amortizes posting reads the same way). The subclass's
        scorer and final stage decide the reported values; every stage
        around them is segment arithmetic, no per-query loop.

        Candidate memory is O(batch · nprobe · posting_limit) scalar rows
        (vectors never accumulate — only the probed slab is resident);
        the planner's REPLICA_DISPATCH_MAX_QUERIES cap bounds it at serve
        scale."""
        if not queries or len(self.head_ids) == 0:
            return []
        deleted_ids = self._with_store_tombstones(deleted_ids)
        # above ~512 queries the global sort/dedup arrays outgrow cache and
        # per-query cost starts climbing back up — process in chunks at the
        # measured sweet spot (SCALING.md r10 batch table; a THREADED chunk
        # fan-out was also measured: ≤13% at 4 workers, negative at 8, so
        # the loop stays serial)
        args = (k, nprobe, metric, max_dist_ratio, deleted_ids, allowed_ids)
        out: list[tuple[int, int, int, float]] = []
        ios: list[dict] = []
        for i in range(0, len(queries), _BATCH_QUERY_CHUNK):
            out.extend(
                self._batch_chunk(queries[i : i + _BATCH_QUERY_CHUNK], *args)
            )
            ios.append(self.last_batch_io)
        if len(ios) > 1:  # stitch the chunked IO tables back to batch order
            self.last_batch_io = {
                key: np.concatenate([io[key] for io in ios]) for key in ios[0]
            }
        return out

    def _batch_chunk(
        self, queries, k, nprobe, metric, max_dist_ratio, deleted_ids,
        allowed_ids,
    ) -> list[tuple[int, int, int, float]]:
        qids = np.array([int(qid) for qid, _ in queries], dtype=np.int64)
        Q = np.array([np.asarray(v, dtype=np.float64) for _, v in queries])
        B = len(Q)
        # per-query 1-D norms for cosine rescore (the pair kernel computes
        # np.linalg.norm(q) per query — same code path, so same ulps)
        nq = (
            np.array([np.linalg.norm(q) for q in Q])
            if metric == "cosine"
            else None
        )

        # Stage 1 — routing (shared helper; bitwise the search_one
        # selection, incl. the (dist, head_id) tie order and limitDist
        # guard on exact values)
        pair_q, pair_h = _route_batch(
            self.head_ids, self.H, Q, min(nprobe, len(self.head_ids)),
            metric, max_dist_ratio, nq,
        )
        # per-query LOGICAL IO table (reference shape, SSDIndex.h:288-345):
        # lists read / rows gathered per query. The head-major pass below
        # amortizes the PHYSICAL slab reads across queries sharing a head —
        # that amortization is the batch win; the reference's per-query
        # table is logical, which this matches (bitwise search_one's
        # counters). Two bincounts over the routed pairs — negligible.
        self.last_batch_io = {
            "postings_read": np.bincount(pair_q, minlength=B),
            "rows_scanned": np.bincount(
                pair_q, weights=self.slab_len[pair_h], minlength=B
            ).astype(np.int64),
        }
        if pair_h.size == 0:
            return []

        # Stage 2 — head-major scoring: one slab gather per distinct
        # probed head, scored for every query probing it.
        score = self._slab_scorer(Q, metric, k)
        ho = np.argsort(pair_h, kind="stable")
        ph, pq = pair_h[ho], pair_q[ho]
        bnd = np.nonzero(ph[1:] != ph[:-1])[0] + 1
        starts = np.concatenate(([0], bnd))
        ends = np.concatenate((bnd, [len(ph)]))
        # serve-time filter BEFORE scoring: a scorer's per-slab cap ranks
        # by unfiltered distance, so a selective filter applied later
        # would silently evict surviving candidates that search_one
        # back-fills (caught by code review; pinned by
        # test_batch_filter_survives_slab_cap). One mask covers every
        # probed slab's rows — one id lookup per chunk, not per slab —
        # and is sliced per slab below.
        lens = self.slab_len[ph[starts]]
        first = np.concatenate(([0], np.cumsum(lens)))
        keep = None
        if (deleted_ids is not None and len(deleted_ids)) or (
            allowed_ids is not None
        ):
            all_rows = np.arange(first[-1], dtype=np.int64) + np.repeat(
                self.slab_off[ph[starts]] - first[:-1], lens
            )
            keep = _id_filter_mask(self._ids(all_rows), deleted_ids, allowed_ids)
        parts: list[tuple] = []  # (query idx, posting pos, value) per slab
        for j, (s0, e0) in enumerate(zip(starts, ends)):
            lo = int(self.slab_off[ph[s0]])
            rows = np.arange(lo, lo + int(lens[j]), dtype=np.int64)
            if keep is not None:
                rows = rows[keep[first[j] : first[j + 1]]]
            if rows.size == 0:
                continue
            parts.append(score(rows, pq[s0:e0]))
        if not parts:
            return []
        cq, cr, cd = (np.concatenate(c) for c in zip(*parts))

        # Stage 3 — global dedup + rank: replica dedup by (query, id)
        # (replicas of an id share one vector, so any representative row
        # scores identically), (dist, id) order per query, then the
        # subclass's final stage and the top-k cut.
        cq_u, ids_u, cd_u, cr_u = _dedup_keep_min(cq, self._ids(cr), cd, cr)
        o = np.lexsort((ids_u, cd_u, cq_u))
        cq_u, ids_u, cd_u, cr_u = cq_u[o], ids_u[o], cd_u[o], cr_u[o]
        cq_u, ids_u, d_u, pos = self._rerank(
            cq_u, ids_u, cd_u, cr_u, _run_positions(cq_u), Q, nq, metric, k
        )
        fin = pos < k
        return [
            (int(qids[p]), int(r), int(i), float(dd))
            for p, r, i, dd in zip(
                cq_u[fin], pos[fin] + 1, ids_u[fin], d_u[fin]
            )
        ]


class LocalSpannReplica(_RoutedReplica):
    """Process-local SPANN index: broadcast-free, job-free serving."""

    dispatch_label = "replica"  # planner last_dispatch tag

    def __init__(self, heads: DataFrame, postings: DataFrame) -> None:
        head_ids, H = _load_heads(heads)
        pp = postings.select("head_id", "id", "vector").toPandas()
        slot = np.searchsorted(head_ids, pp["head_id"].to_numpy(np.int64))
        porder = np.argsort(slot, kind="stable")
        slot = slot[porder]
        self.post_ids = pp["id"].to_numpy(np.int64)[porder]
        self.post_V = np.array(pp["vector"].tolist(), dtype=np.float64)[porder]
        indptr = np.searchsorted(slot, np.arange(len(head_ids) + 1))
        self._set_slabs(head_ids, H, indptr[:-1], np.diff(indptr))

    @classmethod
    def from_path(cls, spark: SparkSession, path: str) -> "LocalSpannReplica":
        """Load from a save_index() directory — the handoff from the Spark
        build tier to a serving node."""
        heads = spark.read.parquet(os.path.join(path, "heads"))
        postings = spark.read.parquet(os.path.join(path, "postings"))
        return cls(heads, postings)

    def search_one(
        self,
        q: np.ndarray,
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """→ (ids, dists), rank order. Same routing + scoring semantics as
        the distributed plan (index/ann.py). The per-query fast path —
        a batch of one through batch_search returns the same rows at
        about twice the latency.

        ``deleted_ids`` / ``allowed_ids``: serve-time candidate filters —
        the reference's serving node drops tombstoned ids during search
        (`SPANNIndex.cpp` checks m_deletedID per candidate; metadata
        filters reach the same spot via the filter UDF, §2.2) rather than
        rebuilding. Filtering happens BEFORE scoring, after dedup, so the
        top-k back-fills from the surviving candidates exactly like the
        reference's heap that never admits a deleted id."""
        q = np.asarray(q, dtype=np.float64)
        cand = self._probe(q, nprobe, metric, max_dist_ratio)
        if cand.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0)
        # replica dedup on vector id (same as the distributed min-agg)
        ids = self.post_ids[cand]
        _, first = np.unique(ids, return_index=True)
        cand = cand[first]
        ids = self.post_ids[cand]
        keep = _id_filter_mask(
            ids, self._with_store_tombstones(deleted_ids), allowed_ids
        )
        if keep is not None:
            cand, ids = cand[keep], ids[keep]
        if cand.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0)
        # explicit float64 promotion of the gathered slab: a float32
        # store (DiskSpannReplica's memmap) must score bit-identically to
        # the RAM replica's float64 copy — l2 promotes inside V - q, but
        # cosine's norm would otherwise accumulate in float32
        d = _exact_pair_dists(
            np.asarray(self.post_V[cand], dtype=np.float64), q, metric
        )
        top = np.lexsort((ids, d))[: min(k, len(ids))]
        return ids[top], d[top]

    def _ids(self, rows: np.ndarray) -> np.ndarray:
        return self.post_ids[rows]

    # The select-then-rescore contract of the batch path: BLAS block
    # values pick candidates behind a TIE-SAFE threshold (the kth smallest
    # value per query, keeping everything <= it, so boundary ties are
    # never dropped) with a +16 noise margin, and every REPORTED value is
    # the exact row-paired recompute — bitwise search_one's — so the
    # final (dist, id) rank can only differ if GEMM noise exceeded 16 true
    # neighbors, which distinct vectors' distance gaps dwarf. The same
    # contract as the distributed kernel (`operators/knn.py _topk_frame`),
    # so reported values stay bit-identical to search_one and the oracle.

    def _slab_scorer(self, Q: np.ndarray, metric: str, k: int):
        """→ score(rows, qsub): one BLAS block per slab; the tie-safe
        local top-(k+16) caps what flows downstream (the global top-k is
        a subset of every slab's local top-k)."""
        from sptag_spark.operators.knn import _block_distances

        kk = k + 16

        def score(rows: np.ndarray, qsub: np.ndarray) -> tuple:
            slab = np.asarray(self.post_V[rows], dtype=np.float64)
            D = _block_distances(slab, Q[qsub], metric)  # (|rows|, |qsub|)
            if len(rows) > kk:
                t = np.partition(D, kk - 1, axis=0)[kk - 1]  # (|qsub|,)
                r, c = np.nonzero((D <= t[None, :]).T)
                return qsub[r], rows[c], D[c, r]
            return (
                np.repeat(qsub, len(rows)),
                np.tile(rows, len(qsub)),
                D.T.ravel(),
            )

        return score

    def _rerank(self, cq, ids, cd, rows, pos, Q, nq, metric, k) -> tuple:
        """Margin preselect on BLAS values, then the exact row-paired
        rescore of the survivors from ``post_V``."""
        keep = pos < k + 16
        return _exact_rerank(
            cq[keep], ids[keep], self.post_V[rows[keep]], Q, nq, metric
        )


#: native VALUE-TYPE packed stores (VERDICT r11 #1): the reference keeps
#: vectors in their declared type end-to-end — Dataset<T> rows are
#: D×sizeof(T) bytes (`AnnService/inc/Core/VectorSet.h:35`,
#: `Dataset.h:78-94`), so SPACEV1B's int8 corpus costs 1 byte/component on
#: SSD and per posting read. A float32-only store is 4× that I/O. The
#: score kernels promote every gathered slab to float64 before any
#: arithmetic, so an int8/uint8/int16 store is RESULT-IDENTICAL whenever
#: the cast is lossless — which the builders verify per Arrow batch.
_STORE_DTYPES = {
    "float32": np.float32,
    "int8": np.int8,
    "uint8": np.uint8,
    "int16": np.int16,
}
_STORE_EXT = {"float32": "f32", "int8": "i8", "uint8": "u8", "int16": "i16"}


def _pack_values(V32: np.ndarray, value_type: str) -> np.ndarray:
    """Cast a float32 vector block to the store's value type, REFUSING a
    lossy cast: an int8 store of a genuinely-float corpus would silently
    change every distance, so the builder fails loudly instead (the
    reference can't hit this — its Dataset<T> never converts)."""
    if value_type == "float32":
        return V32
    dt = _STORE_DTYPES[value_type]
    Vt = V32.astype(dt)
    if not np.array_equal(Vt.astype(np.float32), V32):
        raise ValueError(
            f"value_type={value_type!r} packed store would be LOSSY: vector "
            f"components are not exactly representable as {value_type} — "
            "build with value_type='float32' (or ingest the corpus in its "
            "native integer type)"
        )
    return Vt


def _vector_crc(df: DataFrame):
    """Order-independent CONTENT checksum of the vector column: integer
    sum of per-row crc32 over the JSON form. Ids alone are blind to a
    re-embedded corpus (same ids, new values) — the exact case where
    serving a stale store silently answers with the previous embedding's
    distances (r10 review)."""
    from pyspark.sql import functions as F

    return F.sum(F.crc32(F.to_json(F.col("vector"))))


def postings_fingerprint(postings: DataFrame) -> dict:
    """Identity of the posting set a packed store was built from — row
    count + (head_id, id) checksum + vector content checksum, one agg
    job. Recorded in the store's meta.json so a rebuilt index at the same
    path never serves a stale store (the same staleness class ADVICE r9
    flagged for the refine store), including an in-place re-embedding
    that preserves ids."""
    from pyspark.sql import functions as F

    r = postings.agg(
        F.count("*").alias("n"),
        (F.sum("id") + F.sum("head_id")).alias("s"),
        _vector_crc(postings).alias("v"),
    ).first()
    return {
        "post_rows": int(r["n"]),
        "post_id_sum": int(r["s"] or 0),
        "post_vec_crc": int(r["v"] or 0),
    }


def _read_meta(store_dir: str) -> dict:
    with open(os.path.join(store_dir, "meta.json")) as f:
        return json.load(f)


def packed_store_matches(
    store_dir: str, fingerprint: dict, value_type: str = "float32"
) -> bool:
    """True when an existing store at ``store_dir`` was built from the
    set with this fingerprint (postings_fingerprint for a packed store,
    refine_fingerprint for a refine store) AND in this value type
    (missing/legacy meta → False / float32, so callers rebuild rather
    than trust an unverifiable store). A value-type switch rebuilds: the
    files are a different width per component."""
    if not os.path.exists(os.path.join(store_dir, "meta.json")):
        return False
    meta = _read_meta(store_dir)
    return meta.get("value_type", "float32") == value_type and all(
        meta.get(k) == v for k, v in fingerprint.items()
    )


refine_store_matches = packed_store_matches


def _write_fragments(
    df: DataFrame,
    keys: tuple[str, ...],
    store_dir: str,
    vec_name: str,
    value_type: str,
    n_fragments: int | None,
    group_key: str | None = None,
) -> dict:
    """The one writer behind both on-disk stores: ``df`` (an ``id`` and a
    ``vector`` column, plus ``group_key`` when given) is range-partitioned
    and sorted by ``keys`` — partition i's keys all precede partition
    i+1's — and each partition writes its OWN vector fragment + id
    sidecar (bounded memory: one Arrow batch of vectors at a time, cast
    and lossless-checked executor-side). The driver CONCATENATES the
    fragments in partition order into ``<vec_name>.<ext>`` with
    file-to-file copies, so no vector is ever driver-resident.

    This is the 100 TB build shape — the reference's SSD build writes its
    posting files batch-at-a-time per selection worker
    (`ExtraFullGraphSearcher.h:587-1000`); here each Spark partition is
    that worker, scaling with executors instead of a driver iterator's
    ~31k rows/s (SCALING.md r10). Local mode shares /tmp; on a cluster the
    fragment dir must be shared storage (same place the posting files
    live).

    → {"rows", "dim" (0 when empty), "ids" (concatenated, key order),
    "groups" ((2, n) group key / row count pairs, one per group per Arrow
    batch — a group can straddle batches and fragments), "stats"
    (meta.json's build record; ``max_batch_rows`` is the largest vector
    block any single writer held)}."""
    if value_type not in _STORE_DTYPES:
        raise ValueError(
            f"value_type must be one of {sorted(_STORE_DTYPES)}: {value_type!r}"
        )
    os.makedirs(store_dir, exist_ok=True)
    ext = _STORE_EXT[value_type]
    frag_dir = os.path.join(store_dir, "_fragments")
    shutil.rmtree(frag_dir, ignore_errors=True)
    os.makedirs(frag_dir)
    if n_fragments is None:
        spark = df.sparkSession
        n_fragments = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def write_fragment(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = os.path.join(frag_dir, f"part_{pid:05d}")
        f, ids, groups, sizes, dim, error = None, [], [], [], 0, None
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["vector"].tolist(), dtype=np.float32)
            try:
                packed = _pack_values(V, value_type)
            except ValueError as e:
                # reported to the driver, which raises it as-is (an
                # executor-side raise would surface as a Spark job failure)
                error = str(e)
                break
            if f is None:
                f = open(f"{base}.{ext}", "wb")
            packed.tofile(f)
            dim = int(V.shape[1])
            sizes.append(len(V))
            ids.append(pdf["id"].to_numpy(np.int64))
            if group_key is not None:
                groups.append(
                    np.unique(pdf[group_key].to_numpy(np.int64), return_counts=True)
                )
        if f is not None:
            f.close()
            np.save(f"{base}.ids.npy", np.concatenate(ids))
            if group_key is not None:
                np.save(f"{base}.groups.npy", np.concatenate(groups, axis=1))
        if f is not None or error is not None:
            yield pd.DataFrame(
                {
                    "pid": [pid],
                    "rows": [sum(sizes)],
                    "dim": [dim],
                    "max_batch_rows": [max(sizes, default=0)],
                    "error": [error],
                }
            )

    frags = (
        df.repartitionByRange(n_fragments, *keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(
            write_fragment,
            "pid int, rows long, dim int, max_batch_rows long, error string",
        )
        .collect()
    )
    frags.sort(key=lambda r: r["pid"])
    for r in frags:
        if r["error"] is not None:
            shutil.rmtree(frag_dir)
            raise ValueError(r["error"])
    id_parts = [np.empty(0, dtype=np.int64)]
    group_parts = [np.empty((2, 0), dtype=np.int64)]
    with open(os.path.join(store_dir, f"{vec_name}.{ext}"), "wb") as out:
        for r in frags:
            base = os.path.join(frag_dir, f"part_{r['pid']:05d}")
            with open(f"{base}.{ext}", "rb") as fin:
                shutil.copyfileobj(fin, out, length=1 << 22)
            id_parts.append(np.load(base + ".ids.npy"))
            if group_key is not None:
                group_parts.append(np.load(base + ".groups.npy"))
    shutil.rmtree(frag_dir)
    return {
        "rows": sum(r["rows"] for r in frags),
        "dim": max((r["dim"] for r in frags), default=0),
        "ids": np.concatenate(id_parts),
        "groups": np.concatenate(group_parts, axis=1),
        "stats": {
            "mode": "parallel",
            "fragments": len(frags),
            "max_batch_rows": max(
                (r["max_batch_rows"] for r in frags), default=0
            ),
        },
    }


def _write_meta(
    store_dir: str, out: dict, dim: int, value_type: str, fingerprint: dict
) -> None:
    """meta.json — written LAST: its presence marks a complete store."""
    with open(os.path.join(store_dir, "meta.json"), "w") as f:
        json.dump(
            {"rows": int(out["rows"]), "dim": int(dim),
             "value_type": value_type, "build": out["stats"],
             **fingerprint},
            f,
        )


def build_packed_store(
    heads: DataFrame,
    postings: DataFrame,
    store_dir: str,
    n_fragments: int | None = None,
    value_type: str = "float32",
) -> dict:
    """Write the DiskSpannReplica packed store from Spark artifacts — the
    posting-file write stage of the reference's SSD build, OUT-OF-CORE on
    the build side too (VERDICT r9 #1): posting vectors go through
    ``_write_fragments`` in global (head_id, id) order, so the driver
    holds heads (the RAM contract) + 8 bytes/row of ids and per-fragment
    head counts — never the shard's vector matrix, which is exactly what
    lets this build a store for a shard LARGER than driver RAM.

    ``value_type``: store vectors as int8/uint8/int16/float32 — the
    reference's Dataset<T> width (`VectorSet.h:35`). Non-float32 requires
    a LOSSLESS cast (verified per Arrow batch; a lossy one raises
    ValueError) and is then result-identical: the score kernels promote
    gathered slabs to float64 regardless.

    → build stats (recorded in meta.json): fragment count and
    ``max_batch_rows``, the largest vector block any single writer held."""
    head_ids, H = _load_heads(heads)
    out = _write_fragments(
        postings.select("head_id", "id", "vector"),
        ("head_id", "id"),
        store_dir,
        "post_vectors",
        value_type,
        n_fragments,
        group_key="head_id",
    )
    np.save(os.path.join(store_dir, "head_ids.npy"), head_ids)
    np.save(os.path.join(store_dir, "H.npy"), H)
    counts = np.zeros(len(head_ids) + 1, dtype=np.int64)
    hk, hc = out["groups"]
    np.add.at(counts, np.searchsorted(head_ids, hk) + 1, hc)
    np.save(os.path.join(store_dir, "post_ids.npy"), out["ids"])
    np.save(os.path.join(store_dir, "indptr.npy"), np.cumsum(counts))
    # H is (0,)-shaped for an EMPTY shard (n_shards > head count makes
    # some range empty) — the store must still build and load (r10 review)
    dim = out["dim"] or (int(H.shape[1]) if H.ndim == 2 else 0)
    _write_meta(store_dir, out, dim, value_type, postings_fingerprint(postings))
    return out["stats"]


def _read_store_index(store_dir: str, meta: dict) -> tuple:
    """The RAM side of a packed store → (head_ids, H, post_ids, slab_off,
    slab_len). A PATCHED store (patch_packed_store) keeps it in ONE
    atomically-replaced sidecar file stamped with a ``patch_epoch`` that
    meta.json must match; a mismatch means a patch died between the two
    replaces, and its extents can point past meta's recorded rows —
    raise rather than serve them (r12 ADVICE). An unpatched store reads
    the build's files (contiguous CSR)."""
    sc_p = os.path.join(store_dir, "patch_sidecars.npz")
    if os.path.exists(sc_p):
        with np.load(sc_p) as z:
            if int(z["patch_epoch"][0]) != int(meta.get("patch_epoch", -1)):
                raise RuntimeError(
                    f"packed store at {store_dir} has a torn patch "
                    "(sidecar epoch != meta epoch); rebuild it from the "
                    "Spark artifacts (supply heads+postings)"
                )
            off, ln = z["extents"]
            return z["head_ids"], z["H"], z["post_ids"], off, ln
    ip = np.load(os.path.join(store_dir, "indptr.npy"))
    return (
        np.load(os.path.join(store_dir, "head_ids.npy")),
        np.load(os.path.join(store_dir, "H.npy")),
        np.load(os.path.join(store_dir, "post_ids.npy")),
        ip[:-1],
        np.diff(ip),
    )


def patch_packed_store(
    store_dir: str,
    heads: DataFrame,
    postings: DataFrame,
    touched_heads,
    fingerprint: dict | None = None,
) -> dict:
    """Incremental store patch after LIRE maintenance (VERDICT r11 #2) —
    SPFresh's whole point is that maintenance I/O is LOCAL (SOSP'23 §4;
    the reference edits posting files in place,
    `SPANN/ExtraFullGraphSearcher.h`), so a split/merge must not trigger a
    full packed-store rebuild. The store becomes log-structured: slabs of
    ``touched_heads`` (plus any heads new to ``heads``) are re-read from
    the postings table — a partition-pruned ``head_id IN (...)`` scan, the
    same scope `_retire_and_reassign` edits — and APPENDED to the vector
    file; the extent table then points those heads at their new segments
    while every untouched head keeps its original extent, so untouched
    slab bytes are bit-identical (pinned by test). Retired heads simply
    lose their extent; their old file rows become dead space, tracked in
    meta as ``dead_rows`` with ``needs_compaction`` raised once dead
    exceeds live (a full rebuild then re-packs contiguously).

    Driver memory: the touched postings only (one posting + neighbor
    fanout per LIRE op — thousands of rows) plus the O(#heads) sidecars
    already under the RAM-tier contract. The fingerprint in meta is
    updated to the NEW postings identity (one Spark agg, executor-side),
    so DiskSpannReplica's staleness gate accepts the patched store.

    Crash safety (r12 ADVICE): the patched sidecar set (head_ids, H,
    extents, post_ids) is ONE file — ``patch_sidecars.npz`` written to a
    temp name and ``os.replace``d, so the extent table can never be seen
    half-updated — stamped with a ``patch_epoch`` that meta.json (also
    tmp+replace, written LAST) must match. The crash windows are all
    benign: dying after the vector append leaves old sidecars pointing at
    old extents (appended bytes are dead space); dying between the npz
    and meta replaces leaves an epoch mismatch that the loader refuses
    with a clear error (from_store) or rebuilds past (artifacts supplied,
    via the fingerprint gate), instead of serving out-of-range extents.

    → stats: ``vector_bytes_appended`` is the I/O witness — compare with
    ``store_vector_bytes`` to see the locality win."""
    meta = _read_meta(store_dir)
    vt = meta.get("value_type", "float32")
    vec_path = os.path.join(store_dir, f"post_vectors.{_STORE_EXT[vt]}")
    sc_p = os.path.join(store_dir, "patch_sidecars.npz")
    old_head_ids, _, old_post_ids, old_off, old_len = _read_store_index(
        store_dir, meta
    )
    file_rows = int(meta["rows"])

    new_head_ids, H = _load_heads(heads)

    touched = {int(t) for t in touched_heads}
    old_set = set(old_head_ids.tolist())
    # rewrite = touched heads still alive + heads new to the index; a
    # touched head absent from `heads` retired — its extent just drops
    rewrite = sorted(
        h for h in new_head_ids.tolist() if h in touched or h not in old_set
    )
    app_ids = np.empty(0, dtype=np.int64)
    app_counts: dict[int, tuple[int, int]] = {}  # head -> (off, len)
    dim = int(meta["dim"])
    if rewrite:
        from pyspark.sql import functions as F

        pdf = (
            postings.filter(F.col("head_id").isin(rewrite))
            .select("head_id", "id", "vector")
            .orderBy("head_id", "id")
            .toPandas()
        )
        if len(pdf):
            V32 = np.array(pdf["vector"].tolist(), dtype=np.float32)
            if file_rows and V32.shape[1] != dim:
                raise ValueError(
                    f"patch dim {V32.shape[1]} != store dim {dim}"
                )
            dim = int(V32.shape[1])
            with open(vec_path, "ab") as f:
                _pack_values(V32, vt).tofile(f)
            app_ids = pdf["id"].to_numpy(np.int64)
            hvals = pdf["head_id"].to_numpy(np.int64)
            uh, starts = np.unique(hvals, return_index=True)
            lens = np.diff(np.append(starts, len(hvals)))
            for h, s, ln in zip(uh.tolist(), starts.tolist(), lens.tolist()):
                app_counts[int(h)] = (file_rows + s, int(ln))

    old_slot = {int(h): i for i, h in enumerate(old_head_ids.tolist())}
    off = np.zeros(len(new_head_ids), dtype=np.int64)
    ln = np.zeros(len(new_head_ids), dtype=np.int64)
    for i, h in enumerate(new_head_ids.tolist()):
        if h in app_counts:
            off[i], ln[i] = app_counts[h]
        elif h in old_set and h not in touched:
            s = old_slot[h]
            off[i], ln[i] = int(old_off[s]), int(old_len[s])
        # else: touched-but-no-rows or new-but-empty head → (0, 0)

    new_file_rows = file_rows + len(app_ids)
    live_rows = int(ln.sum())
    post_ids = np.concatenate([old_post_ids, app_ids])
    epoch = int(meta.get("patch_epoch", 0)) + 1
    tmp_sc = sc_p + ".tmp.npz"
    with open(tmp_sc, "wb") as f:
        np.savez(
            f,
            head_ids=new_head_ids,
            H=H,
            extents=np.stack([off, ln]),
            post_ids=post_ids,
            patch_epoch=np.array([epoch], dtype=np.int64),
        )
    os.replace(tmp_sc, sc_p)
    stats = {
        "heads_rewritten": len(rewrite),
        "rows_appended": int(len(app_ids)),
        "vector_bytes_appended": int(
            len(app_ids) * dim * np.dtype(_STORE_DTYPES[vt]).itemsize
        ),
        "store_vector_bytes": int(os.path.getsize(vec_path)),
        "dead_rows": int(new_file_rows - live_rows),
        "live_rows": live_rows,
        "needs_compaction": (new_file_rows - live_rows) > live_rows,
    }
    meta.update(
        {
            "rows": new_file_rows,
            "dim": dim,
            "patches": int(meta.get("patches", 0)) + 1,
            "patch_epoch": epoch,
            "last_patch": stats,
            # callers that track the posting identity incrementally (one
            # small agg per delta — SPFreshIndex) pass it in; otherwise
            # one full-frame agg. Per-batch full-corpus scans were the
            # r12 ADVICE locality leak.
            **(
                fingerprint
                if fingerprint is not None
                else postings_fingerprint(postings)
            ),
        }
    )
    meta_p = os.path.join(store_dir, "meta.json")
    with open(meta_p + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_p + ".tmp", meta_p)
    return stats


class DiskSpannReplica(LocalSpannReplica):
    """SPANN's actual serving-node architecture (NeurIPS'21 §3;
    `SPANN/ExtraFullGraphSearcher.h` — head centroids in RAM, posting
    VECTORS in page-aligned files on local SSD, read per query): the
    posting matrix lives in a packed float32 file opened as np.memmap, so
    a query touches only its routed heads' slabs (CSR-contiguous rows →
    sequential page reads, the posting-file seek). RAM holds heads + the
    CSR index — the footprint that lets one node serve a corpus whose
    vectors don't fit memory.

    Distances are BIT-IDENTICAL to LocalSpannReplica: vectors originate as
    float32 (array<float> parquet), the RAM replica's float64 copy is the
    exact upcast, and the distance kernels promote the memmap's rows —
    float32 OR native int8/uint8/int16 (``value_type``, VERDICT r11 #1;
    the reference's Dataset<T> width, `VectorSet.h:35`) — to float64
    before any arithmetic. An integer store is 4× (int8/uint8) or 2×
    (int16) less SSD and posting-read I/O at identical results."""

    dispatch_label = "disk_replica"

    def __init__(
        self, heads, postings, store_dir: str, value_type: str = "float32"
    ) -> None:
        meta_p = os.path.join(store_dir, "meta.json")
        # identity gate (same staleness class as the refine store, ADVICE
        # r9): when Spark artifacts ARE supplied, an existing store is
        # trusted only if its recorded fingerprint matches the postings it
        # claims to pack — a rebuilt index at the same path rebuilds the
        # store instead of serving the old index's vectors — AND it was
        # packed in the requested value type, AND its patch state loads
        # (a torn patch rebuilds too). from_store (no artifacts) trusts
        # the files; it has nothing to check against, so a torn patch
        # raises there.
        if postings is not None and os.path.exists(meta_p):
            if packed_store_matches(
                store_dir, postings_fingerprint(postings), value_type
            ):
                try:
                    self._open(store_dir)
                    return
                except (RuntimeError, OSError, KeyError, ValueError):
                    pass  # torn patch or unreadable files: rebuild
            shutil.rmtree(store_dir)
        if not os.path.exists(meta_p):
            if heads is None or postings is None:
                raise FileNotFoundError(
                    f"no packed replica store at {store_dir} and no Spark "
                    "artifacts supplied to build one"
                )
            # build once from the Spark artifacts (the posting-file write
            # stage), OUT-OF-CORE so the driver never holds the shard's
            # vectors — the whole point of this replica is a shard that
            # exceeds RAM; then serve every later construction from it.
            build_packed_store(heads, postings, store_dir, value_type=value_type)
        self._open(store_dir)

    def _open(self, store_dir: str) -> None:
        meta = _read_meta(store_dir)
        vt = meta.get("value_type", "float32")  # legacy stores are f32
        dt = _STORE_DTYPES[vt]
        self.value_type = vt
        # a PATCHED store's slabs are log-structured — untouched slabs keep
        # their original file extent, rewritten ones live in appended
        # segments — so the extents, not a CSR, locate them
        head_ids, H, self.post_ids, off, ln = _read_store_index(
            store_dir, meta
        )
        self._set_slabs(head_ids, H, off, ln)
        # store-side tombstones (r12 ADVICE): a live SPFreshIndex defers
        # physical removal to compact(), so between a delete and the next
        # compaction the slabs still hold the rows. sync_store exports the
        # live tombstone set alongside the store; loading it here closes
        # the visibility window for from_store consumers, who otherwise
        # have no filter (the live index filters at search).
        ts_p = os.path.join(store_dir, "tombstones.npy")
        ts = np.load(ts_p) if os.path.exists(ts_p) else None
        self.store_deleted_ids = ts if ts is not None and len(ts) else None
        # the SSD side: never resident; rows fault in per probed slab.
        # A zero-row store (empty shard) cannot mmap an empty file — use
        # an empty in-RAM array with the same dtype/shape contract.
        if meta["rows"] == 0:
            self.post_V = np.empty((0, max(meta["dim"], 1)), dtype=dt)
        else:
            self.post_V = np.memmap(
                os.path.join(store_dir, f"post_vectors.{_STORE_EXT[vt]}"),
                dtype=dt,
                mode="r",
                shape=(meta["rows"], meta["dim"]),
            )

    @classmethod
    def from_store(cls, store_dir: str) -> "DiskSpannReplica":
        """Open an existing store with NO Spark session — the cold-start
        path of a serving node that only has the files (value type comes
        from the store's own meta.json)."""
        return cls(None, None, store_dir)

    @classmethod
    def from_path(
        cls, spark: SparkSession, path: str, value_type: str = "float32"
    ) -> "DiskSpannReplica":
        """From a save_index() directory; the packed store materializes
        beside the index on first use (`<path>/replica_store`)."""
        store = os.path.join(path, "replica_store")
        if os.path.exists(os.path.join(store, "meta.json")):
            return cls.from_store(store)
        heads = spark.read.parquet(os.path.join(path, "heads"))
        postings = spark.read.parquet(os.path.join(path, "postings"))
        return cls(heads, postings, store, value_type=value_type)

    def memory_bytes(self) -> int:
        """Resident footprint — the posting matrix is on disk."""
        return int(
            self.head_ids.nbytes
            + self.H.nbytes
            + self.post_ids.nbytes
            + self.slab_off.nbytes
            + self.slab_len.nbytes
        )


def refine_fingerprint(vectors) -> dict:
    """Identity of the vector set a refine store was packed from — row
    count + id checksum + vector CONTENT checksum (a re-embedded corpus
    with unchanged ids must not reuse the old store), one agg job.
    Recorded in refine meta.json and re-checked before serving so a
    rebuilt index at the same path never exact-reranks against a stale
    store (ADVICE r9; content term r10)."""
    from pyspark.sql import functions as F

    r = vectors.agg(
        F.count("*").alias("n"),
        F.sum("id").alias("s"),
        _vector_crc(vectors).alias("v"),
    ).first()
    return {
        "rows": int(r["n"]),
        "id_sum": int(r["s"] or 0),
        "vec_crc": int(r["v"] or 0),
    }



def build_refine_store(
    vectors,
    store_dir: str,
    n_fragments: int | None = None,
    value_type: str = "float32",
) -> dict:
    """Pack (id, vector) into an id-sorted matrix + ids.npy — the
    exact-rerank side table a compressed replica reads from disk (the
    reference's SSD posting vectors, keyed by id instead of by head).
    Written out-of-core like build_packed_store (VERDICT r9 #1), so the
    store a node needs precisely because its vectors exceed RAM can be
    built under that condition. meta.json records the source fingerprint
    (rows + id checksum + vector content checksum) for the staleness
    gate. ``value_type``: as build_packed_store — an int8 corpus reranks
    from 1-byte components (4× less rerank read I/O), lossless-cast
    checked. → build stats."""
    out = _write_fragments(
        vectors.select("id", "vector"),
        ("id",),
        store_dir,
        "vectors",
        value_type,
        n_fragments,
    )
    np.save(os.path.join(store_dir, "ids.npy"), out["ids"])
    _write_meta(
        store_dir, out, out["dim"], value_type, refine_fingerprint(vectors)
    )
    return out["stats"]


def open_refine_store(store_dir: str):
    """→ (ids int64 ndarray, memmap matrix in id order — dtype from the
    store's own meta: float32, or a native integer width whose gathered
    rows the rerank kernel promotes to float64 identically)."""
    meta = _read_meta(store_dir)
    vt = meta.get("value_type", "float32")
    ids = np.load(os.path.join(store_dir, "ids.npy"))
    M = np.memmap(
        os.path.join(store_dir, f"vectors.{_STORE_EXT[vt]}"),
        dtype=_STORE_DTYPES[vt],
        mode="r",
        shape=(meta["rows"], meta["dim"]),
    )
    return ids, M


class ShardLatencyTracker:
    """Per-shard serve-latency window + deadline-miss attribution — the
    OBSERVED-LATENCY rebalance trigger (r12 VERDICT #4).

    Row counts (`shard_posting_rows`) say which shard is BIG; under a
    skewed (Zipf) query mix the serving bottleneck is which shard is
    SLOW-AND-HOT — the one whose latency tail the aggregator actually
    observes blowing its deadline budget (the reference operator reads the
    same signal from `AggregatorService.cpp:280-323` timeout logs). Both
    aggregator tiers record every per-shard call here; ``hot_shard()`` is
    the split recommendation the probe drives ``split_shard`` with.

    Bounded state: a fixed window of recent latencies per shard (rolling
    percentiles) + two counters; thread-safe under the GIL for the
    deadline path's concurrent recorders (deque.append is atomic)."""

    def __init__(self, n_shards: int, window: int = 512) -> None:
        import collections

        self._window = window
        self.lat = [
            collections.deque(maxlen=window) for _ in range(n_shards)
        ]
        self.miss = [0] * n_shards
        self.calls = [0] * n_shards

    def record(
        self, j: int, ms: float, budget_ms: float | None = None
    ) -> None:
        self.lat[j].append(float(ms))
        self.calls[j] += 1
        if budget_ms is not None and ms > budget_ms:
            self.miss[j] += 1

    def stats(self) -> list[dict]:
        out = []
        for j in range(len(self.lat)):
            s = sorted(self.lat[j])
            if s:
                at = lambda f: s[min(len(s) - 1, int(f * len(s)))]  # noqa: E731
                out.append(
                    {
                        "n": self.calls[j],
                        "p50_ms": round(at(0.50), 3),
                        "p99_ms": round(at(0.99), 3),
                        "deadline_misses": self.miss[j],
                        "miss_rate": round(
                            self.miss[j] / max(1, self.calls[j]), 4
                        ),
                    }
                )
            else:
                out.append(
                    {
                        "n": self.calls[j],
                        "p50_ms": None,
                        "p99_ms": None,
                        "deadline_misses": self.miss[j],
                        "miss_rate": 0.0,
                    }
                )
        return out

    def hot_shard(
        self,
        factor: float = 2.0,
        min_samples: int = 32,
        min_misses: int = 3,
    ) -> int | None:
        """Split recommendation from OBSERVED serving behavior. Two
        signals, in priority order:

        1. **Deadline-miss attribution** (any shard has recorded misses):
           the shard whose miss RATE is ≥ ``factor`` × the median of the
           other sampled shards (or the only misser, with ≥
           ``min_misses`` of evidence). This is the SLO-breach signal —
           what the reference's aggregator timeout log
           (`AggregatorService.cpp:280-323`) shows the operator — and it
           separates a hot shard even when client-side concurrency noise
           blurs raw tails across shards (measured: the Zipf probe's
           per-shard p99s overlap under queueing while misses
           concentrate 2-7× on the overloaded shard).
        2. **Rolling p99** (budget-less traffic): the shard whose p99 is
           ≥ ``factor`` × the median p99 of the other sampled shards.

        → shard index, or None when no shard stands out (or fewer than
        two shards have ``min_samples`` observations — a trigger must
        never fire off noise)."""
        st = self.stats()
        sampled = [
            (j, s)
            for j, s in enumerate(st)
            if s["n"] >= min_samples and s["p99_ms"] is not None
        ]
        if len(sampled) < 2:
            return None
        if any(s["deadline_misses"] for _, s in sampled):
            j_hot, s_hot = max(
                sampled, key=lambda t: (t[1]["miss_rate"], -t[0])
            )
            # evidence floor FIRST: a single stray miss must never name a
            # shard (measured at small scale: one miss per shard and the
            # ratio test fired on whichever had fewest samples)
            if s_hot["deadline_misses"] < min_misses:
                return None
            others = sorted(
                s["miss_rate"] for j, s in sampled if j != j_hot
            )
            med = others[len(others) // 2]
            if med == 0 or s_hot["miss_rate"] >= factor * med:
                return j_hot
            return None
        j_hot, s_hot = max(sampled, key=lambda t: (t[1]["p99_ms"], -t[0]))
        others = sorted(s["p99_ms"] for j, s in sampled if j != j_hot)
        med = others[len(others) // 2]
        if med > 0 and s_hot["p99_ms"] >= factor * med:
            return j_hot
        return None

    def split_at(self, j: int) -> None:
        """Splice shard j's slot into two fresh slots, mirroring
        split_shard's replica splice — the halves start with clean
        windows (their latency profile is new)."""
        import collections

        self.lat[j : j + 1] = [
            collections.deque(maxlen=self._window),
            collections.deque(maxlen=self._window),
        ]
        self.miss[j : j + 1] = [0, 0]
        self.calls[j : j + 1] = [0, 0]


class ShardedSpannAggregator:
    """Scatter-gather over head-sharded replicas — the Aggregator tier
    (`AggregatorService.cpp:216-258`) for serving nodes whose RAM cannot
    hold the whole index.

    Sharding is BY HEAD: each shard owns a contiguous slice of the head
    space plus exactly the posting rows of those heads (what
    `BalancedDataPartition` produces for the reference's multi-machine
    deployment). A query is scattered to every shard, each answers from its
    local heads at the same nprobe, and the gather is a global merge-rank —
    strictly better than the reference's concat-without-rerank (NOTES.md
    divergence), and identical to the single-replica answer when nprobe
    spans the same heads.

    Note the semantic difference from one big replica: probing nprobe heads
    PER SHARD examines more postings than nprobe heads globally (the
    reference's aggregator has the same property — each child index answers
    with its own MaxCheck budget), so recall is ≥ the single-replica
    answer; tests pin top-1 identity and recall-no-worse.
    """

    @classmethod
    def for_budget(
        cls, heads: DataFrame, postings: DataFrame, node_budget_bytes: int
    ) -> "ShardedSpannAggregator":
        """Default shard-sizing rule (VERDICT r9 #7, measured at sf0.1 —
        SCALING.md r10): **shard to fit the node budget, never more.**
        shards = ceil(replica_bytes / budget). More shards than RAM
        requires buys nothing — at equal total work (nprobe split across
        shards) recall is flat (0.947-0.976 across 1-16 shards) while
        same-nprobe sharding just spends linearly more postings for its
        recall lift; and each extra shard adds scatter+merge overhead
        (p50 0.86 → 6.2 ms over 1 → 16 local shards). ≥4 shards is where
        deadline partials get cheap (one lost shard of ≥4 keeps
        recall ≥ 0.99 of answers vs 0.90 at 2) — the availability knob,
        not a default. Reference: `BalancedDataPartition`
        (src/BalancedDataPartition/main.cpp:151-241) splits by exactly
        this per-node-capacity rule."""
        import math

        from sptag_spark.plans.planner import index_fingerprint

        fp = index_fingerprint(heads, postings)
        est = fp["posting_rows"] * (8 * fp["dim"] + 16)
        return cls(
            heads,
            postings,
            n_shards=max(1, math.ceil(est / max(1, node_budget_bytes))),
        )

    def __init__(
        self,
        heads: DataFrame,
        postings: DataFrame,
        n_shards: int = 2,
        store_dir: str | None = None,
        scatter_topk: int | None = None,
        split: str = "range",
        value_type: str = "float32",
    ) -> None:
        """``store_dir``: build each shard as a DiskSpannReplica under
        ``store_dir/shard_<i>`` instead of an all-RAM LocalSpannReplica —
        the multi-node out-of-core deployment (every serving node holds
        its shard's heads in RAM and posting vectors on SSD), so the
        aggregated corpus can exceed n_shards × RAM.

        ``scatter_topk``: center-routed scatter — send each query to only
        the N shards whose CENTER (mean of the shard's head centroids) is
        nearest, instead of broadcasting to all. The reference
        aggregator's `[Service] TopK` + `Centers` mode
        (`AggregatorService.cpp:215-258` ranks servers by query-to-center
        distance and scatters to the TopK): at hundreds of serving nodes,
        broadcast is the RPC bottleneck and per-node centers bound the
        fan-out. None (default) broadcasts — exhaustive over shards.

        ``split``: how heads are assigned to shards. "range" (default)
        slices the head-id space — arbitrary spatial assignment, the
        conservative choice when routing is off. "kmeans" clusters the
        head CENTROIDS (deterministic Lloyd's on the driver — heads are
        the small RAM side by this tier's contract) so each shard is
        spatially coherent and its center actually summarizes it — what
        the reference's BalancedDataPartition produces and the layout
        center routing is designed for (measured: range split needs
        topk=n/2 for ≥0.99 recall, kmeans split reaches it at topk=1-2,
        SCALING.md r10)."""
        import pyspark.sql.functions as F

        if split == "kmeans":
            from sptag_spark.operators.knn import _block_distances

            hp = heads.select("head_id", "vector").toPandas()
            hid = hp["head_id"].to_numpy(np.int64)
            H = np.array(hp["vector"].tolist(), dtype=np.float64)
            # deterministic Lloyd's: spread init over the id-sorted heads,
            # fixed 10 passes (assignment, not quality, is the product)
            o = np.argsort(hid)
            hid, H = hid[o], H[o]
            C = H[np.linspace(0, len(H) - 1, min(n_shards, len(H))).astype(int)]
            for _ in range(10):
                a = np.argmin(_block_distances(C, H, "l2"), axis=0)
                for j in range(len(C)):
                    m = a == j
                    if m.any():
                        C[j] = H[m].mean(axis=0)
            groups = [
                hid[a == j] if j < len(C) else np.empty(0, np.int64)
                for j in range(n_shards)
            ]
            selections = [
                F.col("head_id").isin([int(x) for x in g]) if len(g)
                else F.lit(False)
                for g in groups
            ]
        else:
            hp = heads.select("head_id").toPandas()
            hids = np.sort(hp["head_id"].to_numpy(np.int64))
            bounds = [
                hids[(len(hids) * i) // n_shards] for i in range(1, n_shards)
            ] + [np.iinfo(np.int64).max]
            selections = []
            lo = np.iinfo(np.int64).min
            for hi in bounds:
                selections.append(
                    (F.col("head_id") >= int(lo)) & (F.col("head_id") < int(hi))
                )
                lo = hi
        self.replicas = []
        for i, sel in enumerate(selections):
            h_i, p_i = heads.filter(sel), postings.filter(sel)
            self.replicas.append(
                DiskSpannReplica(
                    h_i, p_i, os.path.join(store_dir, f"shard_{i}"),
                    value_type=value_type,
                )
                if store_dir is not None
                else LocalSpannReplica(h_i, p_i)
            )
        self.scatter_topk = scatter_topk
        # one center per shard — what BalancedDataPartition writes as the
        # per-node centers file the reference aggregator routes with. An
        # EMPTY shard's center is +inf so routing never selects it (it
        # has nothing to answer; n_shards can exceed the head count).
        dim = next(
            (int(r.H.shape[1]) for r in self.replicas if len(r.H)), 1
        )
        self.centers = np.array(
            [
                rep.H.mean(axis=0) if len(rep.H) else np.full(dim, np.inf)
                for rep in self.replicas
            ]
        )
        #: observed-latency rebalance signal (ShardLatencyTracker)
        self.tracker = ShardLatencyTracker(len(self.replicas))

    def _route_shards(self, q: np.ndarray, metric: str) -> list[int]:
        return route_to_shards(
            self.centers, self.scatter_topk, q, metric, len(self.replicas)
        )

    def shard_posting_rows(self) -> list[int]:
        """Posting rows per shard — the overflow signal for rebalancing
        (the reference's BalancedDataPartition sizes shards ONCE; growth
        past a node's budget is an operational gap this tier closes)."""
        return [int(r.indptr[-1]) for r in self.replicas]

    def split_shard(
        self,
        j: int,
        heads: DataFrame,
        postings: DataFrame,
        store_dir: str | None = None,
        value_type: str = "float32",
    ) -> dict:
        """Shard-growth rebalance (VERDICT r11 ask #5): split ONLY shard
        ``j`` — whose postings outgrew its node budget after concentrated
        adds — into two spatially-coherent halves, touching nothing else.

        The reference has no live piece here: `BalancedDataPartition`
        (src/BalancedDataPartition/main.cpp) sizes shards once, offline,
        and `AggregatorService` assumes static membership — growth past a
        node's capacity means a full re-partition. This method is the
        LIRE idea one tier up: 2-means over the overflowing shard's HEAD
        centroids (deterministic, driver-side — heads are the small side
        by this tier's contract), two new replicas built from
        partition-pruned `head_id IN (...)` scans of that shard's heads
        only, and an updated center table. Every other shard's replica —
        and, in the disk deployment, its packed store bytes — is
        untouched (pinned by probe: byte-identical stores).

        → report: rows moved, the two new shard sizes, store dirs."""
        from sptag_spark.streaming.spfresh import two_means

        import pyspark.sql.functions as F

        old = self.replicas[j]
        if len(old.head_ids) < 2:
            raise ValueError(f"shard {j} has {len(old.head_ids)} heads")
        labels, _ = two_means(old.H)
        sides = [old.head_ids[labels == 0], old.head_ids[labels == 1]]
        new_reps = []
        new_dirs = []
        for s, hid in enumerate(sides):
            sel = F.col("head_id").isin([int(x) for x in hid])
            h_s, p_s = heads.filter(sel), postings.filter(sel)
            if store_dir is not None:
                d = os.path.join(store_dir, f"shard_{j}_s{s}")
                new_dirs.append(d)
                new_reps.append(
                    DiskSpannReplica(h_s, p_s, d, value_type=value_type)
                )
            else:
                new_reps.append(LocalSpannReplica(h_s, p_s))
        before_rows = int(old.indptr[-1])
        self.replicas = (
            self.replicas[:j] + new_reps + self.replicas[j + 1 :]
        )
        self.tracker.split_at(j)
        dim = self.centers.shape[1]
        new_centers = [
            rep.H.mean(axis=0) if len(rep.H) else np.full(dim, np.inf)
            for rep in new_reps
        ]
        self.centers = np.vstack(
            [self.centers[:j], new_centers, self.centers[j + 1 :]]
        )
        return {
            "split_shard": j,
            "rows_before": before_rows,
            "rows_after": [int(r.indptr[-1]) for r in new_reps],
            "heads": [len(h) for h in sides],
            "store_dirs": new_dirs,
            "n_shards": len(self.replicas),
        }

    def search_one(
        self,
        q: np.ndarray,
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        # SERIAL scatter, deliberately (measured r10, SCALING.md): a
        # thread-pool scatter was built and REJECTED — per-shard searches
        # here are µs-scale, so executor round-trips made p50 6.2 → 38.7
        # ms at 16 shards. Across real machines the scatter is
        # network-parallel regardless; locally the loop is the fast path.
        # The deadline path stays threaded — there the budget semantics,
        # not throughput, require concurrency.
        import time as _time

        ids_all, d_all = [], []
        for j in self._route_shards(q, metric):
            _t0 = _time.perf_counter()
            ids, d = self.replicas[j].search_one(
                q, k, nprobe, metric, max_dist_ratio,
                deleted_ids=deleted_ids, allowed_ids=allowed_ids,
            )
            # per-shard latency witness for the rebalance trigger
            # (two perf_counter calls against a µs-scale search — noise)
            self.tracker.record(j, (_time.perf_counter() - _t0) * 1000)
            ids_all.append(ids)
            d_all.append(d)
        return self._merge(ids_all, d_all, k)

    def batch_search(
        self,
        queries: list[tuple[int, np.ndarray]],
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> list[tuple[int, int, int, float]]:
        """→ rows of (query_id, rank, id, dist) — the whole batch scatters
        to every shard's VECTORIZED batch path (each shard gathers each of
        its probed slabs once for the batch), and the gather is the same
        global (dist, id) merge-rank as search_one's _merge, batched with
        segment arithmetic. Queries are tracked by batch POSITION so
        duplicate query_ids stay independent, like a search_one loop."""
        if not queries:
            return []
        qids = np.array([int(q) for q, _ in queries], dtype=np.int64)
        parts = [
            self.replicas[j].batch_search(
                sub, k, nprobe, metric, max_dist_ratio,
                deleted_ids=deleted_ids, allowed_ids=allowed_ids,
            )
            for j, sub in self._scatter(queries, metric)
        ]
        return self._merge_batch(parts, qids, k)

    def _scatter(self, queries, metric: str) -> list[tuple[int, list]]:
        """Center routing for a batch: each shard answers only the
        sub-batch of queries that selected it (broadcast = every shard
        gets the whole batch), keyed by batch POSITION. → [(shard,
        sub-batch)] for the shards with work."""
        per_shard: list[list] = [[] for _ in self.replicas]
        for i, (_, v) in enumerate(queries):
            for j in self._route_shards(v, metric):
                per_shard[j].append((i, v))
        return [(j, sub) for j, sub in enumerate(per_shard) if sub]

    @staticmethod
    def _merge_batch(parts, qids: np.ndarray, k: int):
        """Gather for a scattered batch: ``parts`` is one row-list per
        shard, each keyed by batch POSITION. Cross-shard dedup (a vector
        replicated into heads of different shards answers once; replicas
        of an id share one vector, so the exact kernel scored it
        identically in every shard), then the (dist, id) re-rank per
        query — _merge, without the per-query loop. Shared by the
        in-process aggregator and the network tier
        (server.RemoteReplicaAggregator)."""
        pi_parts: list[np.ndarray] = []
        id_parts: list[np.ndarray] = []
        d_parts: list[np.ndarray] = []
        for rows in parts:
            if not rows:
                continue
            pi_parts.append(np.array([r[0] for r in rows], dtype=np.int64))
            id_parts.append(np.array([r[2] for r in rows], dtype=np.int64))
            d_parts.append(np.array([r[3] for r in rows]))
        if not pi_parts:
            return []
        pi = np.concatenate(pi_parts)
        ids = np.concatenate(id_parts)
        d = np.concatenate(d_parts)
        o = np.lexsort((d, ids, pi))
        pi, ids, d = pi[o], ids[o], d[o]
        keep = np.ones(len(pi), dtype=bool)
        keep[1:] = (pi[1:] != pi[:-1]) | (ids[1:] != ids[:-1])
        pi, ids, d = pi[keep], ids[keep], d[keep]
        o2 = np.lexsort((ids, d, pi))
        pi, ids, d = pi[o2], ids[o2], d[o2]
        pos = _run_positions(pi)
        fin = pos < k
        return [
            (int(qids[p]), int(r), int(i), float(dd))
            for p, r, i, dd in zip(
                pi[fin], pos[fin] + 1, ids[fin], d[fin]
            )
        ]

    @staticmethod
    def _merge(
        ids_all: list, d_all: list, k: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Gather = global re-rank with (dist, id) ties; dedup ids (a vector
        replicated into heads of different shards answers once)."""
        if not ids_all:
            return np.empty(0, dtype=np.int64), np.empty(0)
        ids = np.concatenate(ids_all)
        d = np.concatenate(d_all)
        if ids.size == 0:
            return ids, d
        _, first = np.unique(ids, return_index=True)
        ids, d = ids[first], d[first]
        top = np.lexsort((ids, d))[: min(k, len(ids))]
        return ids[top], d[top]

    def search_with_deadline(
        self,
        q: np.ndarray,
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        budget_ms: float = 50.0,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray, bool]:
        """Per-query time budget with PARTIAL results — the reference
        aggregator's shard-timeout semantics (`AggregatorService.cpp:
        280-323`: when a child index misses the deadline, the merged answer
        carries whatever shards DID answer, flagged partial). → (ids,
        dists, partial); partial=True when ≥1 shard missed the budget (its
        result is dropped; the straggler thread finishes into the void —
        shard answers are read-only so nothing dangles).

        This lives in the driver-side serving tier precisely because Spark
        STAGES are all-or-nothing (the documented divergence, README) —
        here each shard is an independent in-RAM replica, so a deadline is
        honest.

        Each call gets its OWN executor, torn down without waiting: a
        shared fixed-size pool would let one stuck shard's straggler
        thread occupy a worker and eat LATER queries' budgets (queue wait
        counts against cf.wait), turning one slow shard into
        false partials for every subsequent query. Creating ≤ n_shards
        threads per deadline call is microseconds against a ms-scale
        budget; queued-but-unstarted tasks are cancelled, finished-late
        threads die into a dead executor nothing references."""
        import concurrent.futures as cf

        import time as _time

        ex = cf.ThreadPoolExecutor(
            max_workers=max(len(self.replicas), 1),
            thread_name_prefix="spann-shard",
        )

        def _timed(j):
            # per-shard wall + miss attribution for the rebalance trigger
            # — recorded by the WORKER thread when it finishes, so a
            # straggler still charges its shard after the merge moved on
            t0 = _time.perf_counter()
            out = self.replicas[j].search_one(
                q, k, nprobe, metric, max_dist_ratio,
                deleted_ids, allowed_ids,
            )
            self.tracker.record(
                j, (_time.perf_counter() - t0) * 1000, budget_ms
            )
            return out

        try:
            futs = [
                ex.submit(_timed, j)
                for j in self._route_shards(q, metric)
            ]
            done, not_done = cf.wait(futs, timeout=budget_ms / 1000.0)
        finally:
            ex.shutdown(wait=False, cancel_futures=True)
        ids_all, d_all = [], []
        n_failed = 0
        for f in done:
            # a shard that CRASHED degrades exactly like a shard that
            # STALLED: its result is dropped and the answer is flagged
            # partial — the reference aggregator's failed-child path
            # (`AggregatorService.cpp:280-323` folds timeout and error
            # children into the same partial merge). Propagating would
            # fail the whole query at the server boundary even though
            # healthy shards answered.
            if f.exception() is not None:
                n_failed += 1
                continue
            ids, d = f.result()
            ids_all.append(ids)
            d_all.append(d)
        ids, d = self._merge(ids_all, d_all, k)
        return ids, d, bool(not_done) or n_failed > 0

    def batch_search_with_deadline(
        self,
        queries: list[tuple[int, np.ndarray]],
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        budget_ms: float = 50.0,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> tuple[list[tuple[int, int, int, float]], bool]:
        """→ (rows, partial): ONE budget for the whole batch scatter.
        Each shard answers its routed sub-batch concurrently (one thread
        per shard — batch work per shard is ms-scale, unlike the µs
        per-query case where threading was measured and rejected); a
        shard missing the budget or crashing is dropped from the merge
        and the whole answer is flagged partial — the reference
        aggregator's shard-timeout semantics
        (`AggregatorService.cpp:280-323`), batched. Per-call executor
        for the same straggler-isolation reason as
        search_with_deadline."""
        import concurrent.futures as cf

        if not queries:
            return [], False
        qids = np.array([int(q) for q, _ in queries], dtype=np.int64)
        work = self._scatter(queries, metric)
        ex = cf.ThreadPoolExecutor(
            max_workers=max(len(work), 1),
            thread_name_prefix="spann-shard-batch",
        )
        try:
            futs = [
                ex.submit(
                    self.replicas[j].batch_search,
                    sub, k, nprobe, metric, max_dist_ratio,
                    deleted_ids, allowed_ids,
                )
                for j, sub in work
            ]
            done, not_done = cf.wait(futs, timeout=budget_ms / 1000.0)
        finally:
            ex.shutdown(wait=False, cancel_futures=True)
        parts = []
        n_failed = 0
        for f in done:
            if f.exception() is not None:
                n_failed += 1  # crashed shard folds into the partial merge
                continue
            parts.append(f.result())
        rows = self._merge_batch(parts, qids, k)
        return rows, bool(not_done) or n_failed > 0

    def close(self) -> None:
        """Kept for handle symmetry — the scatter is a plain serial loop
        (the threaded variant was measured and rejected, SCALING.md r10)
        and the deadline path tears its per-call executor down itself, so
        there is no pooled state to release."""


class LocalPqSpannReplica(_RoutedReplica):
    """PQ-compressed serving replica: SPANN routing + ADC scoring, no full
    vectors in RAM.

    The reference's billion-scale node keeps full postings on SSD; the
    RAM-resident twin at that scale needs compression — M bytes per vector
    (PQ codes, `PQQuantizer.h`) instead of 4·D, a ~32× density win that
    puts ~2B 64-d vectors in 16 GB. Routing stays full-precision (heads are
    ~0.1·N and tiny); member scoring is the ADC LUT gather
    (`index/pq.py adc_search` semantics, same rotation handling), so
    returned distances are `adc_dist` — approximate, monotone enough for
    the PQ recall regime (gate mirrors test_pq_adc_recall)."""

    dispatch_label = "pq_replica"  # planner last_dispatch tag

    def __init__(
        self,
        heads: DataFrame,
        postings: DataFrame,
        codes: DataFrame,
        books,
        refine_store=None,
        refine_factor: int = 4,
    ) -> None:
        # refine_store: (ids, float32 memmap) from open_refine_store — ADC
        # picks k·refine_factor candidates, their TRUE vectors are read
        # from disk and exact-reranked (the ivf_pq_search refine stage at
        # the serve tier; RAM stays codes-only, the reference's
        # SSD-rerank shape). None → raw ADC distances.
        self.refine = refine_store
        self.refine_factor = int(refine_factor)
        head_ids, H = _load_heads(heads)

        cp = codes.select("id", "codes").toPandas()
        self.code_ids = cp["id"].to_numpy(np.int64)
        corder = np.argsort(self.code_ids)
        self.code_ids = self.code_ids[corder]
        # uint8 — PQ codes index 256-entry codebooks; storing them wider
        # would silently forfeit the M-bytes-per-vector density this
        # replica exists for
        self.codes = np.array(cp["codes"].tolist(), dtype=np.uint8)[corder]

        pp = postings.select("head_id", "id").toPandas()  # NO vectors
        slot = np.searchsorted(head_ids, pp["head_id"].to_numpy(np.int64))
        porder = np.argsort(slot, kind="stable")
        # posting position → code row (row index ≡ vector id)
        self.post_rows = np.searchsorted(
            self.code_ids, pp["id"].to_numpy(np.int64)[porder]
        )
        indptr = np.searchsorted(slot[porder], np.arange(len(head_ids) + 1))
        self._set_slabs(head_ids, H, indptr[:-1], np.diff(indptr))
        self.books = books

    def _ids(self, rows: np.ndarray) -> np.ndarray:
        return self.code_ids[self.post_rows[rows]]

    def _refine_rows(self, ids: np.ndarray) -> np.ndarray:
        """Rows of ``ids`` in the id-sorted refine store, by searchsorted;
        the memmap gather then reads only those rows (the SSD rerank
        I/O). Validates the hit before any gather — an id missing from
        the store (stale refine store after an index rebuild) would
        otherwise silently rerank against a WRONG row's vector (ADVICE
        r9)."""
        rf_ids = self.refine[0]
        pos = np.minimum(np.searchsorted(rf_ids, ids), max(len(rf_ids) - 1, 0))
        if len(rf_ids) == 0 or not np.array_equal(rf_ids[pos], ids):
            raise ValueError(
                "refine store does not cover the index's ids — it was "
                "built from a different vector set (stale store after "
                "a rebuild?); rebuild it with build_refine_store"
            )
        return pos

    def search_one(
        self,
        q: np.ndarray,
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """→ (ids, adc_dists) in rank order; distances are ADC estimates
        (exact when a refine store is attached).
        ``deleted_ids``/``allowed_ids``: serve-time candidate filters
        (see LocalSpannReplica.search_one)."""
        q = np.asarray(q, dtype=np.float64)
        cand = self._probe(q, nprobe, metric, max_dist_ratio)
        if cand.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0)
        rows = np.unique(self.post_rows[cand])  # replica dedup
        keep = _id_filter_mask(self.code_ids[rows], deleted_ids, allowed_ids)
        if keep is not None:
            rows = rows[keep]
        if rows.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0)
        cb, R = self.books.codebooks, self.books.rotation
        m, n_codes, sub = cb.shape
        qr = q @ R if R is not None else q
        lut = np.empty((m, n_codes))
        for i in range(m):
            diff = cb[i] - qr[i * sub : (i + 1) * sub][None, :]
            lut[i] = (diff * diff).sum(1)
        d = lut[np.arange(m)[None, :], self.codes[rows]].sum(1)
        ids = self.code_ids[rows]
        if self.refine is not None:
            n_cand = min(len(ids), max(k, k * self.refine_factor))
            pre = ids[np.lexsort((ids, d))[:n_cand]]
            V = np.asarray(
                self.refine[1][self._refine_rows(pre)], dtype=np.float64
            )  # exact upcast
            dx = _exact_pair_dists(V, q, metric)
            top = np.lexsort((pre, dx))[: min(k, len(pre))]
            return pre[top], dx[top]
        top = np.lexsort((ids, d))[: min(k, len(ids))]
        return ids[top], d[top]

    def _slab_scorer(self, Q: np.ndarray, metric: str, k: int):
        """→ score(rows, qsub): ADC over one code slab for all its
        queries. ONE (batch, m, 256) LUT tensor is built per batch (same
        subspace arithmetic as search_one's per-query LUT) and each slab
        is a fancy-gather sum. ADC values are deterministic gather-sums
        (not BLAS), bitwise the per-query ones, so no slab cap or margin
        rescore is needed."""
        B = len(Q)
        # LUT tensor for the whole batch — per query i, subspace j:
        # (codebook[j] - rotated_q[j·sub:(j+1)·sub])² summed over the
        # subspace, exactly search_one's per-query loop body
        cb, R = self.books.codebooks, self.books.rotation
        m, n_codes, sub = cb.shape
        # rotate per query (vecmat), NOT one GEMM: dgemm and dgemv differ
        # in the last ulp and search_one rotates per query
        QR = np.array([q @ R for q in Q]) if R is not None else Q
        lut = np.empty((B, m, n_codes))
        for j in range(m):
            diff = cb[j][None, :, :] - QR[:, None, j * sub : (j + 1) * sub]
            sq = diff * diff
            # reduce in 2D, not 3D: numpy's last-axis pairwise reduction
            # blocks DIFFERENTLY for 3-D arrays at some shapes (measured:
            # one-ulp drift vs the per-query 2-D sum), and these values
            # must be bitwise the serial kernel's
            lut[:, j, :] = sq.reshape(-1, sub).sum(axis=1).reshape(B, n_codes)
        lut_flat = lut.reshape(B, m * n_codes)
        code_cols = np.arange(m, dtype=np.int64) * n_codes  # (m,)

        def score(rows: np.ndarray, qsub: np.ndarray) -> tuple:
            idx = code_cols[None, :] + self.codes[self.post_rows[rows]]
            G = lut_flat[qsub][:, idx]  # (|qsub|, n, m)
            # 2-D reduction for bitwise parity with search_one (see LUT)
            D = G.reshape(-1, m).sum(axis=1).reshape(len(qsub), len(rows))
            return (
                np.repeat(qsub, len(rows)),
                np.tile(rows, len(qsub)),
                D.ravel(),
            )

        return score

    def _rerank(self, cq, ids, cd, rows, pos, Q, nq, metric, k) -> tuple:
        """Raw ADC order as-is, or — with a refine store — the top
        k·refine_factor per query exact-reranked from the store."""
        if self.refine is None:
            return cq, ids, cd, pos
        keep = pos < max(k, k * self.refine_factor)
        cq, ids = cq[keep], ids[keep]
        return _exact_rerank(
            cq, ids, self.refine[1][self._refine_rows(ids)], Q, nq, metric
        )

    def memory_bytes(self) -> int:
        """RAM actually held by the replica's arrays — the figure the
        planner's budget dispatch trades against the full-vector twin."""
        return int(
            self.H.nbytes
            + self.head_ids.nbytes
            + self.codes.nbytes
            + self.code_ids.nbytes
            + self.post_rows.nbytes
            + self.indptr.nbytes
        )
