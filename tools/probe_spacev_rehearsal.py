"""The SPACEV-regime dress rehearsal (r12 VERDICT #1): EVERYTHING
composed at >=8.4M x dim-100 int8 — the reference's realistic operating
regime (SPACEV1B is dim-100 int8, `datasets/SPACEV1B/README.md:9-14`;
the r10 x1024 rehearsal ran dim-16 float, the r12 dim-100 int8 probe ran
2.1M and stopped at stores). One journey, one JSON:

  P1  ingest: 32 DEFAULT-binary int8 files -> read_binary_vectors
      upcast path -> parquet corpus (8,388,608 x 100).
  P2  select_heads — distributed two-level Lloyd, ratio 0.05 (~420k
      heads; the r11 1M-head routing fixtures proved the layout above
      this, this run proves the JOURNEY at realistic dim/width).
  P3  build_postings — grouped routed assignment (the r12 2.73x kernel).
  P4  int8 NATIVE-WIDTH stores: the packed posting store (the patch
      target) AND the executor-parallel int8 refine store, with a
      random-row gather identity check against the corpus.
  P5  partitioned serve: 4 k-means shards with int8 disk stores
      (ShardedSpannAggregator — the BalancedDataPartition layout), four
      REAL server processes cold-started from the store files, a
      center-routed RemoteReplicaAggregator (scatter_topk=2) in front:
      recall@10 >= 0.90 vs exact truth (nprobe ladder 24/48/96), batch
      QPS, deadline single-query p50/p99 + partial rate at a budget
      calibrated 1.3x the observed worst per-shard p99.
  P6  live maintenance on the single int8 store: serve p50 BEFORE;
      SpannLiveIndex (LIRE local mode) takes one concentrated add batch
      -> batched posting splits -> incremental store patch (sync_store);
      recorded: splits, patch walls, PATCH BYTES vs store bytes (the
      locality witness), serve p50 AFTER from the patched files, and
      self-hit@1 for a sample of the added vectors served from the
      PATCHED store.
  P7  shard growth: the sharded deployment rebuilt over the grown
      postings reuses untouched shard stores byte-identical; the grown
      shard splits (split_shard) and the deadline drive recovers.

Output: PROBE_SPACEV_REHEARSAL.json (+ printed phase lines).
Usage: python tools/probe_spacev_rehearsal.py [--n 8388608] [--dim 100]
       [--ratio 0.05] [--queries 256]
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np

sys.path.insert(0, "/root/repo")

from tools.probe_dim100_int8 import (  # noqa: E402
    _gen_rows,
    _geometry,
    exact_truth,
    gen_int8_files,
)
from tools.probe_dress_rehearsal import RssWatch  # noqa: E402
from tools.probe_heads_distributed import posting_balance  # noqa: E402

WORK = "/tmp/spacev_rehearsal"


def _arg(name: str, default: str) -> str:
    return (
        sys.argv[sys.argv.index(name) + 1] if name in sys.argv else default
    )


def store_digest(store_dir: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(store_dir)):
        with open(os.path.join(store_dir, f), "rb") as fh:
            h.update(f.encode())
            h.update(fh.read())
    return h.hexdigest()[:16]


def _serve_proc_main(store_dir, k, nprobe, ready, stop_ev):
    from sptag_spark.server import AnnTcpServer
    from sptag_spark.serving_local import DiskSpannReplica

    rep = DiskSpannReplica.from_store(store_dir)
    srv = AnnTcpServer(rep, k=k, nprobe=nprobe).start()
    ready.put((store_dir, srv.address))
    stop_ev.wait()
    srv.stop()


def main() -> None:
    n = int(_arg("--n", str(1 << 23)))
    dim = int(_arg("--dim", "100"))
    ratio = float(_arg("--ratio", "0.05"))
    n_q = int(_arg("--queries", "256"))
    os.makedirs(WORK, exist_ok=True)
    out: dict = {"n": n, "dim": dim, "ratio": ratio, "phases": {}}

    os.environ.setdefault("SPTAG_SPARK_DRIVER_MEM", "48g")
    from sptag_spark.calibration import gemm_calibration

    out["calibration"] = gemm_calibration()
    from sptag_spark.session import get_spark

    spark = get_spark(
        "probe-spacev-rehearsal", cpus=32, shuffle_partitions=64
    )

    # ---- P1 ingest --------------------------------------------------
    t0 = time.time()
    bin_dir = gen_int8_files(n, dim)
    gen_wall = time.time() - t0
    from sptag_spark.io.readers import read_binary_vectors

    pq = os.path.join(WORK, f"corpus_{n}_{dim}.parquet")
    t0 = time.time()
    with RssWatch() as w:
        if not os.path.isdir(pq):
            read_binary_vectors(
                spark, bin_dir, "default", value_type="int8"
            ).write.mode("overwrite").parquet(pq)
    vecs = spark.read.parquet(pq)
    n_rows = vecs.count()
    out["phases"]["p1_ingest"] = {
        "gen_wall_s": round(gen_wall, 1),
        "ingest_wall_s": round(time.time() - t0, 1),
        "rows": n_rows,
        "driver_rss_mb": round(w.peak, 1),
    }
    print(json.dumps(out["phases"]["p1_ingest"]), flush=True)
    assert n_rows == n

    # ---- P2 distributed heads ---------------------------------------
    from sptag_spark.index.heads import select_heads

    t0 = time.time()
    with RssWatch() as w:
        heads = select_heads(
            vecs, ratio=ratio, distributed=True
        ).persist()
        k_heads = heads.count()
    out["phases"]["p2_select_heads"] = {
        "wall_s": round(time.time() - t0, 1),
        "heads": k_heads,
        "driver_rss_mb": round(w.peak, 1),
    }
    print(json.dumps(out["phases"]["p2_select_heads"]), flush=True)

    # ---- P3 routed postings -----------------------------------------
    from sptag_spark.index.postings import build_postings

    t0 = time.time()
    with RssWatch() as w:
        postings = build_postings(vecs, heads).persist()
        post_rows = postings.count()
    out["phases"]["p3_build_postings"] = {
        "wall_s": round(time.time() - t0, 1),
        "posting_rows": post_rows,
        "balance": posting_balance(postings),
        "driver_rss_mb": round(w.peak, 1),
    }
    print(json.dumps(out["phases"]["p3_build_postings"]), flush=True)

    # ---- P4 native int8 stores --------------------------------------
    from sptag_spark.serving_local import (
        DiskSpannReplica,
        build_refine_store,
        open_refine_store,
    )

    single_store = os.path.join(WORK, "store_int8")
    shutil.rmtree(single_store, ignore_errors=True)
    t0 = time.time()
    with RssWatch() as w:
        DiskSpannReplica(heads, postings, single_store, value_type="int8")
    packed_wall = time.time() - t0
    vec_file = next(
        f
        for f in os.listdir(single_store)
        if f.startswith("post_vectors")
    )
    packed_bytes = os.path.getsize(os.path.join(single_store, vec_file))
    refine_dir = os.path.join(WORK, "refine_int8")
    shutil.rmtree(refine_dir, ignore_errors=True)
    t0 = time.time()
    build_refine_store(
        vecs.select("id", "vector"), refine_dir, value_type="int8"
    )
    refine_wall = time.time() - t0
    rf_ids, rf_M = open_refine_store(refine_dir)
    # identity spot-check: 1024 random store rows == the corpus rows
    sites, B = _geometry(dim)
    per = n // 32
    rng = np.random.default_rng(99)
    spot = np.sort(rng.choice(n, size=1024, replace=False))
    ok = True
    for sid in spot[:64]:
        fi, off = divmod(int(sid), per)
        row = _gen_rows(sites, B, fi, per)[off]
        pos = int(np.searchsorted(rf_ids, sid))
        ok = ok and np.array_equal(np.asarray(rf_M[pos]), row)
    out["phases"]["p4_stores"] = {
        "packed_wall_s": round(packed_wall, 1),
        "packed_bytes": packed_bytes,
        "packed_bytes_f32_equiv": packed_bytes * 4,
        "refine_wall_s": round(refine_wall, 1),
        "refine_bytes": os.path.getsize(
            os.path.join(refine_dir, "vectors.i8")
        ),
        "refine_dtype": str(rf_M.dtype),
        "refine_row_identity_64": bool(ok),
    }
    print(json.dumps(out["phases"]["p4_stores"]), flush=True)
    assert ok

    # ---- truth + queries --------------------------------------------
    corpus8 = np.empty((n, dim), dtype=np.int8)
    for i in range(32):
        corpus8[i * per : (i + 1) * per] = _gen_rows(sites, B, i, per)
    qsel = rng.choice(n, size=n_q, replace=False)
    Q = corpus8[qsel].astype(np.float64) + rng.normal(
        scale=1.0, size=(n_q, dim)
    )
    t0 = time.time()
    truth = exact_truth(corpus8, Q, k=10)
    out["truth_wall_s"] = round(time.time() - t0, 1)
    qlist = [(int(i), Q[i]) for i in range(n_q)]

    # ---- P5 partitioned serve (4 int8 shards, real processes) -------
    from sptag_spark.serving_local import ShardedSpannAggregator

    shards_dir = os.path.join(WORK, "shards")
    shutil.rmtree(shards_dir, ignore_errors=True)
    t0 = time.time()
    with RssWatch() as w:
        agg = ShardedSpannAggregator(
            heads, postings, n_shards=4, store_dir=shards_dir,
            scatter_topk=2, split="kmeans", value_type="int8",
        )
    shard_wall = time.time() - t0
    shard_dirs = [
        os.path.join(shards_dir, f"shard_{i}") for i in range(4)
    ]
    digests_p5 = {
        os.path.basename(d): store_digest(d) for d in shard_dirs
    }

    import multiprocessing as mp

    from sptag_spark.server import RemoteReplicaAggregator

    ctx = mp.get_context("spawn")
    procs: list = []
    stop_evs: list = []

    def spawn(dirs, nprobe):
        ready_q = ctx.Queue()
        ev = ctx.Event()
        stop_evs.append(ev)
        ps = [
            ctx.Process(
                target=_serve_proc_main,
                args=(d, 10, nprobe, ready_q, ev),
                daemon=True,
            )
            for d in dirs
        ]
        for p in ps:
            p.start()
        # children report ready in COMPLETION order — re-key by store
        # dir so the address list aligns with the centers/replica order
        # (a permuted list silently misroutes the center scatter)
        by_dir = dict(ready_q.get(timeout=300) for _ in ps)
        procs.extend(ps)
        return [by_dir[d] for d in dirs]

    def recall_of(rows) -> float:
        by_q: dict[int, list[int]] = {}
        for r in rows:
            lst = by_q.setdefault(r[0], [])
            if len(lst) < 10:
                lst.append(int(r[2]))
        return sum(
            len(set(by_q.get(i, [])) & set(truth[i].tolist()))
            for i in range(n_q)
        ) / (10.0 * n_q)

    p5: dict = {
        "shard_store_wall_s": round(shard_wall, 1),
        "rows_per_shard": agg.shard_posting_rows(),
        "store_build_rss_mb": round(w.peak, 1),
        "curve": [],
    }
    try:
        # recall ladder IN-PROCESS over the same disk shard stores (a
        # remote child answers at its own configured operating point —
        # the reference's child-index semantics — so nprobe is chosen
        # here, then the servers are spawned AT that point)
        op_nprobe = None
        for nprobe in (24, 48, 96):
            t0 = time.time()
            rows = agg.batch_search(qlist, k=10, nprobe=nprobe)
            wall = time.time() - t0
            rec = recall_of(rows)
            p5["curve"].append(
                {
                    "nprobe": nprobe,
                    "recall_at_10": round(rec, 4),
                    "batch_qps": round(n_q / wall, 1),
                }
            )
            print(json.dumps(p5["curve"][-1]), flush=True)
            if rec >= 0.90:
                op_nprobe = nprobe
                break
        assert op_nprobe is not None, "recall never reached 0.90"
        addrs = spawn(shard_dirs, nprobe=op_nprobe)
        ragg = RemoteReplicaAggregator(
            addrs, centers=agg.centers, scatter_topk=2
        )
        t0 = time.time()
        rrows = ragg.batch_search(qlist, k=10)
        p5["remote_batch_qps"] = round(n_q / (time.time() - t0), 1)
        p5["remote_recall_at_10"] = round(recall_of(rrows), 4)
        # deadline drive: calibrate on the observed tail, then measure
        lat = []
        for qid, qv in qlist[:128]:
            t1 = time.time()
            ids, d, partial = ragg.search_with_deadline(
                qv, 10, budget_ms=10_000.0
            )
            lat.append((time.time() - t1) * 1000)
        lat.sort()
        budget = round(1.3 * lat[int(0.99 * (len(lat) - 1))], 2)
        partials = 0
        dlat = []
        for qid, qv in qlist:
            t1 = time.time()
            ids, d, partial = ragg.search_with_deadline(
                qv, 10, budget_ms=budget
            )
            dlat.append((time.time() - t1) * 1000)
            partials += bool(partial)
        dlat.sort()
        p5.update(
            {
                "op_nprobe": op_nprobe,
                "budget_ms": budget,
                "deadline_p50_ms": round(dlat[len(dlat) // 2], 3),
                "deadline_p99_ms": round(
                    dlat[int(0.99 * (len(dlat) - 1))], 3
                ),
                "partial_rate": round(partials / n_q, 4),
            }
        )
        out["phases"]["p5_partitioned_serve"] = p5
        print(json.dumps({k: v for k, v in p5.items() if k != "curve"}),
              flush=True)

        # ---- P6 live maintenance + incremental store patch ----------
        from sptag_spark.streaming.spfresh import SpannLiveIndex

        rep_before = DiskSpannReplica.from_store(single_store)
        blat = []
        for qid, qv in qlist[:128]:
            t1 = time.time()
            rep_before.search_one(qv, k=10, nprobe=op_nprobe)
            blat.append((time.time() - t1) * 1000)
        blat.sort()
        p6: dict = {
            "serve_p50_before_ms": round(blat[len(blat) // 2], 3),
        }
        del rep_before

        # split_limit just above the observed p99 posting length: only
        # the concentrated adds below can trip it
        plen_p99 = int(
            out["phases"]["p3_build_postings"]["balance"]["p99"]
        )
        idx = SpannLiveIndex(
            vecs, prebuilt=(heads, postings),
            rebuild_threshold=1 << 62, maintenance="local",
            split_limit=max(2 * plen_p99, 64),
        )
        idx.attach_store(single_store, value_type="int8")
        # one concentrated micro-batch: 65,536 adds around 24 sites —
        # int8-valued (lossless for the native store), dense enough to
        # push ~hundreds of postings past the limit
        radd = np.random.default_rng(7)
        # concentrate near ONE shard's region (the sites nearest shard
        # 0's center): the adds overload one slice of the deployment,
        # like real ingest skew — maintenance stays local to it
        site_order = np.argsort(
            ((sites - agg.centers[0]) ** 2).sum(axis=1)
        )
        hot_sites = site_order[:12]
        a = hot_sites[radd.integers(0, 12, size=65_536)]
        z = radd.normal(size=(65_536, 8))
        V = sites[a] + radd.normal(scale=1.0, size=(65_536, dim))
        for s in np.unique(a):
            m = a == s
            V[m] += z[m] @ B[s].T
        A8 = np.clip(np.rint(V), -128, 127).astype(np.int8)
        import pandas as pd

        badd = spark.sparkContext.broadcast(A8)

        def genadds(it):
            for pdf in it:
                ids = pdf["id"].to_numpy(np.int64)
                block = badd.value[ids]
                yield pd.DataFrame(
                    {
                        "id": ids + n,
                        "vector": [
                            r.astype(np.float32) for r in block
                        ],
                    }
                )

        adds_df = spark.range(len(A8)).repartition(32).mapInPandas(
            genadds, "id long, vector array<float>"
        )
        t0 = time.time()
        with RssWatch() as w:
            idx.add_batch(adds_df)
            # drain any violations past add_batch's per-batch op budget
            # (ongoing background maintenance in SPFresh terms), then
            # patch the store for the drained edits too
            idx.maintain(max_ops=100_000)
            idx.sync_store()
        add_wall = time.time() - t0
        splits = [
            op for op in idx.maintenance_log if op["op"] == "split"
        ]
        patches = idx.store_patch_log
        patch_bytes = sum(
            p.get("vector_bytes_appended", 0) for p in patches
        )
        p6.update(
            {
                "adds": len(A8),
                "add_batch_wall_s": round(add_wall, 1),
                "add_rss_mb": round(w.peak, 1),
                "lire_splits": len(splits),
                "store_patches": len(patches),
                "patch_stats": patches[-1] if patches else None,
                "patch_bytes_appended": patch_bytes,
                "store_bytes": packed_bytes,
                "patch_fraction": round(
                    patch_bytes / max(packed_bytes, 1), 4
                ),
            }
        )
        # serve AFTER from the PATCHED files: p50 + self-hit@1 of adds
        rep_after = DiskSpannReplica.from_store(single_store)
        alat = []
        for qid, qv in qlist[:128]:
            t1 = time.time()
            rep_after.search_one(qv, k=10, nprobe=op_nprobe)
            alat.append((time.time() - t1) * 1000)
        alat.sort()
        hits = 0
        probe_ids = radd.choice(len(A8), size=64, replace=False)
        for ai in probe_ids:
            ids, d = rep_after.search_one(
                A8[ai].astype(np.float64), k=1, nprobe=op_nprobe
            )
            hits += bool(len(ids)) and (
                int(ids[0]) == int(ai) + n or float(d[0]) == 0.0
            )
        p6.update(
            {
                "serve_p50_after_ms": round(alat[len(alat) // 2], 3),
                "added_self_hit_at_1": round(hits / 64, 4),
            }
        )
        out["phases"]["p6_live_maintenance"] = p6
        print(json.dumps(p6, default=str), flush=True)

        # ---- P7 shard growth + split --------------------------------
        t0 = time.time()
        agg2 = ShardedSpannAggregator(
            idx.heads, idx.postings, n_shards=4, store_dir=shards_dir,
            scatter_topk=2, split="kmeans", value_type="int8",
        )
        regate_wall = time.time() - t0
        digests_mid = {
            os.path.basename(d): store_digest(d) for d in shard_dirs
        }
        untouched = [
            k for k in digests_p5 if digests_mid[k] == digests_p5[k]
        ]
        jgrown = int(np.argmax(agg2.shard_posting_rows()))
        rows_grown = agg2.shard_posting_rows()
        t0 = time.time()
        rep = agg2.split_shard(
            jgrown, idx.heads, idx.postings, store_dir=shards_dir,
            value_type="int8",
        )
        split_wall = time.time() - t0
        # deadline serve across the 5 post-split shards (in-process
        # deadline path: same gather semantics as the network tier)
        partials = 0
        slat = []
        for qid, qv in qlist[:128]:
            t1 = time.time()
            ids, d, partial = agg2.search_with_deadline(
                qv, k=10, nprobe=op_nprobe, budget_ms=budget
            )
            slat.append((time.time() - t1) * 1000)
            partials += bool(partial)
        slat.sort()
        out["phases"]["p7_shard_growth"] = {
            "store_regate_wall_s": round(regate_wall, 1),
            "untouched_stores": untouched,
            "rows_per_shard_grown": rows_grown,
            "split_report": rep,
            "split_wall_s": round(split_wall, 1),
            "post_split_p50_ms": round(slat[len(slat) // 2], 3),
            "post_split_partial_rate": round(partials / 128, 4),
            "rows_per_shard_after": agg2.shard_posting_rows(),
        }
        print(json.dumps(out["phases"]["p7_shard_growth"]), flush=True)
        idx.close()
    finally:
        for ev in stop_evs:
            ev.set()
        for p in procs:
            p.join(timeout=10)
            if p.is_alive():
                p.terminate()

    with open("/root/repo/PROBE_SPACEV_REHEARSAL.json", "w") as f:
        json.dump(out, f, indent=1, default=str)
    print("WROTE /root/repo/PROBE_SPACEV_REHEARSAL.json", flush=True)


if __name__ == "__main__":
    main()
