"""The workloads. Each takes a ``Run`` (see run.py), generates its
inputs from the run's seed, drives the engine's public entry points, checks
the answers and fills in the run's metrics.

Sizes are fixed here, not derived from the machine: a later change is
compared on the same inputs. The base corpus is a fixed synthetic dataset
(drawn from ``DATASET_SEED``, as a benchmark uses a standard dataset); the
run's seed draws everything that reaches the engine at run time: queries,
arrival times, update batches, deletes and the document stream.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

from common import (
    DIM, K, ROOT, Mixture, check_topk_rows, corpus, exact_topk, median,
    percentile, recall, rng_for, tail_level, write_vectors, zipf_components,
)

DATASET_SEED = 0

# the serving probe (fresh_update, traced runs) --------------------------
SERVE_NPROBE = 16
SERVE_CONNS = max(1, min(4, os.cpu_count() or 1))
SERVE_REF_RATE = 200.0       # q/s, about 1/6 of the node's capacity
SERVE_REF_S = 5.5            # ~1,100 requests: enough for a p99
# about 1/4x to 2x the node's capacity (820-1,090 q/s for this index on a
# 4-core box: server.capacity_qps), each step SERVE_STEP_REQUESTS long
SERVE_LADDER = (300, 600, 900, 1200, 1800, 2400)  # q/s
SERVE_STEP_REQUESTS = 1200
SERVE_LIMIT_MS = 25.0        # p99 limit that defines the max rate
SERVE_QUERY_POOL = 2048
SERVE_IDENTITY_SAMPLE = 64

# fresh_update ------------------------------------------------------------
FRESH_N = 4_000
FRESH_COMPONENTS = 32
FRESH_ADD = 500
FRESH_ADD_NEW = 150          # of each add, drawn from a component absent at build
FRESH_DELETE = 100
FRESH_QUERIES = 100
FRESH_NPROBE = 8
FRESH_ROUNDS = 4             # two compaction cycles (one per 1,000 adds)
FRESH_MIN_SEARCHES = 5       # final-state live searches, at least

# stream_dedup ------------------------------------------------------------
STREAM_FILES = 7             # one micro-batch each; the first is warm-up
STREAM_DOCS = 600            # per file
STREAM_DUP_SHARE = 0.2
STREAM_VOCAB = 20_000


def _build_index(run, vec_df):
    """select_heads + build_postings, materialized; records the index
    layer metrics. → (heads, postings)."""
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    import pyspark.sql.functions as F

    t = time.perf_counter()
    with run.span("index.heads.select"), run.ops.op("select_heads"):
        heads = select_heads(vec_df).persist()
        n_heads = heads.count()
    t_heads = time.perf_counter() - t
    t = time.perf_counter()
    with run.span("index.postings.build"), run.ops.op("build_postings"):
        postings = build_postings(vec_df, heads).persist()
        rows = postings.count()
    t_post = time.perf_counter() - t
    run.layer["index.heads.select_s"] = t_heads
    run.layer["index.postings.build_s"] = t_post
    run.layer["index.heads.count"] = n_heads
    run.layer["index.postings.rows"] = rows
    if run.trace:
        n_vec = vec_df.count()
        run.layer["index.postings.replication"] = rows / max(n_vec, 1)
        run.layer["index.postings.max_len"] = (
            postings.groupBy("head_id").count().agg(F.max("count")).first()[0]
        )
    run.build_s = t_heads + t_post
    return heads, postings


def _vector_frame(run, name: str, ids: np.ndarray, X: np.ndarray,
                  id_col: str = "id"):
    """Write the vectors as parquet and read them back through Spark."""
    path = write_vectors(run.path(name), ids, X, id_col=id_col)
    return run.spark.read.schema(f"{id_col} long, vector array<float>").parquet(path)


def _collect_topk(df) -> tuple[dict, dict]:
    """(query_id → ids in rank order, query_id → dists) of a result frame,
    checking ranks run 1..n."""
    rows = df.select("query_id", "rank", "id", "dist").collect()
    rows.sort(key=lambda r: (r["query_id"], r["rank"]))
    ids: dict[int, list[int]] = {}
    dists: dict[int, list[float]] = {}
    for r in rows:
        q = int(r["query_id"])
        if r["rank"] != len(ids.get(q, ())) + 1:
            ids.setdefault(q, []).append(-1)  # a rank gap fails the shape check
        ids.setdefault(q, []).append(int(r["id"]))
        dists.setdefault(q, []).append(float(r["dist"]))
    return ids, dists


def _check_results(run, what: str, qids, ids, dists, valid_ids,
                   banned=None) -> None:
    for q in qids:
        q = int(q)
        problems = check_topk_rows(
            ids.get(q, []), dists.get(q, []), K, valid_ids, banned
        )
        run.check(not problems, f"{what} query {q}: {problems}")


# ==========================================================================
# the serving tier, probed from fresh_update's traced run
# ==========================================================================


def serve_probe(run, heads, postings, mix: Mixture, n_components: int,
                valid_ids: np.ndarray) -> None:
    """Serve ``heads``/``postings`` from ``AnnTcpServer`` over a
    ``LocalSpannReplica`` in its own spawned process (``serve_node.py``,
    no Spark) and record the serving layers' metrics: in-process search,
    wire overhead, and an open-loop Poisson ladder (one client thread,
    ``SERVE_CONNS`` connections). TCP answers must be row-identical to
    in-process ``search_one``."""
    from sptag_spark.server import encode_query
    from sptag_spark.serving_local import LocalSpannReplica

    from loadgen import (
        OpenLoopClient, backlog_growing, generator_valid, max_rate,
        poisson_schedule, tail_latency_s,
    )
    from serve_node import save_replica

    t = time.perf_counter()
    with run.span("serving_local.load"):
        replica = LocalSpannReplica(heads, postings)
    run.layer["serving_local.load_s"] = time.perf_counter() - t
    index_dir = run.path("index")
    save_replica(replica, index_dir)

    r = rng_for(run.seed, "serve_queries")
    Q = mix.sample(r, zipf_components(r, SERVE_QUERY_POOL, n_components))
    lines = [
        (encode_query(q, base64_payload=True, resultnum=K) + "\n").encode()
        for q in Q
    ]
    node = run.spawn(
        [sys.executable, os.path.join(ROOT, "perfbench", "serve_node.py"),
         index_dir, str(SERVE_NPROBE)]
    )
    ready = node.stdout.readline().split()
    if len(ready) != 3 or ready[0] != "READY":
        raise RuntimeError(f"serving node did not start: {ready!r}")
    run.layer["serving_local.node_load_s"] = float(ready[2])
    pos = 0

    def take(n: int) -> list[bytes]:
        nonlocal pos
        out = [lines[(pos + i) % len(lines)] for i in range(n)]
        pos += n
        return out

    with OpenLoopClient("127.0.0.1", int(ready[1]), SERVE_CONNS) as client:
        warm = client.run(take(400), np.arange(400) / 800.0, 800.0)
        run.attempt(400, warm.failed, "warm-up requests")
        sample = np.arange(SERVE_IDENTITY_SAMPLE)
        ident = client.run(
            [lines[i] for i in sample], np.arange(len(sample)) / 200.0,
            200.0, keep_responses=True,
        )
        run.attempt(len(sample), ident.failed, "identity requests")
        for i, resp in zip(sample, ident.responses):
            rows = (resp or {}).get("results", [])
            got_i = [row["id"] for row in rows]
            got_d = [row["dist"] for row in rows]
            want_i, want_d = replica.search_one(
                Q[i].astype(np.float64), k=K, nprobe=SERVE_NPROBE
            )
            run.check(
                got_i == want_i.tolist() and got_d == want_d.tolist(),
                f"tcp answer {i} differs from in-process search_one",
            )
            run.check(
                [row["rank"] for row in rows] == list(range(1, len(rows) + 1)),
                f"tcp answer {i} ranks",
            )
            problems = check_topk_rows(got_i, got_d, K, valid_ids)
            run.check(not problems, f"tcp answer {i}: {problems}")
        run.layer["server.rss_mb"] = run.rss_mb(node.pid)

        sched = rng_for(run.seed, "arrivals")
        offs = poisson_schedule(sched, SERVE_REF_RATE, SERVE_REF_S)
        with run.span("loadgen.ref", requests=len(offs)):
            ref = client.run(take(len(offs)), offs, SERVE_REF_RATE)
        run.attempt(len(offs), ref.failed, "reference requests")
        lvl = tail_level(len(ref.latency_s)) or 50.0
        run.layer["loadgen.ref.tail_ms"] = tail_latency_s(ref.latency_s, lvl) * 1e3
        run.layer["loadgen.ref.tail_level"] = lvl
        run.layer["loadgen.ref.samples"] = len(ref.latency_s)
        run.layer["server.request_bytes"] = ref.request_bytes / len(offs)
        run.layer["server.response_bytes"] = (
            ref.response_bytes / max(1, len(ref.ok_latencies()))
        )
        steps = []
        for rate in SERVE_LADDER:
            offs = poisson_schedule(sched, rate, SERVE_STEP_REQUESTS / rate)
            with run.span("loadgen.step", rate=rate, requests=len(offs)):
                st = client.run(take(len(offs)), offs, rate)
            run.attempt(len(offs), st.failed, f"requests at {rate} q/s")
            steps.append(st)
            tag = f"loadgen.r{rate}"
            run.layer[f"{tag}.p99_ms"] = tail_latency_s(st.latency_s, 99.0) * 1e3
            run.layer[f"{tag}.lateness_p99_ms"] = (
                percentile(st.lateness_s, 99) * 1e3
            )
            run.layer[f"{tag}.max_in_flight"] = st.max_in_flight
            run.layer[f"{tag}.samples"] = len(st.ok_latencies())
            run.layer[f"{tag}.valid"] = float(
                generator_valid(st) and not backlog_growing(st.outstanding)
            )
            if st.timeouts:
                break  # their late answers would be read as the next step's
        run.layer["server.capacity_qps"] = max(st.achieved_qps for st in steps)
        run.layer["loadgen.max_qps"] = max_rate(steps, SERVE_LIMIT_MS / 1e3)
        run.layer["server.errors"] = sum(s.errors for s in [ref, *steps])

        # in-process search over the same queries, and an idle RTT
        lat_local, post_read, rows_read = [], [], []
        for q in Q[:1000]:
            q64 = q.astype(np.float64)
            with run.span("serving_local.search_one") as c:
                t = time.perf_counter()
                replica.search_one(q64, k=K, nprobe=SERVE_NPROBE)
                lat_local.append(time.perf_counter() - t)
                c["rows"] = replica.last_io_rows
            post_read.append(replica.last_io_postings)
            rows_read.append(replica.last_io_rows)
        run.layer["serving_local.search_p50_ms"] = median(lat_local) * 1e3
        run.layer["serving_local.search_p99_ms"] = percentile(lat_local, 99) * 1e3
        run.layer["serving_local.postings_read_per_query"] = float(
            np.mean(post_read)
        )
        run.layer["serving_local.rows_scanned_per_query"] = float(
            np.mean(rows_read)
        )
        idle = client.run(take(200), np.arange(200) / 100.0, 100.0)
        run.attempt(200, idle.failed, "idle requests")
        run.layer["server.overhead_ms"] = (
            median(idle.ok_latencies()) * 1e3
            - run.layer["serving_local.search_p50_ms"]
        )
    run.stop(node)


# ==========================================================================
# fresh_update
# ==========================================================================


def fresh_update(run) -> None:
    from sptag_spark.index.ann import route_queries
    from sptag_spark.operators.knn import knn
    from sptag_spark.streaming.spfresh import SpannLiveIndex

    mix, X = corpus(DATASET_SEED, FRESH_N, FRESH_COMPONENTS)
    # the component new adds come from: absent at build
    new_mix = Mixture(
        rng_for(DATASET_SEED, "fresh_new").normal(size=(1, DIM)) * 4.0
    )
    ids = np.arange(FRESH_N, dtype=np.int64)
    vec = _vector_frame(run, "vectors.parquet", ids, X)
    heads, postings = _build_index(run, vec)
    with run.span("streaming.spfresh.open"):
        live = SpannLiveIndex(
            vec, maintenance="local", prebuilt=(heads, postings)
        )
    r = rng_for(run.seed, "fresh_rounds")
    live_ids = dict(zip(ids.tolist(), X))
    deleted: set[int] = set()
    next_id = FRESH_N

    def query_inputs(i: int):
        Q = mix.sample(r, r.integers(0, FRESH_COMPONENTS, FRESH_QUERIES))
        Q[: FRESH_QUERIES // 5] = new_mix.sample(
            r, np.zeros(FRESH_QUERIES // 5, dtype=int)
        )
        qids = np.arange(FRESH_QUERIES, dtype=np.int64) + i * FRESH_QUERIES
        return qids, Q

    def round_inputs(i: int):
        old = mix.sample(r, r.integers(0, FRESH_COMPONENTS, FRESH_ADD - FRESH_ADD_NEW))
        new = new_mix.sample(r, np.zeros(FRESH_ADD_NEW, dtype=int))
        A = np.vstack([old, new])
        a_ids = np.arange(FRESH_ADD, dtype=np.int64) + next_id
        pool = np.fromiter(live_ids.keys(), dtype=np.int64)
        d_ids = r.choice(pool, FRESH_DELETE, replace=False)
        return (a_ids, A, d_ids, *query_inputs(i))

    add_s, del_s, search_s = [], [], []
    added = 0

    def one_round(i: int):
        nonlocal next_id, added
        a_ids, A, d_ids, qids, Q = round_inputs(i)
        adf = _vector_frame(run, f"add{i}.parquet", a_ids, A)
        ddf = run.spark.createDataFrame(
            [(int(x),) for x in d_ids], "id long"
        )
        qdf = _vector_frame(run, f"q{i}.parquet", qids, Q, "query_id")
        t = time.perf_counter()
        with run.span("streaming.spfresh.add_batch", round=i), \
                run.ops.op("add_batch"):
            live.add_batch(adf)
        t_add = time.perf_counter() - t
        t = time.perf_counter()
        with run.span("streaming.spfresh.delete", round=i):
            live.delete_ids(ddf)
        t_del = time.perf_counter() - t
        t = time.perf_counter()
        with run.span("streaming.spfresh.search", round=i), \
                run.ops.op("live_search"):
            got_i, got_d = _collect_topk(live.search(qdf, k=K, nprobe=FRESH_NPROBE))
        t_search = time.perf_counter() - t
        next_id += FRESH_ADD
        live_ids.update(zip(a_ids.tolist(), A))
        for d in d_ids.tolist():
            live_ids.pop(d, None)
            deleted.add(d)
        run.attempt(3)
        valid = np.fromiter(live_ids.keys(), dtype=np.int64)
        _check_results(run, "live search", qids, got_i, got_d, valid, deleted)
        add_s.append(t_add)
        del_s.append(t_del)
        search_s.append(t_search)
        added += FRESH_ADD

    run.mark_setup()
    for i in range(FRESH_ROUNDS):
        one_round(i)
    run.ops_per_s = added / (sum(add_s) + sum(del_s))

    # live searches at one fixed index state (after the last round's
    # compaction), fresh queries each, for --seconds and at least
    # FRESH_MIN_SEARCHES of them; p50_ms is their median
    live_arr = np.fromiter(live_ids.keys(), dtype=np.int64)
    live_X = np.stack([live_ids[int(x)] for x in live_arr])
    final_s, recalls = [], []
    t_start = time.perf_counter()
    i = FRESH_ROUNDS
    while (len(final_s) < FRESH_MIN_SEARCHES
           or time.perf_counter() - t_start < run.seconds):
        qids, Q = query_inputs(i)
        qdf = _vector_frame(run, f"q{i}.parquet", qids, Q, "query_id")
        t = time.perf_counter()
        with run.span("streaming.spfresh.search", round=i), \
                run.ops.op("live_search"):
            got_i, got_d = _collect_topk(
                live.search(qdf, k=K, nprobe=FRESH_NPROBE)
            )
        final_s.append(time.perf_counter() - t)
        run.attempt(1)
        _check_results(run, "live search", qids, got_i, got_d, live_arr,
                       deleted)
        truth, _ = exact_topk(live_X, live_arr, Q)
        recalls.append(recall(got_i, truth, qids))
        i += 1
    run.p50_ms = median(final_s) * 1e3
    run.recall = float(np.mean(recalls))
    if run.trace:
        # the exact operator over the live set, checked against NumPy
        t = time.perf_counter()
        with run.span("operators.knn.search"), run.ops.op("knn"):
            e_ids, e_d = _collect_topk(knn(live.live_vectors(), qdf, k=K))
        run.layer["operators.knn.search_s"] = time.perf_counter() - t
        run.attempt(1)
        _check_results(run, "exact live search", qids, e_ids, e_d, live_arr,
                       deleted)
        exact_rec = recall(e_ids, truth, qids)
        run.check(exact_rec >= 0.999, f"exact knn recall {exact_rec}")

    run.layer["streaming.spfresh.add_batch_s"] = median(add_s)
    run.layer["streaming.spfresh.delete_s"] = median(del_s)
    run.layer["streaming.spfresh.search_s"] = median(search_s)
    run.layer["index.ann.search_s"] = median(final_s)
    run.layer["streaming.spfresh.splits"] = sum(
        1 for op in live.maintenance_log if op.get("op") == "split"
    )
    if run.trace:
        lengths = live.posting_lengths()
        run.layer["streaming.spfresh.max_posting_len"] = max(lengths.values())
        q_rows = qdf.collect()
        t = time.perf_counter()
        with run.span("index.ann.route"):
            routes = route_queries(qdf, live.heads, FRESH_NPROBE, q_rows=q_rows)
            routed = routes.select("head_id").toPandas()["head_id"]
        run.layer["index.ann.route_s"] = time.perf_counter() - t
        run.layer["index.ann.rows_scanned_per_query"] = sum(
            lengths.get(int(h), 0) for h in routed
        ) / len(qids)
        # the serving tier over the final live index, deleted ids removed
        import pyspark.sql.functions as F

        served = live.postings.filter(~F.col("id").isin(sorted(deleted)))
        serve_probe(run, live.heads, served, mix, FRESH_COMPONENTS, live_arr)
    live.close()


# ==========================================================================
# stream_dedup
# ==========================================================================


def stream_docs(seed: int) -> tuple[list[list[tuple[int, str]]], set]:
    """STREAM_FILES files of STREAM_DOCS docs; ~STREAM_DUP_SHARE of every
    file after the first are near-copies (≈8% of tokens replaced) of docs
    in earlier files. → (files, planted (doc_a, doc_b) pairs, doc_a < doc_b)."""
    r = rng_for(seed, "stream_docs")
    files: list[list[tuple[int, str]]] = []
    earlier: list[tuple[int, list[int]]] = []
    planted = set()
    doc_id = 0
    for f in range(STREAM_FILES):
        docs = []
        n_dup = int(STREAM_DOCS * STREAM_DUP_SHARE) if f else 0
        for j in range(STREAM_DOCS):
            if j < n_dup:
                src_id, src = earlier[int(r.integers(0, len(earlier)))]
                toks = list(src)
                for p in r.choice(len(toks), max(1, len(toks) // 12), replace=False):
                    toks[p] = int(r.integers(0, STREAM_VOCAB))
                planted.add((min(src_id, doc_id), max(src_id, doc_id)))
            else:
                toks = r.integers(0, STREAM_VOCAB, int(r.integers(40, 80))).tolist()
            docs.append((doc_id, toks))
            doc_id += 1
        earlier.extend(docs)
        files.append([(i, " ".join(f"w{t}" for t in toks)) for i, toks in docs])
    return files, planted


def stream_dedup(run) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sptag_spark.streaming.stateful import streaming_near_dup_candidates

    files, planted = stream_docs(run.seed)
    land = run.path("landing")
    os.makedirs(land)
    base = time.time() - 3600
    for f, docs in enumerate(files):
        p = os.path.join(land, f"part-{f:04d}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                      "text": pa.array([t for _, t in docs])}), p,
        )
        os.utime(p, (base + f, base + f))  # the file source orders by mtime
    stream = (
        run.spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    cand = streaming_near_dup_candidates(
        stream, threshold=0.3, bands=16, n_hashes=32, state_mode="cumulative"
    )
    sink = f"perfbench_dedup_{os.getpid()}"
    t_query = time.time()
    with run.span("streaming.stateful.query"):
        q = (
            cand.writeStream.format("memory").queryName(sink)
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", run.path("checkpoint"))
            .start()
        )
        q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    run.ops.add("trigger", run.sc.statusTracker().getJobIdsForGroup(str(q.runId)),
                time.time() - t_query, t_query)
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    run.attempt(len(batches))
    run.check(len(batches) == STREAM_FILES,
              f"{len(batches)} non-empty micro-batches, want {STREAM_FILES}")
    first, steady = batches[0], batches[1:]
    first_end = _epoch(first["timestamp"]) + first["durationMs"]["triggerExecution"] / 1e3
    run.setup_s = first_end - run.t0_epoch
    trig = [p["durationMs"]["triggerExecution"] for p in steady]
    run.ops_per_s = sum(p["numInputRows"] for p in steady) / (sum(trig) / 1e3)
    run.p50_ms = median(trig)

    rows = run.spark.table(sink).select("doc_a", "doc_b", "est_jaccard").collect()
    pairs = set()
    n_docs = STREAM_FILES * STREAM_DOCS
    for row in rows:
        a, b = int(row["doc_a"]), int(row["doc_b"])
        run.check(0 <= a < b < n_docs and 0.3 <= row["est_jaccard"] <= 1.0,
                  f"malformed candidate {tuple(row)}")
        pairs.add((a, b))
    found = len(planted & pairs)
    run.recall = found / len(planted)
    run.check(run.recall >= 0.9, f"planted pair recall {run.recall}")
    run.layer["operators.dedup.candidates"] = len(pairs)
    run.layer["operators.dedup.candidate_precision"] = found / max(1, len(pairs))
    state = [p["stateOperators"][0] for p in steady if p.get("stateOperators")]
    run.layer["streaming.stateful.trigger_p50_ms"] = median(trig)
    run.layer["streaming.stateful.add_batch_ms"] = median(
        [p["durationMs"].get("addBatch", 0) for p in steady]
    )
    if state:
        run.layer["streaming.stateful.state_commit_ms"] = median(
            [s.get("commitTimeMs", 0) for s in state]
        )
        run.layer["streaming.stateful.state_rows"] = state[-1]["numRowsTotal"]
        run.layer["streaming.stateful.state_bytes"] = state[-1]["memoryUsedBytes"]
    run.layer["streaming.stateful.trigger_growth"] = trig[-1] / trig[0]


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


WORKLOADS = {
    "fresh_update": fresh_update,
    "stream_dedup": stream_dedup,
}
