"""Serving node for the benchmark's serving probe, run as its own process:

    python3 perfbench/serve_node.py <index_dir> <nprobe>

Loads the ``heads``/``postings`` parquet that ``save_replica`` wrote under
``index_dir`` into a ``LocalSpannReplica``, serves it with ``AnnTcpServer``
on a free localhost port, prints ``READY <port> <load_s>`` and serves until
its standard input closes. No Spark session is started here: the replica's
loader only needs ``select(...).toPandas()``, which a pandas frame read
straight from the parquet provides.
"""

from __future__ import annotations

import os
import sys
import time


class _Frame:
    """The two DataFrame methods LocalSpannReplica's loader calls."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def select(self, *cols):
        return _Frame(self._pdf[list(cols)])

    def toPandas(self):
        return self._pdf


def save_replica(replica, index_dir: str) -> None:
    """Write a built replica's heads and postings as parquet, the node's
    input: (head_id, vector) and (head_id, id, vector)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def vectors(M):
        flat = pa.array(np.ascontiguousarray(M).ravel())
        return pa.FixedSizeListArray.from_arrays(flat, M.shape[1]).cast(
            pa.list_(pa.float64())
        )

    for name in ("heads", "postings"):
        os.makedirs(os.path.join(index_dir, name), exist_ok=True)
    pq.write_table(
        pa.table({"head_id": replica.head_ids, "vector": vectors(replica.H)}),
        os.path.join(index_dir, "heads", "part-0.parquet"),
    )
    slab = np.repeat(replica.head_ids, replica.slab_len)
    pq.write_table(
        pa.table({"head_id": slab, "id": replica.post_ids,
                  "vector": vectors(replica.post_V)}),
        os.path.join(index_dir, "postings", "part-0.parquet"),
    )


def main(index_dir: str, nprobe: int) -> None:
    import pandas as pd

    from sptag_spark.server import AnnTcpServer
    from sptag_spark.serving_local import LocalSpannReplica

    t = time.perf_counter()
    heads = _Frame(pd.read_parquet(os.path.join(index_dir, "heads")))
    postings = _Frame(pd.read_parquet(os.path.join(index_dir, "postings")))
    replica = LocalSpannReplica(heads, postings)
    load_s = time.perf_counter() - t
    server = AnnTcpServer(replica, k=10, nprobe=nprobe).start()
    try:
        print(f"READY {server.address[1]} {load_s!r}", flush=True)
        sys.stdin.read()  # serve until the parent closes our stdin
    finally:
        server.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main(sys.argv[1], int(sys.argv[2]))
