"""Incremental IVF index scale datapoint (r5 verdict #8): appending a
delta to a committed index must cost O(delta) — assign-with-frozen-
quantizer + one ingest write — while a full rebuild re-trains and
re-assigns the world; and the delta-built index must answer queries with
the same recall as the rebuild.

Corpus: seeded clustered unit vectors (64 clusters, dim 64) — the shape
IVF exists for. Legs:
1. `build`   — train + assign + commit the base index (one-time);
2. `append`  — assign the delta with the EXISTING quantizer, drift-check,
               commit ingest 1;
3. `rebuild` — the naive alternative: fresh index over the union;
4. recall@10 of both indexes vs exact brute force on 20 held-out queries.

Prints one JSON object; results land in BENCH/ivf_delta.json.
Usage: python BENCH/run_ivf_delta.py [n_base] [n_delta]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _measure import cpu_stat, steal_pct  # noqa: E402

DIM = 64
N_CLUSTERS = 64


def write_vectors(path: str, n: int, seed: int, start_id: int = 0) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    crng = np.random.default_rng(7)
    centers = crng.standard_normal((N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cl = rng.integers(0, N_CLUSTERS, size=n)
    v = centers[cl] + 0.15 * rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(start_id, start_id + n,
                                         dtype=np.int64)),
            "embedding": pa.array(v.astype(np.float32).tolist(),
                                  type=pa.list_(pa.float32())),
        }),
        path, row_group_size=16384)


def main() -> int:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_delta = int(sys.argv[2]) if len(sys.argv) > 2 else 25_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cache = os.environ.get("SPARK_GRAFT_BENCH_CACHE",
                           "/dev/shm/ocr_toolkit_bench")
    root = os.path.join(cache, "ivf_delta")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    base_p = os.path.join(root, "base.parquet")
    delta_p = os.path.join(root, "delta.parquet")
    write_vectors(base_p, n_base, seed=1)
    write_vectors(delta_p, n_delta, seed=2, start_id=n_base)

    from ocr_toolkit_spark.operators.ivf_index import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_index_topk,
    )
    from ocr_toolkit_spark.operators.similarity import brute_force_topk
    from ocr_toolkit_spark.session import get_spark

    spark = get_spark(app_name="ivf_delta_bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    base = spark.read.parquet(base_p)
    delta = spark.read.parquet(delta_p)
    union = base.unionByName(delta)
    queries = base.filter(f"vec_id < 20")

    idx = os.path.join(root, "idx")
    idx_full = os.path.join(root, "idx_full")
    out: dict = {"n_base": n_base, "n_delta": n_delta, "cpus": cpus,
                 "dim": DIM, "n_centroids": N_CLUSTERS}

    c0, t0 = cpu_stat(), time.time()
    rep = build_ivf_index(spark, base, DIM, idx, "base",
                          n_centroids=N_CLUSTERS)
    out["build"] = {"sec": round(time.time() - t0, 2),
                    "steal_pct": round(steal_pct(c0, cpu_stat()), 1), **rep}

    c0, t0 = cpu_stat(), time.time()
    arep = append_ivf_index(spark, delta, idx, "delta-1")
    out["append"] = {"sec": round(time.time() - t0, 2),
                     "steal_pct": round(steal_pct(c0, cpu_stat()), 1),
                     **arep}

    c0, t0 = cpu_stat(), time.time()
    build_ivf_index(spark, union, DIM, idx_full, "full",
                    n_centroids=N_CLUSTERS)
    out["rebuild"] = {"sec": round(time.time() - t0, 2),
                      "steal_pct": round(steal_pct(c0, cpu_stat()), 1)}

    bf = brute_force_topk(union, queries, k=10)
    bf_rows = bf.select("query_id", "neighbor_id").collect()
    bf_set = {(r.query_id, r.neighbor_id) for r in bf_rows}

    def recall(index_path):
        t0 = time.time()
        ann = ivf_index_topk(spark, queries, index_path, k=10, n_probe=8)
        rows = ann.select("query_id", "neighbor_id").collect()
        hits = sum((r.query_id, r.neighbor_id) in bf_set for r in rows)
        return round(hits / len(bf_set), 4), round(time.time() - t0, 2)

    out["recall_delta_index"], out["query_sec_delta_index"] = recall(idx)
    out["recall_full_rebuild"], out["query_sec_full_rebuild"] = recall(
        idx_full)
    out["speedup_append_vs_rebuild"] = round(
        out["rebuild"]["sec"] / out["append"]["sec"], 2)

    # index-aware compaction leg (r6b): merge the two ingests into one,
    # cell= pruning kept; recall and result set must not move, queries
    # should get cheaper (fewer files per probed cell)
    c0, t0 = cpu_stat(), time.time()
    crep = compact_ivf_index(spark, idx, "compact-1")
    out["compact"] = {"sec": round(time.time() - t0, 2),
                      "steal_pct": round(steal_pct(c0, cpu_stat()), 1),
                      **crep}
    out["recall_after_compact"], out["query_sec_after_compact"] = recall(idx)

    print(json.dumps(out), flush=True)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "ivf_delta.json"), "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
