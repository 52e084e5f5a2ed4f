"""Incremental IVF ANN index — the delta-dedup shape applied to similarity
search (r5 verdict #8).

At 100 TB you never re-train/re-assign the whole corpus per ingest. The
index is a persisted table of (vec_id, embedding, cell) rows partitioned
`ingest_id=N/cell=M` and committed through the same snapshot log as every
other table here (io.py):

- `build_ivf_index` trains the coarse quantizer ONCE (sampled spherical
  k-means — similarity.train_ivf_centroids), pins it on disk next to the
  data (`_quantizer.npy` + `_ivf_meta.json`, atomic create-exclusive),
  assigns every base vector to its cell and commits ingest 0. The meta
  records the BASE mean quantization error (1 − cos(v, centroid)) — the
  yardstick the drift trigger measures against.
- `append_ivf_index` assigns DELTA vectors with the EXISTING quantizer
  (no re-train — O(delta) work, the whole point), measures the delta's
  quantization-error ratio against the base, and REFUSES loudly
  (IvfDriftError) when the ratio crosses `drift_ratio`: a drifted
  distribution quantizes badly, recall decays silently, and the honest
  answer is a re-train, not a quiet append. Idempotent on run_id via the
  snapshot-log history, exactly like incremental.append_signatures.
- `ivf_index_topk` answers queries against the committed index: queries
  probe their n_probe nearest cells, the scan is filtered to the probed
  cells — `cell` is a PHYSICAL partition column, so the filter prunes at
  file-listing time (the Iceberg-manifest analog; at 1000 executors the
  unprobed ~(1 − n_probe/n_centroids) of the index is never opened) —
  and exact cosine re-ranks inside.

The two-level layout is deliberate: writes replace exactly their own
`ingest_id=N` subtree (io.write_new_partition clears the dir first —
dynamic overwrite alone is keyed on (ingest_id, cell) and would leave a
crashed writer's uncovered cells behind) WITHOUT clobbering other
ingests' rows in the same cell (a cell-only layout would), while the
nested `cell=` directories still give scans partition pruning on probes.
Ingest-id allocation, the replay check, the committed-only read and the
create-exclusive pin are io.py's table-commit steps, shared with the
signature states.

Reference analog: none — the reference has no vector search; this mirrors
the public FAISS IVF design (train-once quantizer, append-only inverted
lists, re-train on drift) re-expressed as Spark tables.
"""

from __future__ import annotations

import json
import os
from io import BytesIO

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import io as tio
from .similarity import (
    cosine_precomputed,
    make_ivf_assigner,
    train_ivf_centroids,
    with_vec_norm,
)
from .skew import materialize, spread

META_FILE = "_ivf_meta.json"
QUANTIZER_FILE = "_quantizer.npy"


class IvfDriftError(RuntimeError):
    """Delta distribution quantizes `drift_ratio`× worse than the base:
    appending would silently decay recall. Re-train (rebuild the index)
    instead."""


def ivf_index_meta(index_path: str) -> dict | None:
    return tio.read_meta(index_path, META_FILE)


def load_quantizer(index_path: str) -> np.ndarray:
    return np.load(os.path.join(index_path, QUANTIZER_FILE))


def _same_meta(a: dict, b: dict) -> bool:
    """Config fields must match exactly; base_qerr only approximately —
    it is a distributed float mean whose partial-sum order varies run to
    run, so a deterministic retry can differ in the last ulps."""
    import math

    keys = {"dim", "n_centroids", "seed", "drift_ratio"}
    if any(a.get(k) != b.get(k) for k in keys):
        return False
    return math.isclose(
        a.get("base_qerr", -1.0), b.get("base_qerr", -1.0), rel_tol=1e-6
    )


def _pin_files(index_path: str, meta: dict, centroids: np.ndarray) -> None:
    """Publish quantizer + meta atomically (io.publish_exclusive, the
    snapshot-commit primitive): two racing first builds cannot interleave
    halves of quantizer and meta.

    A retry AFTER a crash between this pin and ingest 0's snapshot
    commit lands here with the files already present (r6b review: the
    unconditional raise permanently wedged the path — build refused
    'already initialized' while append found tip==0 and crashed). An
    IDENTICAL pin (same config, same centroids, base_qerr equal to
    float-mean reproducibility) is tolerated so the retry can proceed to
    commit ingest 0; a DIFFERENT pin still raises loudly — that is a
    genuinely different index, not a crashed copy of this one."""
    npy = BytesIO()
    np.save(npy, centroids)
    same = (
        tio.publish_exclusive(
            os.path.join(index_path, QUANTIZER_FILE), npy.getvalue()
        )
        or np.array_equal(load_quantizer(index_path), centroids)
    ) and (
        tio.publish_exclusive(
            os.path.join(index_path, META_FILE), json.dumps(meta).encode()
        )
        or _same_meta(ivf_index_meta(index_path), meta)
    )
    if not same:
        raise ValueError(
            f"IVF index at {index_path} already initialized with "
            "a DIFFERENT quantizer/config — rebuild into a fresh "
            "path or append to the existing index"
        )


def _mean_qerr(assigned: DataFrame, centroids: np.ndarray,
               vec_col: str) -> float:
    """Mean quantization error 1 − cos(v, its centroid) — one narrow agg.

    Centroids ride inside an Arrow-batched pandas UDF closure (the
    make_ivf_assigner pattern): one numpy gather + row-wise dot per
    batch. The earlier literal-expression form (array of n_centroids ×
    dim F.lit's indexed by cell) built an O(n_centroids·dim) Catalyst
    tree per query — fine at 64 cells, plan-explosive at the thousands a
    100-TB index wants."""
    cents = centroids.astype(np.float64)
    cnorm = cents / np.where(
        np.linalg.norm(cents, axis=1, keepdims=True) == 0, 1,
        np.linalg.norm(cents, axis=1, keepdims=True),
    )

    @pandas_udf(T.DoubleType())
    def qe(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=float)
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        m = m / np.where(norms == 0, 1, norms)
        own = cnorm[cells.to_numpy().astype(np.int64)]
        return pd.Series(1.0 - np.einsum("ij,ij->i", m, own))

    row = assigned.agg(
        F.avg(qe(F.col(vec_col), F.col("cell"))).alias("qe")
    ).collect()[0]
    return float(row["qe"] or 0.0)


def _assigned(vectors: DataFrame, centroids: np.ndarray,
              id_col: str, vec_col: str) -> DataFrame:
    assign = make_ivf_assigner(centroids, n_probe=1)
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.element_at(assign(F.col(vec_col)), 1).alias("cell"),
    )


def _write_ingest(assigned: DataFrame, index_path: str, ingest_id: int,
                  run_id: str) -> None:
    # io.write_new_partition clears the whole ingest dir first: a crashed
    # prior writer's cells the current data does not cover would otherwise
    # survive the (ingest_id, cell)-keyed overwrite and be committed with
    # this ingest (r6c review: a retry with a different delta, or an
    # append reusing a crashed compaction's id, served never-committed
    # vectors)
    tio.write_new_partition(
        assigned.withColumn("ingest_id", F.lit(ingest_id)),
        index_path, ingest_id, "ingest_id", "cell",
    )
    tio.snapshot_commit(index_path, run_id, [ingest_id])


def build_ivf_index(
    spark: SparkSession,
    vectors: DataFrame,
    dim: int,
    index_path: str,
    run_id: str,
    n_centroids: int = 64,
    seed: int = 42,
    drift_ratio: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Train the quantizer on the base corpus, pin it, assign + commit
    ingest 0. Returns {n_vectors, n_centroids, base_qerr}.

    Crash recovery (r6b): a retry after a crash between the pin and
    ingest 0's commit re-trains (deterministic: seeded sample), finds
    the identical pin already present (_pin_files tolerates it), and
    proceeds to commit ingest 0 — no manual deletion needed. A retry of
    a COMPLETED build under the same run_id returns {replayed: True}
    without touching the log (an unconditional rewrite would append a
    second snapshot claiming ingest 0, making incremental consumers
    reprocess the whole base); a different run_id against a committed
    index raises — that is append_ivf_index's job."""
    tip = tio.latest_snapshot_id(index_path)
    if tip:
        snap = tio.find_run_snapshot(index_path, run_id)
        if snap and tio.claimed_partition(snap) == 0:
            meta = ivf_index_meta(index_path)
            return {
                "n_vectors": 0,
                "n_centroids": meta["n_centroids"],
                "base_qerr": meta["base_qerr"],
                "replayed": True,
            }
        raise ValueError(
            f"IVF index at {index_path} already has committed ingests — "
            "append_ivf_index to grow it, or rebuild into a fresh path"
        )
    centroids = train_ivf_centroids(
        vectors, dim, n_centroids, seed=seed, id_col=id_col, vec_col=vec_col
    )
    assigned = _assigned(vectors, centroids, id_col, vec_col)
    assigned = materialize(assigned)  # assign once, use 3×
    n = assigned.count()
    if n == 0:
        raise ValueError("build_ivf_index: empty base corpus")
    base_qerr = _mean_qerr(assigned, centroids, "embedding")
    meta = {
        "dim": dim,
        "n_centroids": n_centroids,
        "seed": seed,
        "base_qerr": base_qerr,
        "drift_ratio": drift_ratio,
    }
    _pin_files(index_path, meta, centroids)
    _write_ingest(assigned, index_path, 0, run_id)
    return {"n_vectors": n, "n_centroids": n_centroids,
            "base_qerr": round(base_qerr, 6)}


def append_ivf_index(
    spark: SparkSession,
    delta_vectors: DataFrame,
    index_path: str,
    run_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Assign delta vectors with the EXISTING quantizer and commit the next
    ingest partition — O(delta), no re-train, no touch of prior ingests.
    Raises IvfDriftError when the delta's mean quantization error exceeds
    `drift_ratio` × the base's (meta-pinned): that is the loud re-train
    demand. Idempotent on run_id (snapshot-history check). Returns
    {ingest_id, n_vectors, qerr, qerr_ratio}."""
    meta = ivf_index_meta(index_path)
    if meta is None:
        raise ValueError(f"no IVF index under {index_path}")
    if tio.latest_snapshot_id(index_path) == 0:
        raise ValueError(
            f"IVF index at {index_path} is pinned but has no committed "
            "ingest — a build crashed between its pin and ingest 0's "
            "commit; re-run build_ivf_index with the same inputs to "
            "recover (the identical pin is tolerated), then append"
        )
    centroids = load_quantizer(index_path)

    # replay check against retained history (append ops only) — the
    # shared claim-and-replay discipline; see io.find_run_snapshot for
    # the expiry boundary contract
    snap = tio.find_run_snapshot(index_path, run_id)
    if snap:
        return {"ingest_id": tio.claimed_partition(snap), "n_vectors": 0,
                "qerr": None, "qerr_ratio": None, "replayed": True}

    assigned = _assigned(delta_vectors, centroids, id_col, vec_col)
    assigned = materialize(assigned)
    n = assigned.count()
    if n == 0:
        raise ValueError(
            "append_ivf_index: refusing an EMPTY delta — a zero-row "
            "ingest snapshot makes the index unreadable. Skip the round."
        )
    qerr = _mean_qerr(assigned, centroids, "embedding")
    if meta["base_qerr"] > 0:
        ratio = qerr / meta["base_qerr"]
    else:
        # a zero-error base (every base vector IS a centroid) gives no
        # scale: any positive delta error is infinite drift, not "no
        # drift" — the r6b review's silent-disable edge
        ratio = 0.0 if qerr <= 1e-12 else float("inf")
    if ratio > meta["drift_ratio"]:
        raise IvfDriftError(
            f"delta quantization error {qerr:.4f} is {ratio:.2f}× the "
            f"base ({meta['base_qerr']:.4f}), over the pinned "
            f"drift_ratio {meta['drift_ratio']} — the quantizer no "
            "longer fits the data. Rebuild the index (re-train) instead "
            "of appending."
        )
    nxt = tio.next_partition_id(index_path)
    _write_ingest(assigned, index_path, nxt, run_id)
    return {"ingest_id": nxt, "n_vectors": n, "qerr": round(qerr, 6),
            "qerr_ratio": round(ratio, 4)}


def read_ivf_index(spark: SparkSession, index_path: str) -> DataFrame:
    """COMMITTED ingests only (the read_signature_state discipline): a
    crash between `_write_ingest`'s parquet write and its snapshot_commit
    leaves a fully-written orphan ingest; filtering `ingest_id` to the
    log's ownership map keeps those vectors out of query results until
    the retry overwrites and commits them. Physical partition column →
    pruned at file-listing time, composing with the probed-`cell` filter
    in ivf_index_topk."""
    tip = tio.latest_snapshot_id(index_path)
    if tip == 0:
        raise ValueError(f"no committed IVF index under {index_path}")
    return tio.read_extracted_as_of(
        spark, index_path, tip, partition_col="ingest_id"
    )


def compact_ivf_index(
    spark: SparkSession,
    index_path: str,
    run_id: str,
) -> dict:
    """Merge every committed ingest into ONE new ingest partition while
    preserving the nested `cell=` probe-pruning layout — the index-aware
    rewrite `io.compact_extracted` refuses to attempt (its single-level
    rewrite would flatten `cell=` and destroy listing-time pruning).

    At 100 TB the index accrues one `ingest_id=N` directory per append
    forever, so a probe of C cells eventually opens C files *per ingest*;
    after this rewrite it opens ~one file per cell total. Rows, quantizer,
    meta, and recall are IDENTICAL — only the layout changes.

    Crash-safe by construction, leaning on committed-only reads: the
    merged partition is written FIRST (an orphan until its commit — a
    crash leaves it invisible, sweep_orphan_partitions reclaims it), then
    ONE atomic snapshot claims it and DE-OWNS the sources
    (snapshot_commit remove_partition_ids, operation="replace") — no
    snapshot ever shows both copies. The de-owned source dirs are KEPT
    (r6b review: deleting them broke time-travel reads at
    pre-compaction snapshots that retained history still resolves);
    they become sweepable once expire_snapshots drops that history —
    sweep_orphan_partitions' retained-history boundary then reclaims
    them. Run quiesced (no concurrent append/query), like every compaction
    here; incremental consumers skip the "replace" snapshot. Idempotent
    on run_id via the log history, like append_ivf_index."""
    if tio.latest_snapshot_id(index_path) == 0:
        raise ValueError(f"no committed IVF index under {index_path}")
    snap = tio.find_run_snapshot(
        index_path, run_id, operation="replace", require_removal=True
    )
    if snap:
        return {"new_ingest": tio.claimed_partition(snap), "replayed": True}

    owners = tio.owned_partitions(index_path)
    # files a probe at the then-current tip must open (owned dirs only —
    # retained-but-de-owned history is never probed)
    files_before = tio.count_parquet_files(index_path, "ingest_id", owners)
    rows = read_ivf_index(spark, index_path)
    n_cells = int(ivf_index_meta(index_path)["n_centroids"])
    if len(owners) == 1 and files_before <= n_cells:
        # already in the compacted shape (one ingest, ≈one file per cell):
        # rewriting 1→1 would just append another replace snapshot and
        # another historical directory per invocation (r6c review: the
        # CLI's tip-derived run_id cannot replay a rerun AFTER success,
        # so the noop is what makes repeated --compact-index idempotent)
        return {"ingests_before": 1, "new_ingest": owners[0],
                "noop": True, "files_before": files_before}
    new_pid = tio.next_partition_id(index_path)
    tio.write_new_partition(
        rows.withColumn("ingest_id", F.lit(new_pid))
        .repartition(n_cells, "cell")  # ≈ one file per cell directory
        .sortWithinPartitions("cell", "vec_id"),
        index_path, new_pid, "ingest_id", "cell",
    )
    tio.snapshot_commit(
        index_path, run_id, [new_pid],
        operation="replace", remove_partition_ids=owners,
    )
    return {
        "ingests_before": len(owners),
        "new_ingest": new_pid,
        "deowned": owners,  # historical until expiry, then sweepable
        "files_before": files_before,
        "files_after": tio.count_parquet_files(
            index_path, "ingest_id", [new_pid]
        ),
    }


def ivf_index_topk(
    spark: SparkSession,
    queries: DataFrame,
    index_path: str,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against the committed index. The probed-cell filter lands on
    the PHYSICAL `cell` partition column (isin over the union of all
    queries' probes — ≤ n_centroids values), so unprobed cells are pruned
    at file-listing time; the per-query join then narrows to each query's
    own probe list. Queries are assumed serving-sized and broadcast."""
    meta = ivf_index_meta(index_path)
    if meta is None:
        raise ValueError(f"no IVF index under {index_path}")
    centroids = load_quantizer(index_path)
    q_assign = make_ivf_assigner(centroids, n_probe=n_probe)

    # r7: norms/casts hoisted per vector (cosine_precomputed is
    # bit-identical to cosine) and the pruned index scan spread — the
    # per-candidate scoring runs probe-side of the broadcast join, i.e. at
    # the scan's parallelism.
    q = with_vec_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec", "_qd", "_qn",
    ).select(
        "query_id", "_qd", "_qn",
        F.explode(q_assign(F.col("q_vec"))).alias("cell"),
    )
    q = materialize(q)  # assign once: probed-cell list + join
    probed = sorted(r[0] for r in q.select("cell").distinct().collect())
    v = with_vec_norm(
        spread(
            read_ivf_index(spark, index_path).filter(
                # partition pruning on the nested layout
                F.col("cell").isin(probed)
            ).select(
                F.col("vec_id").alias("neighbor_id"), "embedding", "cell"
            )
        ),
        "embedding", "_vd", "_vn",
    )
    from pyspark.sql import Window

    scored = (
        v.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim", F.round(
                cosine_precomputed(F.col("_qd"), F.col("_vd"),
                                   F.col("_qn"), F.col("_vn")), 6)
        )
        .select("query_id", "neighbor_id", "sim")
        .distinct()  # a pair can meet in several probed cells
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
