"""The physical-decision layer: every operator asks this module, and only
this module, three questions.

- **Materialize?** `materialize(df)` computes a multiply-referenced frame
  once and stores its rows (`localCheckpoint(eager=True)`); no other module
  checkpoints.
- **Spread?** `spread(df, source=None)` repartitions a map-heavy frame to
  the session's default parallelism when its source scans as at most
  half that many partitions.
- **Broadcast?** `broadcast_build_fits(df, est_row_bytes)` gates the
  build-side hint of the LSH bucket self-joins; it and the top-k query
  gate both decide from `rows_at_most(df, n)`, a bounded
  `limit(n + 1).count() <= n` probe.

It also owns the degenerate-bucket guard for LSH-family candidate
self-joins. Every bucketed near-dup scheme here (MinHash bands, SimHash
chunks, SRP embedding buckets) generates candidates with a self-equi-join
on bucket keys. That is the right 100-TB shape — EXCEPT when one bucket is
degenerate: a boilerplate band shared by m documents yields m² pairs inside
a single join key.  At web scale m can be millions, so one hot key melts
the stage while every other task finishes in seconds (classic skew: AQE can
split the partition, but not the m² row explosion itself).

`star_capped_pairs` bounds this without losing the dedup semantics:

- buckets with ≤ `max_bucket` members: ordinary all-pairs (id_a < id_b).
- oversized buckets: every member pairs with the bucket's min-id
  REPRESENTATIVE only — O(m) pairs instead of O(m²).  For duplicate
  clustering this preserves the connected component (members stay linked
  through the rep), and all pairs are still verified downstream (Jaccard /
  Hamming / cosine), so precision is untouched.  The trade is recall of
  *member↔member* links whose similarity to the rep falls below the verify
  threshold — acceptable for degenerate buckets, which are overwhelmingly
  boilerplate clones of one text.

No driver-side counting: bucket sizes come from one hash aggregation on the
same keys as the join (map-side partial agg), so the guard adds no new
shuffle key.  Use `oversized_bucket_stats` to report what was starred —
"no silent caps".
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MAX_BUCKET = 256

# Build-side byte budget for the LSH-family bucket self-joins (r7, guide
# §3.1): materialized frames carry NO size statistics, so the planner can
# never pick the broadcast join itself; when a bounded probe of the
# materialized frame proves the build side fits well under executor
# memory, the operator hints it explicitly (star_capped_pairs
# broadcast_build) and the pair-generate+verify stage runs shuffle-free at
# the probe side's parallelism. Above the budget the shuffle self-join
# stays — the honest 100-TB shape.
BROADCAST_BUILD_MAX_BYTES = 128 * 1024 * 1024


def rows_at_most(df: DataFrame, n: int) -> bool:
    """True when `df` provably holds at most `n` rows — one early-stop
    `limit(n+1).count()` job, decision-equivalent to a full count
    (count <= n  <=>  limit(n+1).count() <= n) but bounded: a frame far over
    `n` stops scanning after ~n rows instead of paying a full pass (a full
    count() of an 8M-row banded frame measured ~1 s per call at 1M docs,
    r7b)."""
    return df.limit(n + 1).count() <= n


def broadcast_build_fits(materialized_df: DataFrame, est_row_bytes: int) -> bool:
    """True when a MATERIALIZED frame provably fits the broadcast-build
    budget (`rows_at_most` the budget's row count). Only call on
    materialized frames: the probe then scans stored rows, not a recompute
    of the signature pipeline."""
    cap = BROADCAST_BUILD_MAX_BYTES // max(1, est_row_bytes)
    return rows_at_most(materialized_df, cap)


def spread(df: DataFrame, source: DataFrame | None = None) -> DataFrame:
    """Scale-adaptive parallelism floor for map-heavy stages (r7, guide §2.5
    "input skew" / §6 input split size).

    The driver tables are single parquet files with ONE row group, and
    parquet can only parallelize a scan across row groups — so every
    map-side stage before the first shuffle (quality regexes, shingle
    hashing, the SimHash/SRP UDFs, per-pair cosine verify) runs on ONE
    core no matter how many the box has. A round-robin repartition of the
    few-MB input is orders of magnitude cheaper than the serialized
    compute it unblocks.

    Scale safety: the repartition fires ONLY when the input has at most
    HALF the session's default parallelism (the pathology this fixes is a
    1-task scan; a 26-of-32-partition input is ~80% utilized and not worth
    a shuffle — r7b: the half threshold stops the guard from re-shuffling
    a 1M-row 26-partition corpus for a 23% parallelism gain). At real
    scale a table scan already carries >= cores splits, so this is a no-op
    there — never a payload shuffle of a big table. `getNumPartitions` is
    computed from the file listing; no job runs.

    `source` (default: `df` itself) is the frame whose partition count
    DECIDES, while the repartition applies to `df`. The verify operators
    pass the scanned table as `source` and its candidate semi-join as
    `df`: the table's count is honest from the file listing (the
    semi-join's is a pre-AQE guess), and only the candidate-touched rows
    are ever shuffled — spreading the table itself re-shuffled the ENTIRE
    corpus before the semi-join could prune it (measured +17% on the 1M
    dedup suite, r7b)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    decider = df if source is None else source
    if decider.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Cut the plan: compute `df` once and reuse the rows for every
    downstream reference.

    `star_capped_pairs` references its input four ways (bucket-size agg,
    anti-join, self-join a/b, members join); left unmaterialized, Catalyst
    re-executes the whole upstream subtree per reference — r2 review: the
    MinHash signature aggregation ran ~6× inside minhash_dedup with zero
    ReusedExchange. `localCheckpoint(eager=True)` runs the subtree exactly
    once, stores the rows on executors (memory, spilling to local disk) and
    truncates lineage, so every reference becomes a `Scan ExistingRDD`.

    Cluster note (100 TB): truncated lineage is non-recoverable — an
    executor loss fails the job instead of recomputing the lost blocks.
    For the bounded candidate-generation frames here (narrow columns,
    ~bands× the doc count) a from-scratch retry costs the same as one
    lineage recompute, so the trade is right; for frames where it is not,
    swap this for persist(StorageLevel.DISK_ONLY) or a reliable
    checkpoint dir — the call sites do not change."""
    return df.localCheckpoint(eager=True)


def star_capped_pairs(
    df: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    payload_cols: tuple[str, ...] = (),
    max_bucket: int = DEFAULT_MAX_BUCKET,
    broadcast_build: bool = False,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from a bucket self-join with the
    oversized-bucket star guard.  Payload columns are carried through as
    `<name>_a` / `<name>_b` (e.g. signatures for Hamming verification).

    This function fans `df` out four ways, so callers hand it a
    materialized frame (see `materialize`) — every LSH-family bucket frame
    carries the expensive signature pipeline in its lineage.

    `broadcast_build=True` (r7, guide §3.1): hint the b-side of the
    self-join for broadcast. A materialized input has NO size statistics,
    so the planner treats it as huge and picks a sort-merge join whose
    tiny shuffle AQE then coalesces down to a handful of tasks —
    serializing the per-pair verify work that runs inside the join stage.
    With the build side broadcast, pair generation AND verification run at
    the probe side's parallelism with no exchange at all. Operators enable
    it only when `broadcast_build_fits` proved the frame small; the
    default stays the shuffle join — the honest 100-TB shape."""
    # One aggregation finds the oversized buckets; its output is TINY
    # (≤ rows/max_bucket keys), so both the anti-join (drop big-bucket rows
    # from the all-pairs side) and the star join run as broadcast joins under
    # AQE — the only full-table shuffle left is the self-join itself.
    big = (
        df.groupBy(*key_cols)
        .agg(
            F.count("*").alias("_bucket_n"),
            # min over (id, payload...) structs == min-id row, payload intact
            F.min(F.struct(id_col, *payload_cols)).alias("_rep"),
        )
        .filter(F.col("_bucket_n") > max_bucket)
    )

    small = df.join(big.select(*key_cols), key_cols, "left_anti")
    a, b = small.alias("a"), small.alias("b")
    cond = reduce(
        lambda x, y: x & y,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols],
    ) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    if broadcast_build:
        b = F.broadcast(b)
    pairs_small = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{p}").alias(f"{p}_a") for p in payload_cols],
        *[F.col(f"b.{p}").alias(f"{p}_b") for p in payload_cols],
    )

    members = df.join(big.select(*key_cols, "_rep"), key_cols).filter(
        F.col(id_col) != F.col(f"_rep.{id_col}")
    )
    pairs_big = members.select(
        F.col(f"_rep.{id_col}").alias("id_a"),  # rep = min id → id_a < id_b
        F.col(id_col).alias("id_b"),
        *[F.col(f"_rep.{p}").alias(f"{p}_a") for p in payload_cols],
        *[F.col(p).alias(f"{p}_b") for p in payload_cols],
    )
    return pairs_small.unionByName(pairs_big)


def oversized_bucket_stats(
    df: DataFrame, key_cols: list[str], max_bucket: int = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """Report of buckets the guard starred: keys, member count, and the pair
    count avoided (m·(m-1)/2 - (m-1)).  Run alongside the dedup job so capped
    coverage is visible, never silent."""
    n = F.col("n")
    return (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("n"))
        .filter(n > max_bucket)
        .withColumn("pairs_avoided", (n * (n - 1) / 2 - (n - 1)).cast("long"))
    )
