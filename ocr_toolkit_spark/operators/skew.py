"""The physical-decision layer: every operator asks this module, and only
this module, three questions.

- **Materialize?** `materialize(df)` computes a multiply-referenced frame
  once and stores its rows (`localCheckpoint(eager=True)`); no other module
  checkpoints. The checkpoint job also counts the rows.
- **Spread?** `spread(df, source=None)` repartitions a map-heavy frame to
  the session's default parallelism when its source scans as at most
  half that many partitions.
- **Broadcast?** `broadcast_build_fits(df, est_row_bytes)` gates the
  build-side hint of the LSH verify joins from a materialized frame's
  exact row count, which its checkpoint job already filled; the top-k
  query gate decides from `rows_at_most(df, n)`, a bounded
  `limit(n + 1).count() <= n` probe of a frame never materialized.

It also owns the one LSH-family candidate generator and its
degenerate-bucket guard. Every bucketed near-dup scheme here (MinHash
bands, SimHash chunks, SRP embedding buckets) writes the same bucket frame
`(id, band, band_hash)` and generates candidates with a self-equi-join on
`(band, band_hash)`. That is the right 100-TB shape — EXCEPT when one
bucket is degenerate: a boilerplate band shared by m documents yields m²
pairs inside a single join key.  At web scale m can be millions, so one
hot key melts the stage while every other task finishes in seconds
(classic skew: AQE can split the partition, but not the m² row explosion
itself).

`delta_candidate_pairs(new, state, max_bucket)` bounds this without losing
the dedup semantics. A batch run is a round over an empty state
(`state=None`); an incremental round adds the state rows of the buckets
its new rows touch.

- buckets with ≤ `max_bucket` members: ordinary all-pairs (id_a < id_b).
- oversized buckets: every new member pairs with the bucket's min-id
  REPRESENTATIVE only — O(m) pairs instead of O(m²).  For duplicate
  clustering this preserves the connected component (members stay linked
  through the rep), and all pairs are still verified downstream (Jaccard /
  Hamming / cosine), so precision is untouched.  The trade is recall of
  *member↔member* links whose similarity to the rep falls below the verify
  threshold — acceptable for degenerate buckets, which are overwhelmingly
  boilerplate clones of one text.

No driver-side counting: bucket size and rep are window columns over the
join key, computed by the generator's one checkpoint (a degenerate
bucket's m rows in one task — O(m) rows, never O(m²) pairs).  Use
`oversized_bucket_stats` to report what was starred — "no silent caps".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

DEFAULT_MAX_BUCKET = 256

# Build-side byte budget for the LSH-family verify joins (r7, guide §3.1):
# a materialized frame's size statistics are the planner's estimate of the
# plan it replaced, not a bound; when the checkpoint's exact row count
# proves the payload frame fits well under executor memory, the verify
# hints it explicitly and the per-pair scoring runs shuffle-free at the
# candidate side's parallelism. Above the budget the shuffle join stays —
# the honest 100-TB shape.
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
    """True when a frame returned by `materialize` fits the broadcast-build
    budget: its exact row count, counted by the checkpoint job, is at most
    the budget's row count. No job runs here."""
    cap = BROADCAST_BUILD_MAX_BYTES // max(1, est_row_bytes)
    return materialized_df._rows.get["rows"] <= cap


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

    `delta_candidate_pairs` references its bucket frame several ways
    (self-join n/t, star and bridge filters); left unmaterialized, Catalyst
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
    checkpoint dir — the call sites do not change.

    The returned frame carries its row count as `_rows`, an `Observation`
    on the checkpointed plan that the checkpoint job itself fills, so
    `broadcast_build_fits` reads an exact count without a probe job. It is
    read only there: the count reaches the driver through the listener
    bus, and a caller that never needs it should not wait for it."""
    rows = Observation()
    out = df.observe(rows, F.count(F.lit(1)).alias("rows")).localCheckpoint(
        eager=True)
    out._rows = rows
    return out


def delta_candidate_pairs(
    new_banded: DataFrame,
    state_banded: DataFrame | None = None,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) touching at least one NEW row:
    new×(old ∪ new) within each `(band, band_hash)` bucket, star-capped.
    With `state_banded=None` every row is new, so this is the batch
    candidate set of `new_banded` (round 0 == batch run).

    Shuffle shape: the state table is reduced to touched buckets by a
    broadcast left-semi join on the new side's distinct bucket keys (the
    delta is small by definition), so the per-round join cost is
    O(touched-bucket rows × new rows per bucket), never O(state²) and
    never a state-table shuffle.

    `new_banded` may carry extra columns (SimHash's `sig`); only
    `(id, band, band_hash)` is read. It is read up to three times, so
    callers hand over a materialized frame (see `materialize`). The union
    of touched state rows and new rows, with its bucket size `_n`, min-id
    rep `_rep` and min old id `_old_rep`, is the one checkpoint taken
    here; its job carries the broadcast semi-join."""
    cols = ["id", "band", "band_hash"]
    allb = new_banded.select(*cols, F.lit(True).alias("_new"))
    if state_banded is not None:
        # replay safety (ADVICE r5 #2): on a re-run of an already-committed
        # round the state already holds the new docs' bands; keep exactly
        # one copy of each (id, band, band_hash) — the _new=true one — or
        # the doubled rows inflate bucket-size stats and can spuriously
        # trip the star guard, changing the replayed round's pair set.
        # Broadcast anti-join on the delta's ids: small by definition,
        # never shuffles the state.
        touched_old = state_banded.join(
            F.broadcast(new_banded.select("band", "band_hash").distinct()),
            ["band", "band_hash"], "left_semi",
        ).join(F.broadcast(new_banded.select("id").distinct()), ["id"],
               "left_anti")
        allb = touched_old.select(
            *cols, F.lit(False).alias("_new")
        ).unionByName(allb)
    bucket = Window.partitionBy("band", "band_hash")
    allb = materialize(allb.select(
        "*",
        F.count("*").over(bucket).alias("_n"),
        F.min("id").over(bucket).alias("_rep"),
        F.min(F.when(~F.col("_new"), F.col("id"))).over(bucket)
        .alias("_old_rep"),
    ))

    small = allb.filter(F.col("_n") <= max_bucket)
    n, t = small.filter("_new").alias("n"), small.alias("t")
    pairs_small = (
        n.join(t, ["band", "band_hash"])
        # new×old once per old row, new×new once per unordered pair
        .filter(~F.col("t._new") | (F.col("n.id") < F.col("t.id")))
        .select(
            F.least(F.col("n.id"), F.col("t.id")).alias("id_a"),
            F.greatest(F.col("n.id"), F.col("t.id")).alias("id_b"),
        )
    )
    # oversized: each NEW member links to the bucket's min-id rep; when the
    # rep itself is new (backfill with smaller ids), bridge it to the old
    # rep so prior rounds' star/clique stays in the same component
    big = allb.filter(F.col("_n") > max_bucket)
    pairs_star = big.filter(
        F.col("_new") & (F.col("id") != F.col("_rep"))
    ).select(F.col("_rep").alias("id_a"), F.col("id").alias("id_b"))
    bridges = big.filter(F.col("_old_rep") != F.col("_rep")).select(
        F.col("_rep").alias("id_a"), F.col("_old_rep").alias("id_b"))
    return pairs_small.unionByName(pairs_star).unionByName(bridges).distinct()


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
