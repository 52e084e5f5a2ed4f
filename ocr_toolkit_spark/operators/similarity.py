"""Similarity search over an embedding column (`array<float>`).

- Brute-force cosine top-k: exact baseline. The dot product stays JVM-side
  (`zip_with` + `aggregate` on double-cast arrays — whole-stage codegen),
  queries are broadcast, ranking is a per-query window. Cost: |Q| × N rows
  scanned, no all-pairs shuffle when Q is small (broadcast join).
- LSH (random hyperplane / SRP) bucketed variant: the 100-TB path. A
  deterministic seed-fixed projection matrix maps each vector to a b-bit
  bucket via one Arrow-batched pandas UDF (matrix multiply over the whole
  batch); candidates come from equi-joins on bucket id (optionally with
  multi-probe neighbor buckets), then exact cosine re-ranking on the
  candidate set only.
- Embedding near-dups: SRP buckets `(id, band=0, band_hash)` through
  skew.delta_candidate_pairs, then `cosine_pairs` verifies by id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .skew import (
    DEFAULT_MAX_BUCKET,
    broadcast_build_fits,
    delta_candidate_pairs,
    materialize,
    rows_at_most,
    spread,
)

# Input-query-count ceiling for the forced broadcast of the query side.
# Top-k serving contracts say "queries are small", but nothing used to
# enforce it (r2 review #4): a caller passing a 10M-row query set got a
# driver OOM instead of a plan. Above the ceiling the hint is dropped and
# the join falls back to whatever AQE picks (shuffle join at real sizes).
MAX_BROADCAST_QUERIES = 20_000


def _broadcast_if_small(queries: DataFrame, expanded: DataFrame) -> DataFrame:
    """Hint `expanded` (the per-bucket/probe-expanded query frame) for
    broadcast only when the INPUT query count is provably
    ≤ MAX_BROADCAST_QUERIES. The probe is one bounded `skew.rows_at_most`
    job on the raw query frame — O(MAX_BROADCAST_QUERIES) regardless of
    the true size."""
    if rows_at_most(queries, MAX_BROADCAST_QUERIES):
        return F.broadcast(expanded)
    return expanded


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def cosine_precomputed(
    a_d: Column, b_d: Column, a_norm: Column, b_norm: Column
) -> Column:
    """`cosine(a, b)` with the norms (and double casts) hoisted out — for
    hot paths that score one vector against MANY (top-k) or many pairs
    (near-dup verify), where recomputing both norms per comparison tripled
    the higher-order-function traversals (r7, guide §1.2 per-task work).

    BIT-IDENTICAL to `cosine`: `_norm` is deterministic over the same
    double-cast array, and the expression shape `dot / (norm_a * norm_b)`
    is unchanged, so hoisting the subexpressions cannot change a single
    ulp. `a_d`/`b_d` must be the `array<double>` casts of the raw vectors
    and `a_norm`/`b_norm` their `_norm` values."""
    return _dot(a_d, b_d) / (a_norm * b_norm)


def with_vec_norm(df: DataFrame, vec_col: str, d_col: str, n_col: str) -> DataFrame:
    """Add the double-cast vector and its norm as columns (the inputs
    `cosine_precomputed` needs), computed ONCE per row."""
    return df.withColumn(d_col, F.col(vec_col).cast("array<double>")).withColumn(
        n_col, _norm(F.col(d_col))
    )


def cosine_pairs(
    candidates: DataFrame, v: DataFrame, threshold: float, dim: int
) -> DataFrame:
    """Exact-cosine verification of candidate pairs (id_a, id_b) against a
    MATERIALIZED (id, vec, _nrm) frame: one JVM-side dot per pair, norms
    hoisted per vector. Returns (id_a, id_b, sim) with sim ≥ threshold.

    `v` is broadcast when provably small (r7, skew.broadcast_build_fits —
    the checkpoint's exact row count × float vec + id/_nrm + row overhead):
    without the hint, a checkpoint whose estimated size is over the
    planner's threshold gets sort-merge pair joins whose tiny shuffles AQE
    coalesces to ~1 task — serializing the per-pair dot."""
    w = v.select("id", "vec", "_nrm")
    if broadcast_build_fits(v, dim * 4 + 96):
        w = F.broadcast(w)
    return (
        candidates
        .join(w.withColumnsRenamed({"id": "id_a", "vec": "_va", "_nrm": "_na"}),
              "id_a")
        .join(w.withColumnsRenamed({"id": "id_b", "vec": "_vb", "_nrm": "_nb"}),
              "id_b")
        .withColumn("sim", cosine_precomputed(
            F.col("_va").cast("array<double>"),
            F.col("_vb").cast("array<double>"),
            F.col("_na"), F.col("_nb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. The query side is broadcast only when
    provably small (see MAX_BROADCAST_QUERIES)."""
    q = with_vec_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec", "_qd", "_qn",
    )
    # spread: the scoring map runs INSIDE the broadcast-join stage, so its
    # parallelism is the vector scan's — one task for a single-row-group
    # local file (r7, skew.spread). Norms/casts are hoisted per VECTOR
    # instead of per (query, vector) comparison — bit-identical sim.
    v = with_vec_norm(
        spread(
            vectors.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_vec")
            )
        ),
        "v_vec", "_vd", "_vn",
    )
    scored = (
        v.join(_broadcast_if_small(queries, q),
               F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.floor(
            cosine_precomputed(F.col("_qd"), F.col("_vd"),
                               F.col("_qn"), F.col("_vn")) * 1000000
            + F.lit(0.5)) / 1000000.0)  # fixed-point: round() on
        # binary doubles flakes across engines at .x5 halves and
        # this sim is ORACLE-HASHED (r6c review); lsh/ivf keep
        # round() — their entries self-validate, never hash sims
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def make_srp_bucketer(dim: int, n_bits: int = 12, seed: int = 42):
    """Signed-random-projection bucket id UDF: bucket = sign bits of R·v.
    R is deterministic (seeded) and identical on every executor."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_bits)).astype(np.float64)
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    @pandas_udf(T.LongType())
    def srp_bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        m = np.stack(vecs.to_numpy())  # (batch, dim) — one matmul per batch
        bits = (m.astype(np.float64) @ planes) > 0
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return srp_bucket


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 12,
    seed: int = 42,
    n_probe: int = 1,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's SRP bucket, exact
    cosine re-rank inside buckets. Cost per query drops from N to
    ~n_tables·n_probe·N/2^n_bits.

    Two standard recall levers (Indyk–Motwani LSH):

    - `n_tables` independent hash tables (distinct seeded projections); a
      neighbor is found if ANY table co-buckets it: recall 1-(1-p)^L. The
      vector side carries L bucket rows (explode) — the classic memory-for-
      recall trade.
    - multi-probe (`n_probe`): a true neighbor split off by one hyperplane
      lands at Hamming distance 1, so each query also probes n_probe-1
      single-bit-flip buckets per table — only the tiny QUERY side expands.
    """
    tables = [
        (t, make_srp_bucketer(dim, n_bits, seed + t)) for t in range(n_tables)
    ]
    v_buckets = F.array(*[
        F.struct(F.lit(t).alias("tbl"), bk(F.col("v_vec")).alias("bucket"))
        for t, bk in tables
    ])
    v = with_vec_norm(
        spread(
            vectors.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_vec")
            )
        ),
        "v_vec", "_vd", "_vn",
    ).select(
        "neighbor_id", "_vd", "_vn", F.explode(v_buckets).alias("tb")
    ).select("neighbor_id", "_vd", "_vn", "tb.tbl", "tb.bucket")

    probes = range(min(n_probe - 1, n_bits)) if n_probe > 1 else ()
    q_buckets = F.array(*[
        F.struct(
            F.lit(t).alias("tbl"),
            (bk(F.col("q_vec")).bitwiseXOR(F.lit(flip))).alias("bucket"),
        )
        for t, bk in tables
        for flip in [0, *[1 << i for i in probes]]
    ])
    q = with_vec_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec", "_qd", "_qn",
    ).select(
        "query_id", "_qd", "_qn", F.explode(q_buckets).alias("tb")
    ).select("query_id", "_qd", "_qn", "tb.tbl", "tb.bucket")

    scored = (
        v.join(_broadcast_if_small(queries, q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(
            cosine_precomputed(F.col("_qd"), F.col("_vd"),
                               F.col("_qn"), F.col("_vn")), 6))
        .select("query_id", "neighbor_id", "sim")
        .distinct()  # a pair can meet in several probed buckets/tables
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def train_ivf_centroids(
    vectors: DataFrame,
    dim: int,
    n_centroids: int = 64,
    sample_size: int = 2048,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """IVF coarse quantizer: spherical k-means on a deterministic sample.

    Standard IVF practice — the quantizer trains on a small sample (driver-
    side NumPy, seconds even for large k) and only the ASSIGNMENT pass is
    distributed. Sample is orderBy(id).limit(n) → deterministic."""
    sample = np.array(
        [
            r[0]
            for r in vectors.select(vec_col)
            .orderBy(id_col)
            .limit(sample_size)
            .collect()
        ],
        dtype=np.float64,
    )
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.where(norms == 0, 1, norms)
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    for _ in range(iters):
        sims = sample @ centroids.T
        assign = np.argmax(sims, axis=1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    centroids[c] = m / n
    return centroids


def make_ivf_assigner(centroids: np.ndarray, n_probe: int = 1):
    """cell-assignment UDF: top-`n_probe` nearest centroids by cosine,
    returned as an array (vectors use n_probe=1; queries probe several)."""
    cents = centroids.astype(np.float64)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        m = m / np.where(norms == 0, 1, norms)
        sims = m @ cents.T  # one matmul per Arrow batch
        top = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return assign


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 64,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: inverted-file cells from a sampled spherical
    k-means quantizer; queries probe their `n_probe` nearest cells; exact
    cosine re-rank inside probed cells only (~n_probe/n_centroids of N)."""
    centroids = train_ivf_centroids(
        vectors, dim, n_centroids, seed=seed, id_col=id_col, vec_col=vec_col
    )
    v_assign = make_ivf_assigner(centroids, n_probe=1)
    q_assign = make_ivf_assigner(centroids, n_probe=n_probe)
    v = with_vec_norm(
        spread(
            vectors.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_vec")
            )
        ),
        "v_vec", "_vd", "_vn",
    ).select(
        "neighbor_id", "_vd", "_vn",
        F.explode(v_assign(F.col("v_vec"))).alias("cell"),
    )
    q = with_vec_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec", "_qd", "_qn",
    ).select(
        "query_id", "_qd", "_qn",
        F.explode(q_assign(F.col("q_vec"))).alias("cell"),
    )
    scored = (
        v.join(_broadcast_if_small(queries, q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(
            cosine_precomputed(F.col("_qd"), F.col("_vd"),
                               F.col("_qn"), F.col("_vn")), 6))
        .select("query_id", "neighbor_id", "sim")
        .distinct()  # a pair can meet in several probed cells
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def embedding_near_dups(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bits: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = DEFAULT_MAX_BUCKET,
    return_bucketed: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Embedding-cosine near-duplicate pairs via SRP bucket self-join +
    exact verification (the embedding analog of MinHash-LSH dedup).
    Buckets above `max_bucket` members are star-linked to a representative
    instead of all-paired (operators/skew.py).

    `return_bucketed=True` returns `(pairs, bucketed)` where `bucketed`
    is the MATERIALIZED (id, vec, band, band_hash, _nrm) frame the pairs
    were built from — a caller that also needs bucket-level reporting
    (oversized_bucket_stats in the driver entry) reuses it instead of
    re-bucketing (r6b review: the entry had grown an inline copy of
    this operator's whole body just to share that frame, and the two
    copies had already drifted on defaults)."""
    bucketer = make_srp_bucketer(dim, n_bits, seed)
    # spread BEFORE the projection so the SRP matmul UDF and the per-vector
    # norm run at full parallelism (single-row-group local inputs scan as
    # ONE task — r7, skew.spread). `_nrm` hoists the norm per VECTOR: the
    # per-pair verify then pays one dot traversal instead of three
    # (dot + both norms) — `cosine_precomputed` is bit-identical to
    # `cosine`, so the pair set and sims are unchanged. band 0 = one table.
    v = spread(vectors).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.lit(0).alias("band"),
        bucketer(F.col(vec_col)).alias("band_hash"),
    )
    v = v.withColumn("_nrm", _norm(F.col("vec").cast("array<double>")))
    v = materialize(v)  # compute SRP signatures ONCE for all uses
    cand = delta_candidate_pairs(v, None, max_bucket)
    pairs = cosine_pairs(cand, v, threshold, dim)
    return (pairs, v) if return_bucketed else pairs
