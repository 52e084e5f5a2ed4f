"""Distributed connected components over near-duplicate pair graphs.

The dedup operators (MinHash/SimHash/embedding) emit verified PAIRS; an
actual dedup decision needs the duplicate CLUSTER: connected components
over the pair graph, keep one representative per component. This is the
iterative-algorithm leg of the engine (no reference analog — the reference
dedups nothing).

Algorithm: hash-min label propagation. Every node starts labeled with its
own id; each round a node takes the min of its label and its neighbors'
labels; stop when no label changes. Rounds = graph diameter. That is the
right choice for THIS workload: near-dup components are overwhelmingly
small cliques, and oversized boilerplate buckets arrive STAR-SHAPED from
operators/skew.py (diameter ≤ 2), so propagation converges in 2–3 rounds
regardless of corpus size.

Chains are not this workload's shape: a graph whose diameter exceeds
`max_iter` raises instead of returning wrong labels.

Scale shape: one checkpoint of the symmetric edge set, then per round one
shuffle join (edges ⋈ labels on dst) + one hash agg (min per src) + one join
back — on node keys of any orderable type (struct `(id, side)` keys label
two disjoint graphs in one run). `skew.materialize` every round truncates the
growing lineage so round N's plan does not re-execute rounds 1..N-1, and
the same checkpoint job counts the changed labels (an `Observation`), so
the convergence test runs no job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .skew import materialize


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in `pairs`; component =
    min node id of the connected component. Converges early when a round
    changes nothing; raises if max_iter rounds were not enough.

    EAGERNESS: connected_components is an inherently EAGER operator — the
    fixed-point loop must run Spark actions at call time to decide
    convergence, so calling it executes the full upstream lineage
    (unlike the dedup candidate generators, which are plan-only until an
    action; r4 review #3)."""
    # one checkpoint: the symmetric distinct edge set, exploded from a
    # single reference to `pairs` (which may carry an unmaterialized
    # LSH/verify lineage); the initial labels derive from it
    edges = materialize(pairs.select(F.explode(F.array(
        F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
        F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
    )).alias("e")).select("e.src", "e.dst").distinct())
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node"))

    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # a label changes exactly when its neighbour minimum is smaller;
        # the round's checkpoint job fills the count, so convergence costs
        # no job of its own
        changes = Observation()
        labels = materialize(
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .observe(changes, F.count_if(
                F.col("nbr_label") < F.col("label")).alias("changed"))
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
        )
        if changes.get["changed"] == 0:
            return labels.select(
                F.col("node"), F.col("label").alias("component")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "graph diameter exceeds max_iter (raise it, or pre-star the input)"
    )


def near_dedup_keep_first(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup decision from verified near-dup pairs: every doc in a
    component except its min-id representative is dropped."""
    cc = connected_components(pairs)
    losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def full_near_dedup_keep_first(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """The production dedup composition: EXACT-collapse first, then the
    MinHash near-dup path over distinct texts only.

    Web corpora are dominated by byte-identical duplicates; running the
    shingle/signature/verify machinery on every copy is pure waste. Here:

    1. one hash aggregation groups identical texts; the min-id doc is the
       text-group representative;
    2. MinHash → band buckets → Jaccard verify → connected components run
       on the REPRESENTATIVES only;
    3. dropped = exact losers (non-rep copies) ∪ near losers (non-rep
       cluster members among representatives).

    Same keep-set as running near-dedup over all docs with min-id
    keep-first (pinned by tests: full==direct on a fuzzed dup corpus):
    every doc's cluster contains its text-group rep (which holds the
    group-min id), so the cluster minimum over reps equals the cluster
    minimum over all docs. Two documented boundaries of that equality:

    - NULL texts are excluded from the collapse (md5(NULL) would group
      them; the direct path keeps every NULL-text doc, so must we);
    - when exact copies inflate a direct-path band bucket past
      `max_bucket`, the direct path star-caps (drops some member↔member
      candidates) while the reps-only path stays under the cap — the
      keep-sets may then differ, and the composition's answer is the
      HIGHER-RECALL one (capping fires less on collapsed input).

    MEASURED trade (BENCH/dedup_scale.json; both keep-sets verified
    identical by symmetric difference = 0): scale- and corpus-dependent.
    At 200k docs / 25% exact dups the composition WINS (11.2 s vs 19.3 s
    direct); at 1M docs the direct path won in every run, though its own
    wall time varied 50–145 s across runs on this VM — the rep semi-join
    shuffles the full text column, and whether that beats the saved
    signature work depends on dup rate, doc size and near-dup config.
    Numbers, not intuition: the harness re-measures both every run."""
    from .dedup import jaccard_verify, minhash_lsh_candidates

    # (id, md5) is narrow — materialized so the text scan + hash run once
    # across the rep groupBy, the losers join and the semi-join (each
    # frame below is referenced twice)
    h = materialize(df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.md5(F.col(text_col)).alias("_h")
    ))
    rep = materialize(h.groupBy("_h").agg(F.min("_id").alias("_rep_id")))
    exact_losers = (
        h.join(rep, "_h")
        .filter(F.col("_id") != F.col("_rep_id"))
        .select(F.col("_id").alias(id_col))
    )
    reps_df = df.join(
        rep.select(F.col("_rep_id").alias(id_col)), id_col, "left_semi"
    )
    cand = minhash_lsh_candidates(reps_df, id_col, text_col, k=k,
                                  n_hashes=n_hashes, bands=bands)
    pairs = jaccard_verify(cand, reps_df, id_col, text_col, k=k,
                           threshold=threshold)
    cc = connected_components(pairs)
    near_losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    losers = exact_losers.unionByName(near_losers)
    return df.join(losers, id_col, "left_anti")
