"""Physical-plan properties that must hold at scale (SURVEY.md §4):
one Python stage on the extraction path, pushdown into scans, broadcasts
for small sides. These guard against regressions that would only show up
as cluster-scale slowdowns."""

import os

import pytest

from pyspark.sql import functions as F

from ocr_toolkit_spark.plans import (
    assert_broadcast_join,
    assert_filter_pushed,
    assert_single_python_stage,
    formatted_plan,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    from ocr_toolkit_spark.fixtures import write_corpus

    p = str(tmp_path_factory.mktemp("plans") / "docs.parquet")
    write_corpus(p, n_docs=100, seed=42)
    return p


def test_extraction_is_one_python_stage(spark, corpus_path):
    from ocr_toolkit_spark.operators.extract import extract_spans
    from ocr_toolkit_spark.pipeline import kernel_input, with_partition_id

    docs = with_partition_id(spark.read.parquet(corpus_path))
    assert_single_python_stage(extract_spans(kernel_input(docs)))


def test_scan_pruning_and_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_quantity") > 10)
        .select("l_returnflag", "l_quantity")
    )
    assert_filter_pushed(df, "GreaterThan(l_quantity")
    plan = formatted_plan(df)
    # column pruning: the 11-column table scans only what the query needs
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" in read_schema and "l_extendedprice" not in read_schema


def test_resume_anti_join_broadcasts(spark, corpus_path):
    from ocr_toolkit_spark.pipeline import with_partition_id

    docs = with_partition_id(spark.read.parquet(corpus_path))
    committed = spark.createDataFrame([(0,), (1,)], "partition_id int")
    plan_df = docs.join(F.broadcast(committed), "partition_id", "left_anti")
    assert_broadcast_join(plan_df)


def test_similarity_queries_broadcast(spark):
    from ocr_toolkit_spark.operators.similarity import brute_force_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = brute_force_topk(e, e.filter("vec_id < 3"), k=2)
    assert_broadcast_join(out)


def test_large_query_set_not_broadcast(spark, monkeypatch):
    """r2 review #4: the query-side broadcast must be gated on a provable
    size bound — a query set above the ceiling gets NO broadcast hint (AQE
    picks the join), instead of a forced broadcast that would OOM the
    driver at 10M queries."""
    from ocr_toolkit_spark.operators import similarity
    from ocr_toolkit_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    monkeypatch.setattr(similarity, "MAX_BROADCAST_QUERIES", 2)
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(e.select("embedding").first()[0])
    big_q = e.filter("vec_id < 8")  # 8 queries > ceiling of 2 → no hint
    for out in (
        brute_force_topk(e, big_q, k=2),
        lsh_topk(e, big_q, dim=dim, k=2),
        ivf_topk(e, big_q, dim=dim, k=2, n_centroids=4),
    ):
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed


def test_lsh_bucket_frames_materialized(spark):
    """r2 review #1: delta_candidate_pairs fans its input out, so the
    expensive signature pipeline (shingle explode + 32-seed hash agg for
    MinHash; the Arrow-batched simhash UDF) must execute ONCE, upstream of
    an eager localCheckpoint — not per reference. Downstream, every
    reference must be a Scan ExistingRDD with zero signature hashing and
    zero Python stages left in the plan."""
    from ocr_toolkit_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_near_dups,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mh_plan = formatted_plan(
        minhash_lsh_candidates(docs, n_hashes=32, bands=8))
    assert "Scan ExistingRDD" in mh_plan
    assert "xxhash64" not in mh_plan, mh_plan
    sh_plan = formatted_plan(simhash_near_dups(docs))
    assert "Scan ExistingRDD" in sh_plan
    assert "ArrowEvalPython" not in sh_plan and "EvalPython" not in sh_plan


def test_jaccard_verify_shingles_only_candidates(spark):
    """r2 review #2: the verify stage must shingle only docs named in a
    candidate pair. The verified-pairs plan re-reads the documents table
    solely for the semi-join + shingle build of the (materialized) needed
    set; the join itself consumes checkpointed rows — no shingle transform
    (slice/concat_ws chain) appears in the final join plan."""
    import __spark_entry__ as em

    plan = formatted_plan(em.queries()["minhash_dedup"](spark, SF_DIR))
    assert "array_intersect" in plan
    assert "slice(" not in plan, plan
    assert "xxhash64" not in plan, plan


def test_sessionize_single_shuffle(spark):
    """lag window, running-sum window, per-session agg and per-user agg must
    all reuse ONE user_id exchange — the property that makes sessionization
    viable at 10^12 events."""
    import __spark_entry__ as em

    plan = formatted_plan(em.queries()["sessionize"](spark, SF_DIR))
    # each Exchange appears once in the tree and once in the detail section
    assert plan.count("(") and plan.count("+- Exchange") == 1, plan


def test_method_selection_is_map_side_only(spark):
    """T11 scoring + selection is pure column algebra: no exchange, no
    Python stage — per-row cost only, embarrassingly parallel."""
    import __spark_entry__ as em

    plan = formatted_plan(em.queries()["method_selection_full"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_row_python_udf_in_entry_queries(spark):
    """input_hint bans per-row Python: every entry query plan must be free of
    BatchEvalPython (row-at-a-time UDF execution)."""
    import __spark_entry__ as em

    for name, fn in em.queries().items():
        plan = formatted_plan(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name


def test_aqe_skew_join_splits_hot_key(spark):
    """SURVEY §4 claims AQE skew-join handling as a built-in pillar; this
    pins it actually FIRING (r4 verdict #7): a sort-merge join with one
    hot key must show `skew=true` in the adaptive final plan, under
    documented threshold configs (factor 2 over median, 64 KB absolute —
    production keeps the defaults: factor 5, 256 MB)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # half the left rows share key 0 → one post-shuffle partition is
        # ~100× the median; the rest are uniform
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") < 200_000, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 48), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 2_000).select(
            F.col("id").alias("k"), F.lit("dim").alias("attr")
        )
        joined = left.join(right, "k").select(
            F.count("*").alias("n"), F.sum(F.length("pad")).alias("b")
        )
        joined.collect()  # AQE finalizes the plan only on execution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _iter_physical_nodes(node):
    """Walk a physical plan tree INCLUDING the AQE-resolved subtrees:
    AdaptiveSparkPlan and QueryStage wrappers report zero children, so a
    plain children() walk sees only the wrapper shell."""
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _iter_physical_nodes(ch.apply(i))
    nn = node.nodeName()
    if nn == "AdaptiveSparkPlan":
        yield from _iter_physical_nodes(node.executedPlan())
    elif "QueryStage" in nn:
        yield from _iter_physical_nodes(node.plan())


def test_fact_table_never_hash_builds(spark):
    """r6: lineitem's column-pruned scan estimate sits at the 10 MB
    autoBroadcastJoinThreshold boundary, and without a pin the planner
    intermittently made the FACT the broadcast build side of the q3/q5
    join chains — a single-threaded hash build of the biggest table (and
    an OOM at real scale if estimates ever mislead there).

    r6b: the first pin (`shuffle_hash` on lineitem) failed the same
    invariant one level down — Spark's SHUFFLE_HASH hint makes the
    HINTED side the build side, so the plan hash-built lineitem per
    partition (SHJ build maps do not spill). The original test only
    scanned BroadcastExchange subtrees and missed it. This version
    walks every hash-join node in the FINAL AQE plan and asserts the
    build-side subtree never contains the lineitem scan, regardless of
    join strategy; the pin itself is now `merge` on the customer⋈orders
    side (SortMergeJoin: no build side, both inputs spill)."""
    import __spark_entry__ as em

    for name in ("tpch_q3_topk", "tpch_q5"):
        df = em.queries()[name](spark, SF_DIR)
        df.collect()  # final AQE-resolved plan
        root = df._jdf.queryExecution().executedPlan()
        fact_joins = 0
        for nd in _iter_physical_nodes(root):
            if "HashJoin" not in nd.nodeName():
                continue
            side = nd.buildSide().toString()
            build = nd.left() if side == "BuildLeft" else nd.right()
            assert "lineitem" not in build.toString(), (
                f"{name}: {nd.nodeName()} {side} hash-builds lineitem"
            )
            if "lineitem" in nd.toString():
                fact_joins += 1
        # the fact join itself must be streaming-shaped: either SMJ (the
        # pin) or a hash join probing lineitem — asserted above; make
        # sure the walk actually saw the plan (wrapper-only walk = bug)
        assert "SortMergeJoin" in root.toString() or fact_joins > 0, name
