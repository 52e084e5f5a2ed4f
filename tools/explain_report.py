"""Generate docs/PLANS.md: formatted physical plans for the engine's key
operators, with the properties that matter at 100 TB called out — filter/
column pushdown into the scan, broadcast joins where a side is small,
WholeStageCodegen spans around relational stages, and exactly one
ArrowEvalPython/MapInArrow stage on the extraction path. The incremental
sections show the plans the production operators executed (their frames
are materialized, so a lazy explain would not be the plan that runs).
Ends with machine checks over the plans; prints `plan assertions OK`.

Usage: python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as em
    from ocr_toolkit_spark.plans import (
        assert_single_python_stage,
        executed_plans,
        formatted_plan,
    )
    from ocr_toolkit_spark.session import get_spark
    from ocr_toolkit_spark.operators.extract import extract_spans
    from ocr_toolkit_spark.pipeline import kernel_input, with_partition_id

    spark = get_spark(app_name="explain_report", master="local[4]")

    sections: list[tuple[str, str, str]] = []

    # extraction pipeline plan
    from ocr_toolkit_spark import io as tio
    import atexit, os, shutil, tempfile
    from ocr_toolkit_spark.fixtures import write_corpus

    d = tempfile.mkdtemp()
    atexit.register(shutil.rmtree, d, True)  # corpus, states, IVF index
    corpus = os.path.join(d, "docs.parquet")
    write_corpus(corpus, n_docs=200, seed=42)
    docs = with_partition_id(tio.read_documents(spark, corpus))
    extracted = extract_spans(kernel_input(docs))
    sections.append((
        "Extraction pipeline",
        "ONE MapInArrow stage; scan reads only (doc_id, spans); the only "
        "exchange is the salt repartition, which carries no count, so AQE "
        "sizes the kernel stage from its shuffle bytes.",
        formatted_plan(extracted),
    ))

    # column pruning + filter pushdown on a driver table
    dq = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter("l_shipdate <= '1998-09-02'")
        .select("l_returnflag", "l_quantity")
    )
    sections.append((
        "Scan pruning (lineitem)",
        "ReadSchema carries only 3 columns; PushedFilters carries the "
        "shipdate predicate.",
        formatted_plan(dq),
    ))

    sections.append((
        "TPC-H Q3 join",
        "customer⋈orders⋈lineitem: AQE picks broadcast for the small build "
        "sides at this SF; at cluster SF the same plan degrades gracefully "
        "to SMJ with AQE skew splitting.",
        formatted_plan(em.q_tpch_q3_topk(spark, sf_dir)),
    ))

    sections.append((
        "TPC-H Q5 6-way join",
        "fact chain customer⋈orders⋈lineitem⋈supplier shuffles on its "
        "keys; nation and region carry explicit broadcast hints (tiny "
        "dims ship to every executor at any scale) — the r4 join-ordering "
        "probe, oracle-checked.",
        formatted_plan(em.q_tpch_q5(spark, sf_dir)),
    ))

    sections.append((
        "Anti-join resume shape",
        "LEFT ANTI with explicit broadcast of the committed-partition set.",
        formatted_plan(em.q_anti_join(spark, sf_dir)),
    ))

    sections.append((
        "Brute-force similarity",
        "Queries broadcast; dot product inside WholeStageCodegen "
        "(zip_with/aggregate); per-query top-k window.",
        formatted_plan(em.q_similarity_bruteforce(spark, sf_dir)),
    ))

    sections.append((
        "MinHash LSH dedup",
        "explode→hash-agg signatures (map-side partial agg), band-bucket "
        "self-join guarded by skew.delta_candidate_pairs over an empty "
        "state (oversized buckets link to a representative — no O(m²) hot "
        "key); no O(n²) pair scan.",
        formatted_plan(em.q_minhash_dedup(spark, sf_dir)),
    ))

    sections.append((
        "SimHash near-dups",
        "one Arrow-batched signature UDF (batch-vectorized, no per-doc "
        "Python), pigeonhole chunk equi-join with the star cap, exact "
        "bit_count Hamming verify JVM-side.",
        formatted_plan(em.q_simhash_dedup(spark, sf_dir)),
    ))

    sections.append((
        "LSH ANN top-k (multi-probe, multi-table)",
        "vector side bucketed once per table; only the small query side "
        "explodes probe buckets; exact cosine re-rank inside buckets with "
        "a per-query window top-k.",
        formatted_plan(em.q_lsh_topk(spark, sf_dir)),
    ))

    sections.append((
        "Sessionization",
        "lag window, running-sum window, per-session agg and per-user agg "
        "all reuse ONE user_id exchange.",
        formatted_plan(em.q_sessionize(spark, sf_dir)),
    ))

    # incremental delta-dedup candidates: the state side must be reduced
    # by a broadcast LEFT-SEMI join on the delta's bucket keys — scanned
    # narrow, never shuffled. The production operator materializes its
    # frames, so the section shows the plans it executed.
    from ocr_toolkit_spark.operators.dedup import minhash_banded_frame
    from ocr_toolkit_spark.operators.incremental import (
        append_signatures,
        cosine_verify,
        delta_candidate_pairs,
        read_signature_state,
        srp_banded_frame,
    )

    def ran(run) -> str:
        return "\n".join(executed_plans(spark, run))

    state_dir = os.path.join(d, "sigstate")
    base_df = spark.createDataFrame(
        [(i, f"doc text number {i} alpha beta gamma delta") for i in range(50)],
        "doc_id long, text string")
    append_signatures(minhash_banded_frame(base_df, k=3, n_hashes=32, bands=8),
                      state_dir, "plan-r0")
    new_df = spark.createDataFrame(
        [(1000 + i, f"doc text number {i} alpha beta gamma delta")
         for i in range(5)],
        "doc_id long, text string")
    new_banded = minhash_banded_frame(new_df, k=3, n_hashes=32, bands=8)
    state = read_signature_state(spark, state_dir)
    cand_plans = ran(lambda: delta_candidate_pairs(new_banded, state).collect())
    sections.append((
        "Incremental delta-dedup candidates",
        "the persisted signature state is reduced to TOUCHED buckets by a "
        "broadcast LEFT-SEMI join on the delta's distinct bucket keys — "
        "the state table is scanned (3 narrow columns) but never "
        "shuffled, so per-ingest cost tracks the delta; candidates come "
        "from the per-bucket join with the star guard. Executed plans, in "
        "order: the one checkpoint of the touched-state ∪ new-rows frame "
        "with its bucket size and reps as window columns (where the "
        "semi-join runs), and the candidate pairs.",
        cand_plans,
    ))

    # embedding delta-dedup verify: same state discipline over vectors,
    # plus the corpus must be SEMI-JOINED to candidate ids before any
    # vector is read for cosine
    from pyspark.sql import functions as F

    vstate_dir = os.path.join(d, "vecstate")
    vecs0 = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    vdim = len(vecs0.select("embedding").first()[0])
    append_signatures(srp_banded_frame(vecs0, vdim, n_bits=12),
                      vstate_dir, "plan-v0")
    vnew = vecs0.filter("vec_id < 5").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    vcand = delta_candidate_pairs(
        srp_banded_frame(vnew, vdim, n_bits=12),
        read_signature_state(spark, vstate_dir))
    sections.append((
        "Incremental embedding-dedup verify",
        "the embedding delta path reuses the minhash state shape (band = "
        "SRP table index), so the candidates plans above apply verbatim; "
        "what is new is verification — the vector table is reduced to "
        "candidate ids by a LEFT-SEMI join BEFORE any embedding is read "
        "(the jaccard_verify discipline), then one JVM-side cosine per "
        "pair. Executed plans, in order: the candidate checkpoint, the "
        "checkpoint of the candidate-touched vectors with their norms, the "
        "bounded broadcast probe, and the verified pairs.",
        ran(lambda: cosine_verify(vcand, vecs0.unionByName(vnew), 0.9,
                                  vdim).collect()),
    ))

    # IVF index probe: the probed-cell filter must land on the PHYSICAL
    # `cell` partition column so unprobed cells are pruned at
    # file-listing time (PartitionFilters on the scan, nothing read)
    from ocr_toolkit_spark.operators.ivf_index import (
        build_ivf_index,
        ivf_index_topk,
    )

    idx_dir = os.path.join(d, "ivf_index")
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(vecs.select("embedding").first()[0])
    build_ivf_index(spark, vecs, dim, idx_dir, "plan-base", n_centroids=16)
    q = vecs.filter("vec_id < 5")
    topk = ivf_index_topk(spark, q, idx_dir, k=10, n_probe=4)
    sections.append((
        "Incremental IVF index probe",
        "the committed index is partitioned ingest_id=N/cell=M; the "
        "probed-cell `isin` filter lands in the scan's PartitionFilters, "
        "so unprobed cell directories are pruned at FILE-LISTING time — "
        "at 1000 executors the unprobed ~(1 − n_probe/n_centroids) of "
        "the index is never opened. Queries are serving-sized and "
        "broadcast; exact cosine re-ranks inside probed cells with a "
        "per-query window top-k.",
        formatted_plan(topk),
    ))

    out = ["# PLANS — physical plans of the key operators\n",
           "Generated by tools/explain_report.py. Regenerate after plan-"
           "affecting changes.\n",
           "\n**AQE skew-join, pinned firing** (r4 verdict #7, "
           "`tests/test_plans.py::test_aqe_skew_join_splits_hot_key`): "
           "with the session's `spark.sql.adaptive.skewJoin.enabled=true`, "
           "a sort-merge join whose left side puts half its rows on one "
           "key shows `SortMergeJoin(skew=true)` in the adaptive FINAL "
           "plan — AQE split the hot post-shuffle partition into "
           "advisory-sized sub-reads instead of handing one task the "
           "whole key. Test thresholds: `skewedPartitionFactor=2`, "
           "`skewedPartitionThresholdInBytes=64KB`, "
           "`advisoryPartitionSizeInBytes=32KB` (production keeps Spark "
           "defaults: factor 5, 256 MB, 64 MB). AQE handles the "
           "partition-size half of skew; the m² row-explosion half inside "
           "one bucket key is what `operators/skew.delta_candidate_pairs` "
           "bounds — the two guards compose, they do not substitute.\n"]
    for title, note, plan in sections:
        out.append(f"\n## {title}\n\n{note}\n\n```\n{plan}```\n")
    with open("docs/PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote docs/PLANS.md")

    # machine checks (same helpers the tests use)
    assert_single_python_stage(extracted)
    assert "LessThanOrEqual(l_shipdate" in sections[1][2], "filter not pushed"
    assert "ReadSchema" in sections[1][2]
    assert "PartitionFilters" in sections[-1][2] and (
        "cell" in sections[-1][2]
    ), "IVF probe filter did not land on the cell partition column"
    assert "BroadcastHashJoin LeftSemi BuildRight" in cand_plans, (
        "delta candidates did not broadcast-semi-join the state side")
    print("plan assertions OK")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
