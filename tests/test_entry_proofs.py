"""The self-validating delta entries compute their proofs in one pass: one
grouping of the side-tagged pair sets (`_pair_proof`), one component
labelling of both pair graphs (`_loser_flags`) and one semi-join for every
ANN result (`_ann_recall_report`). These tests hand-build incremental and
batch inputs that DIFFER, so a proof that always read 0 would fail, and
check each one-pass helper against the two-pass form it replaces
(`exceptAll` both ways, two `near_dedup_keep_first` runs, one recall
report per ANN result), computed here."""

import pytest

from pyspark.sql import functions as F

PAIRS = "id_a long, id_b long"

# (incremental pairs, batch pairs); doc 3 appears twice in the docs frame
CASES = {
    "missing_pair": ([(1, 2), (3, 4)], [(1, 2)]),
    "duplicated_pair": ([(1, 2), (1, 2)], [(1, 2)]),
    # pair sets differ, yet both graphs are one component {1, 2, 3}
    "star_vs_clique": ([(1, 2), (1, 3)], [(1, 2), (1, 3), (2, 3)]),
    # losers {2} vs {3}: the keep-sets differ, doc 3 twice
    "keep_sets_differ": ([(1, 2)], [(2, 3)]),
    "one_side_empty": ([(5, 6), (6, 7)], []),
    "both_empty": ([], []),
}


def _two_pass(d, ip, fp):
    """The entries' former proof: multiset differences and two keep-first
    dedups diffed afterwards."""
    from ocr_toolkit_spark.operators.cc import near_dedup_keep_first

    keep_i = near_dedup_keep_first(d, ip).select("doc_id")
    keep_f = near_dedup_keep_first(d, fp).select("doc_id")
    return {
        "inc_pairs": ip.count(),
        "full_pairs": fp.count(),
        "pair_sym_diff": ip.exceptAll(fp).unionAll(fp.exceptAll(ip)).count(),
        "keep_docs": keep_i.count(),
        "keep_sym_diff": keep_i.exceptAll(keep_f).unionAll(
            keep_f.exceptAll(keep_i)).count(),
    }


@pytest.mark.parametrize("case", sorted(CASES))
def test_one_pass_proofs_match_two_pass_forms(spark, case):
    import __spark_entry__ as em

    inc, full = CASES[case]
    d = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 3, 4, 5, 6, 7, 8)],
        "doc_id long, text string")
    ip = spark.createDataFrame(inc, PAIRS)
    fp = spark.createDataFrame(full, PAIRS)

    sided = em._side_tagged([ip, fp], ["id_a", "id_b"])
    got = em._pair_proof(sided).first().asDict()
    got.update(em._loser_flags(d, sided).agg(
        F.count_if(~F.col("lose0")).alias("keep_docs"),
        F.count_if(F.col("lose0") != F.col("lose1")).alias("keep_sym_diff"),
    ).first().asDict())
    assert got == _two_pass(d, ip, fp)
    # the cases are built to differ: a vacuous proof would read 0 here
    if case in ("missing_pair", "duplicated_pair", "star_vs_clique"):
        assert got["pair_sym_diff"] > 0
    if case == "keep_sets_differ":
        assert got["keep_sym_diff"] == 3  # doc 2 once, doc 3 twice


def test_recall_report_one_pass_matches_per_result(spark):
    """Two ANN results through one `_ann_recall_report` call score what the
    former per-result report (semi-join, per-query hits, left join to the
    brute-force counts) scores for each."""
    import __spark_entry__ as em

    schema = "query_id long, neighbor_id long"
    bf = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 4), (1, 5), (2, 6)], schema)
    # a miss, a duplicated hit and a query with no hits at all
    ann_a = spark.createDataFrame([(0, 1), (0, 9), (1, 4), (1, 4)], schema)
    ann_b = bf

    def per_result(ann):
        hits = (ann.join(bf, ["query_id", "neighbor_id"], "left_semi")
                .groupBy("query_id").agg(F.count("*").alias("hits")))
        r = (bf.groupBy("query_id").agg(F.count("*").alias("n_bf"))
             .join(hits, "query_id", "left").fillna(0, ["hits"])
             .agg(F.round(F.avg(F.col("hits") / F.col("n_bf")), 4)))
        return r.first()[0]

    rep = em._ann_recall_report([ann_a, ann_b], bf, k=3, floor=0.9).first()
    assert rep.asDict() == {
        "queries": 3, "k": 3,
        "mean_recall": per_result(ann_a), "mean_recall_1": per_result(ann_b),
        "recall_floor": 0.9, "meets_floor": False, "meets_floor_1": True,
    }
    assert rep["mean_recall"] < rep["mean_recall_1"] == 1.0
