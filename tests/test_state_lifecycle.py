"""Signature-state maintenance lifecycle (r5 verdict #1): the delta-dedup
state table must survive expiry, compaction, and tombstone GC with
keep-first connectivity intact — pair/keep sym-diff 0 against full
re-runs at every stage."""

import os
import random

import pytest

from pyspark.sql import functions as F

from ocr_toolkit_spark import io as tio
from ocr_toolkit_spark.operators.cc import near_dedup_keep_first
from ocr_toolkit_spark.operators.dedup import (
    jaccard_verify,
    minhash_lsh_candidates,
)
from ocr_toolkit_spark.operators.incremental import (
    compact_signature_state,
    expire_signature_state,
    gc_signature_state,
    incremental_dedup_round,
    read_signature_state,
)

VOCAB = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
CFG = dict(k=3, n_hashes=32, bands=8, threshold=0.8)


def _corpus(seed, n_base, n_exact, n_near, start_id=0, base_pool=None):
    rng = random.Random(seed)
    fresh = [" ".join(rng.choice(VOCAB) for _ in range(25)) + f" u{start_id + i}"
             for i in range(n_base)]
    pool = list(base_pool or []) + fresh
    rows = [(start_id + i, fresh[i]) for i in range(n_base)]
    nid = start_id + n_base
    for _ in range(n_exact):
        rows.append((nid, pool[rng.randrange(len(pool))])); nid += 1
    for _ in range(n_near):
        toks = pool[rng.randrange(len(pool))].split()
        toks[rng.randrange(len(toks) - 1)] = rng.choice(VOCAB)
        rows.append((nid, " ".join(toks))); nid += 1
    return rows, fresh


def _full_pairs(df, max_bucket=256):
    cand = minhash_lsh_candidates(df, k=CFG["k"], n_hashes=CFG["n_hashes"],
                                  bands=CFG["bands"], max_bucket=max_bucket)
    return jaccard_verify(cand, df, k=CFG["k"], threshold=CFG["threshold"])


def _pairset(pairs_df):
    return {(r.id_a, r.id_b) for r in pairs_df.select("id_a", "id_b").collect()}


def _keep(corpus_df, pairset):
    pairs = corpus_df.sparkSession.createDataFrame(
        sorted(pairset) or [(None, None)], "id_a int, id_b int"
    ).filter("id_a is not null").withColumn("jaccard", F.lit(1.0))
    return {r.doc_id for r in near_dedup_keep_first(corpus_df, pairs).collect()}


def test_compaction_preserves_delta_rounds(spark, tmpdir_path):
    """File-level compaction of the ingest partitions: rows identical,
    files collapse to 1/partition, the NEXT delta round's verified pairs
    are identical to an uncompacted twin state's, and replaying an
    already-committed round after compaction still appends nothing (the
    run_id check reads log history, which compaction's 'replace' claims
    do not shadow)."""
    r0, f0 = _corpus(21, 30, 10, 8)
    r1, f1 = _corpus(22, 15, 6, 6, start_id=1000, base_pool=f0)
    r2, _ = _corpus(23, 12, 5, 5, start_id=2000, base_pool=f0 + f1)
    sA = os.path.join(tmpdir_path, "stateA")  # compacted mid-sequence
    sB = os.path.join(tmpdir_path, "stateB")  # never compacted

    df0 = spark.createDataFrame(r0, "doc_id int, text string")
    u1 = spark.createDataFrame(r0 + r1, "doc_id int, text string")
    df1 = spark.createDataFrame(r1, "doc_id int, text string")
    u2 = spark.createDataFrame(r0 + r1 + r2, "doc_id int, text string")
    df2 = spark.createDataFrame(r2, "doc_id int, text string")

    pairs = {"A": set(), "B": set()}
    for s, key in ((sA, "A"), (sB, "B")):
        pairs[key] |= _pairset(
            incremental_dedup_round(spark, df0, df0, s, "r0", **CFG))
        pairs[key] |= _pairset(
            incremental_dedup_round(spark, df1, u1, s, "r1", **CFG))

    n_before = read_signature_state(spark, sA).count()
    rep = compact_signature_state(spark, sA, "compact-1")
    assert rep["partition_col"] == "ingest_id"
    assert rep["files_after"] == rep["partitions"] <= rep["files_before"]
    assert read_signature_state(spark, sA).count() == n_before

    # replay of r1 AFTER compaction: history check holds, nothing appended
    tip = tio.latest_snapshot_id(sA)
    p_replay = incremental_dedup_round(spark, df1, u1, sA, "r1", **CFG)
    assert tio.latest_snapshot_id(sA) == tip
    assert read_signature_state(spark, sA).count() == n_before
    assert _pairset(p_replay) <= pairs["A"]

    # next real round: compacted and uncompacted twins agree exactly
    pA = _pairset(incremental_dedup_round(spark, df2, u2, sA, "r2", **CFG))
    pB = _pairset(incremental_dedup_round(spark, df2, u2, sB, "r2", **CFG))
    assert pA == pB
    assert (pairs["A"] | pA) == (pairs["B"] | pB) == _pairset(_full_pairs(u2))


def test_expiry_window_and_boundary(spark, tmpdir_path):
    """Expiry trims log history only — bands stay, future rounds work,
    replay of RETAINED rounds stays idempotent; replay of an EXPIRED
    round re-appends (the documented Iceberg-style idempotence boundary:
    retention must exceed the retry horizon)."""
    state = os.path.join(tmpdir_path, "sigstate")
    r0, f0 = _corpus(31, 20, 5, 5)
    df0 = spark.createDataFrame(r0, "doc_id int, text string")
    incremental_dedup_round(spark, df0, df0, state, "r0", **CFG)
    n0 = read_signature_state(spark, state).count()

    # pad the log past the first fold checkpoint so expiry has room
    # (pure log commits re-claiming ingest 0 — no data written)
    for i in range(tio.CHECKPOINT_EVERY + 2):
        tio.snapshot_commit(state, f"pad-{i}", [0])
    tip = tio.latest_snapshot_id(state)
    expired = expire_signature_state(state, keep_last=4)
    assert expired and expired[0] == 1 and max(expired) < tip

    # retained-history replay of a PAD id is recognized... and the real
    # r0 (snapshot 1) is now EXPIRED: replaying it re-appends — loud in
    # row count, exactly the documented boundary
    r1, _ = _corpus(32, 10, 4, 4, start_id=1000, base_pool=f0)
    u1 = spark.createDataFrame(r0 + r1, "doc_id int, text string")
    df1 = spark.createDataFrame(r1, "doc_id int, text string")
    p1 = incremental_dedup_round(spark, df1, u1, state, "r1", **CFG)
    assert _pairset(p1)
    n1 = read_signature_state(spark, state).count()
    assert n1 == n0 + len(r1) * CFG["bands"]

    tip = tio.latest_snapshot_id(state)
    incremental_dedup_round(spark, df1, u1, state, "r1", **CFG)  # retained
    assert tio.latest_snapshot_id(state) == tip  # still idempotent

    incremental_dedup_round(spark, df0, u1, state, "r0", **CFG)  # expired
    assert tio.latest_snapshot_id(state) == tip + 1  # re-appended (boundary)


def test_gc_repoints_capped_bucket_rep(spark, tmpdir_path):
    """THE GC correctness case: the min-id rep of a star-capped bucket is
    tombstoned. Its bands must leave the state (future stars must not
    route through a ghost the verifier can't read), and the returned
    repair pairs must re-point the star at the new min-id rep so the
    keep-set over (pruned ∪ repair) matches a full re-run on the live
    corpus."""
    boiler = " ".join(VOCAB[:12])
    rows = [(i, boiler) for i in range(8)]  # one bucket, cap 5 → star on 0
    df = spark.createDataFrame(rows, "doc_id int, text string")
    state = os.path.join(tmpdir_path, "sigstate")
    p0 = incremental_dedup_round(spark, df, df, state, "r0",
                                 max_bucket=5, **CFG)
    assert _pairset(p0) == {(0, b) for b in range(1, 8)}

    live = df.filter("doc_id != 0")
    tomb = spark.createDataFrame([(0,)], "id int")
    repair = gc_signature_state(spark, tomb, live, state, "gc-1")

    st = read_signature_state(spark, state)
    assert st.filter("id = 0").count() == 0
    assert st.count() == 7 * CFG["bands"]
    rset = _pairset(repair)
    assert rset and all(a == 1 for a, _ in rset)  # star on the new rep

    pruned = {(a, b) for a, b in _pairset(p0) if a != 0 and b != 0}
    assert _keep(live, pruned | rset) == _keep(
        live, _pairset(_full_pairs(live, max_bucket=5))) == {1}
    # without the repair, the star is severed: every live doc keeps
    assert _keep(live, pruned) == {1, 2, 3, 4, 5, 6, 7}

    # the GC snapshot is an operation="delete" claim
    snaps = tio.snapshots(state)
    assert snaps[-1]["operation"] == "delete"
    assert snaps[-1]["run_id"] == "gc-1"

    # a later round against the GC'd state emits pairs only among live ids
    more = [(100 + i, boiler) for i in range(2)]
    u = spark.createDataFrame(rows[1:] + more, "doc_id int, text string")
    dfm = spark.createDataFrame(more, "doc_id int, text string")
    p1 = incremental_dedup_round(spark, dfm, u, state, "r1",
                                 max_bucket=5, **CFG)
    ids = {i for p in _pairset(p1) for i in p}
    assert ids and 0 not in ids


def test_gc_noop_and_emptied_partition(spark, tmpdir_path):
    """GC of ids absent from the state commits nothing; GC that empties an
    entire ingest partition removes its files and the state stays
    readable for further rounds."""
    state = os.path.join(tmpdir_path, "sigstate")
    r0, f0 = _corpus(41, 15, 4, 4)
    df0 = spark.createDataFrame(r0, "doc_id int, text string")
    incremental_dedup_round(spark, df0, df0, state, "r0", **CFG)

    # a one-doc ingest that will be emptied by GC
    solo = [(9000, " ".join(random.Random(5).choice(VOCAB) for _ in range(25)))]
    u1 = spark.createDataFrame(r0 + solo, "doc_id int, text string")
    dfs = spark.createDataFrame(solo, "doc_id int, text string")
    incremental_dedup_round(spark, dfs, u1, state, "r1", **CFG)
    assert os.path.isdir(os.path.join(state, "ingest_id=1"))

    tip = tio.latest_snapshot_id(state)
    ghost = spark.createDataFrame([(123456,)], "id int")
    rep = gc_signature_state(spark, ghost, df0, state, "gc-none")
    assert rep.count() == 0
    assert tio.latest_snapshot_id(state) == tip  # no-op: no commit

    tomb = spark.createDataFrame([(9000,)], "id int")
    gc_signature_state(spark, tomb, df0, state, "gc-solo")
    assert not os.path.isdir(os.path.join(state, "ingest_id=1"))
    st = read_signature_state(spark, state)
    assert st.filter("ingest_id = 1").count() == 0
    assert st.count() == len(r0) * CFG["bands"]

    # further rounds proceed on the partially-GC'd state
    r2, _ = _corpus(42, 8, 3, 3, start_id=2000, base_pool=f0)
    u2 = spark.createDataFrame(r0 + r2, "doc_id int, text string")
    df2 = spark.createDataFrame(r2, "doc_id int, text string")
    p2 = incremental_dedup_round(spark, df2, u2, state, "r2", **CFG)
    assert _pairset(p2) == {
        p for p in _pairset(_full_pairs(u2))
        if p[0] >= 2000 or p[1] >= 2000
    }


def test_full_lifecycle_sequence(spark, tmpdir_path):
    """ingest → compact → ingest → GC → ingest: keep-set over the
    accumulated (pruned ∪ repair) pairs equals the full re-run's on the
    final live corpus — the multi-round sequence the verdict asked to
    pin (pair_sym_diff 0 before/after each maintenance op is covered by
    the per-op tests; this is the composition)."""
    state = os.path.join(tmpdir_path, "sigstate")
    r0, f0 = _corpus(51, 25, 8, 6)
    r1, f1 = _corpus(52, 12, 5, 5, start_id=1000, base_pool=f0)
    r2, _ = _corpus(53, 10, 4, 4, start_id=2000, base_pool=f0 + f1)

    df0 = spark.createDataFrame(r0, "doc_id int, text string")
    acc = _pairset(incremental_dedup_round(spark, df0, df0, state, "r0", **CFG))

    compact_signature_state(spark, state, "compact-1")

    u1 = spark.createDataFrame(r0 + r1, "doc_id int, text string")
    df1 = spark.createDataFrame(r1, "doc_id int, text string")
    acc |= _pairset(incremental_dedup_round(spark, df1, u1, state, "r1", **CFG))

    # tombstone three docs from round 0 (ids engineered to exist)
    dead = [r0[0][0], r0[3][0], r0[-1][0]]
    live_rows = [r for r in r0 + r1 if r[0] not in dead]
    live = spark.createDataFrame(live_rows, "doc_id int, text string")
    tomb = spark.createDataFrame([(d,) for d in dead], "id int")
    repair = gc_signature_state(spark, tomb, live, state, "gc-1")
    acc = {(a, b) for a, b in acc if a not in dead and b not in dead}
    acc |= _pairset(repair)

    u2 = spark.createDataFrame(live_rows + r2, "doc_id int, text string")
    df2 = spark.createDataFrame(r2, "doc_id int, text string")
    acc |= _pairset(incremental_dedup_round(spark, df2, u2, state, "r2", **CFG))

    full = _pairset(_full_pairs(u2))
    assert _keep(u2, acc) == _keep(u2, full)
    # no bucket caps fire in this sequence, so the accumulated set must
    # agree with the full re-run EXACTLY: pruning only removed
    # tombstone-touching pairs, repair pairs are verified live pairs from
    # the same LSH buckets (⊆ full), and each round emitted all-pairs
    assert acc == full
    assert len(full) > 15  # engineered duplicates actually exercised


def test_orphan_uncommitted_ingest_excluded(spark, tmpdir_path):
    """Crash-consistency of the state read: a fully-written ingest
    partition whose snapshot_commit never landed (crash between write
    and commit) must be invisible to read_signature_state — otherwise
    uncommitted bands inflate bucket stats exactly like the replay bug
    (ADVICE r5 #2) — and the crashed round's retry must overwrite it."""
    state = os.path.join(tmpdir_path, "sigstate")
    r0, f0 = _corpus(61, 25, 8, 6)
    df0 = spark.createDataFrame(r0, "doc_id int, text string")
    p0 = _pairset(incremental_dedup_round(spark, df0, df0, state, "r0", **CFG))
    n0 = read_signature_state(spark, state).count()

    # simulate the crash: round r1's parquet write landed at ingest_id=1,
    # the commit did not (marker ids 9xxx tell leaked rows apart)
    orphan = spark.createDataFrame(
        [(9000 + i, b, 123456 + i) for i in range(6) for b in range(2)],
        "id int, band int, band_hash long",
    ).withColumn("ingest_id", F.lit(1))
    orphan.write.mode("append").partitionBy("ingest_id").parquet(state)

    st = read_signature_state(spark, state)
    assert st.count() == n0
    assert st.filter(F.col("id") >= 9000).count() == 0
    # and the exclusion is partition pruning, not a row filter after scan
    plan = st._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("ingest_id" in ln for ln in pf), pf

    # the retry claims the same ingest id and dynamic overwrite replaces
    # the orphan wholesale; the round's pairs match an orphan-free twin's
    r1, _ = _corpus(62, 12, 5, 5, start_id=1000, base_pool=f0)
    u1 = spark.createDataFrame(r0 + r1, "doc_id int, text string")
    df1 = spark.createDataFrame(r1, "doc_id int, text string")
    p1 = _pairset(incremental_dedup_round(spark, df1, u1, state, "r1", **CFG))

    twin = os.path.join(tmpdir_path, "sigstate_twin")
    q0 = _pairset(incremental_dedup_round(spark, df0, df0, twin, "r0", **CFG))
    q1 = _pairset(incremental_dedup_round(spark, df1, u1, twin, "r1", **CFG))
    assert (p0, p1) == (q0, q1)
    st = read_signature_state(spark, state)
    assert st.filter(F.col("id") >= 9000).count() == 0
    assert st.count() == read_signature_state(spark, twin).count()


def test_merge_collapses_ingests_preserving_rounds(spark, tmpdir_path):
    """merge_signature_state: N ingest partitions become one; the next
    delta round's verified pairs equal an unmerged twin's, replay of an
    already-committed round still appends nothing, and GC keeps working
    on the merged layout."""
    from ocr_toolkit_spark.operators.incremental import merge_signature_state

    r0, f0 = _corpus(71, 30, 10, 8)
    r1, f1 = _corpus(72, 15, 6, 6, start_id=1000, base_pool=f0)
    r2, _ = _corpus(73, 12, 5, 5, start_id=2000, base_pool=f0 + f1)
    sA = os.path.join(tmpdir_path, "stateA")  # merged mid-sequence
    sB = os.path.join(tmpdir_path, "stateB")  # never merged

    df0 = spark.createDataFrame(r0, "doc_id int, text string")
    u1 = spark.createDataFrame(r0 + r1, "doc_id int, text string")
    df1 = spark.createDataFrame(r1, "doc_id int, text string")
    u2 = spark.createDataFrame(r0 + r1 + r2, "doc_id int, text string")
    df2 = spark.createDataFrame(r2, "doc_id int, text string")

    pairs = {"A": set(), "B": set()}
    for s, key in ((sA, "A"), (sB, "B")):
        pairs[key] |= _pairset(
            incremental_dedup_round(spark, df0, df0, s, "r0", **CFG))
        pairs[key] |= _pairset(
            incremental_dedup_round(spark, df1, u1, s, "r1", **CFG))

    n_before = read_signature_state(spark, sA).count()
    pre_merge_tip = tio.latest_snapshot_id(sA)
    rep = merge_signature_state(spark, sA, "merge-1")
    assert rep["ingests_before"] == 2 and rep["new_ingest"] == 2
    owners = tio.partitions_as_of(sA, tio.latest_snapshot_id(sA))
    assert sorted(owners) == ["2"]
    assert read_signature_state(spark, sA).count() == n_before

    # r6b: the de-owned sources stay on disk while retained snapshots
    # reference them — time travel at the pre-merge snapshot and an
    # incremental consumer catching up ACROSS the merge both still read
    # the original partitions (the old rmtree-after-commit emptied both)
    assert sorted(rep["deowned"]) == [0, 1]
    assert os.path.isdir(os.path.join(sA, "ingest_id=0"))
    pre_owned = [int(p) for p in tio.partitions_as_of(sA, pre_merge_tip)]
    assert sorted(pre_owned) == [0, 1]
    as_of = spark.read.parquet(sA).filter(F.col("ingest_id").isin(pre_owned))
    assert as_of.count() == n_before
    catchup = [
        int(p) for p in tio.changed_partitions_between(sA, 0, pre_merge_tip)
    ]
    assert sorted(catchup) == [0, 1]
    # and the sweep refuses to reclaim them while that history is retained
    assert tio.sweep_orphan_partitions(sA, older_than_s=-5) == []
    assert os.path.isdir(os.path.join(sA, "ingest_id=1"))
    report = tio.table_report(sA)
    assert report["orphan_partitions"] == []
    assert report["historical_partitions"] == ["ingest_id=0", "ingest_id=1"]

    # replay of the merge run_id: nothing rewritten
    tip = tio.latest_snapshot_id(sA)
    rep2 = merge_signature_state(spark, sA, "merge-1")
    assert rep2.get("replayed") and rep2["new_ingest"] == 2
    assert tio.latest_snapshot_id(sA) == tip

    # replay of committed round r1 after the merge: history check holds
    p_replay = incremental_dedup_round(spark, df1, u1, sA, "r1", **CFG)
    assert tio.latest_snapshot_id(sA) == tip
    assert read_signature_state(spark, sA).count() == n_before
    assert _pairset(p_replay) <= pairs["A"]

    # next real round: merged and unmerged twins agree exactly; new
    # ingest lands ABOVE the merged id
    pA = _pairset(incremental_dedup_round(spark, df2, u2, sA, "r2", **CFG))
    pB = _pairset(incremental_dedup_round(spark, df2, u2, sB, "r2", **CFG))
    assert pA == pB
    assert (pairs["A"] | pA) == (pairs["B"] | pB) == _pairset(_full_pairs(u2))
    assert sorted(tio.partitions_as_of(
        sA, tio.latest_snapshot_id(sA))) == ["2", "3"]

    # GC still works on the merged layout
    dead = [r0[0][0]]
    live_rows = [r for r in r0 + r1 + r2 if r[0] not in dead]
    live = spark.createDataFrame(live_rows, "doc_id int, text string")
    tomb = spark.createDataFrame([(d,) for d in dead], "id int")
    gc_signature_state(spark, tomb, live, sA, "gc-1")
    st = read_signature_state(spark, sA)
    assert st.filter(F.col("id") == dead[0]).count() == 0


def test_gc_replay_returns_persisted_repair(spark, tmpdir_path):
    """A GC retry after the delete commit must return the ORIGINAL repair
    pairs (persisted under _gc/ before the commit), not a recomputed
    empty set — the post-GC state no longer knows which buckets lost
    their rep."""
    import shutil

    import pytest

    state = os.path.join(tmpdir_path, "sigstate")
    r0, f0 = _corpus(81, 30, 10, 8)
    df0 = spark.createDataFrame(r0, "doc_id int, text string")
    incremental_dedup_round(spark, df0, df0, state, "r0", **CFG)

    dead = [r0[0][0], r0[1][0]]
    live_rows = [r for r in r0 if r[0] not in dead]
    live = spark.createDataFrame(live_rows, "doc_id int, text string")
    tomb = spark.createDataFrame([(d,) for d in dead], "id int")
    first = gc_signature_state(spark, tomb, live, state, "gc-1")
    first_set = _pairset(first)
    tip = tio.latest_snapshot_id(state)

    # replay: same pairs, no new snapshot; works even with an EMPTY
    # tombstone frame (the retry may not have the original inputs)
    empty_tomb = spark.createDataFrame([], "id int")
    again = gc_signature_state(spark, empty_tomb, live, state, "gc-1")
    assert _pairset(again) == first_set
    assert tio.latest_snapshot_id(state) == tip

    # a committed GC whose _gc repair dir is gone cannot be replayed: loud
    shutil.rmtree(os.path.join(state, "_gc"))
    with pytest.raises(ValueError, match="repair pairs were not persisted"):
        gc_signature_state(spark, empty_tomb, live, state, "gc-1")

    # and the _gc dir never leaks into state reads or reports
    assert "id_a" not in read_signature_state(spark, state).columns
    assert not any(
        "_gc" in p for p in tio.table_report(state)["by_partition"]
    )


def test_deowned_dirs_reclaimed_only_after_expiry(tmpdir_path):
    """r6b: merge/compaction de-owns its source partitions but must NOT
    delete them while retained snapshots still reference them (time
    travel + incremental catch-up read those dirs). The reclaim path is
    Iceberg's: expire_snapshots drops the pre-merge history, THEN
    sweep_orphan_partitions — whose boundary is retained_partitions, the
    union over retained snapshots, not the tip map — removes the dirs.
    Pure log+filesystem, no Spark session needed."""
    t = os.path.join(tmpdir_path, "tbl")
    for pid in (0, 1):
        d = os.path.join(t, f"ingest_id={pid}")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as f:
            f.write("x")
    tio.snapshot_commit(t, "r0", [0])
    tio.snapshot_commit(t, "r1", [1])
    # merge-style atomic claim-and-de-own
    d2 = os.path.join(t, "ingest_id=2")
    os.makedirs(d2)
    with open(os.path.join(d2, "part-0.parquet"), "w") as f:
        f.write("x")
    tio.snapshot_commit(
        t, "m", [2], operation="replace", remove_partition_ids=[0, 1]
    )
    assert sorted(tio.retained_partitions(t)) == ["0", "1", "2"]
    # de-owned but retained → not sweepable, reported as historical
    assert tio.sweep_orphan_partitions(t, older_than_s=-5) == []
    rep = tio.table_report(t)
    assert rep["orphan_partitions"] == []
    assert rep["historical_partitions"] == ["ingest_id=0", "ingest_id=1"]

    # drive the log past the next checkpoint so expiry can drop the
    # pre-merge history (nothing below the fold boundary is deletable)
    while tio.latest_snapshot_id(t) < tio.CHECKPOINT_EVERY + 1:
        tio.snapshot_commit(t, f"keep-{tio.latest_snapshot_id(t)}", [2])
    expired = tio.expire_snapshots(t, keep_last=1)
    assert expired, "pre-merge history should have been expirable"
    assert sorted(tio.retained_partitions(t)) == ["2"]
    swept = tio.sweep_orphan_partitions(t, older_than_s=-5)
    assert swept == ["0", "1"]
    assert not os.path.isdir(os.path.join(t, "ingest_id=0"))
    assert os.path.isdir(os.path.join(t, "ingest_id=2"))
    assert sorted(tio.partitions_as_of(t, tio.latest_snapshot_id(t))) == ["2"]
    rep = tio.table_report(t)
    assert rep["orphan_partitions"] == []
    assert rep["historical_partitions"] == []


def test_gc_resume_after_crash_before_commit(spark, tmpdir_path, monkeypatch):
    """r6c: a GC that crashes BETWEEN the partition rewrite and the delete
    commit must resume on retry — returning the PERSISTED repair pairs
    and landing the commit — not recompute from the half-rewritten state
    (which would see no tombstoned rows, skip the commit, and return an
    empty repair, silently losing the severed star links)."""
    from ocr_toolkit_spark.operators import incremental as inc

    def seed_state(path):
        r0, f0 = _corpus(91, 30, 10, 8)
        df0 = spark.createDataFrame(r0, "doc_id int, text string")
        incremental_dedup_round(spark, df0, df0, path, "r0", **CFG)
        return r0

    state = os.path.join(tmpdir_path, "sigstate")
    twin = os.path.join(tmpdir_path, "sigtwin")
    r0 = seed_state(state)
    seed_state(twin)

    # tombstone enough low ids that some bucket loses its min-id rep
    dead = [r0[i][0] for i in range(3)]
    live_rows = [r for r in r0 if r[0] not in dead]
    live = spark.createDataFrame(live_rows, "doc_id int, text string")
    tomb = spark.createDataFrame([(d,) for d in dead], "id int")

    real_commit = tio.snapshot_commit

    def crash_on_delete(path, run_id, pids, operation="append", **kw):
        if operation == "delete":
            raise RuntimeError("injected crash before the delete commit")
        return real_commit(path, run_id, pids, operation=operation, **kw)

    monkeypatch.setattr(inc.tio, "snapshot_commit", crash_on_delete)
    tip = tio.latest_snapshot_id(state)
    with pytest.raises(RuntimeError, match="injected crash"):
        gc_signature_state(spark, tomb, live, state, "gc-crash")
    # the rewrite already happened, the commit did not
    assert tio.latest_snapshot_id(state) == tip
    assert spark.read.parquet(state).filter(
        F.col("id").isin(dead)).count() == 0
    monkeypatch.setattr(inc.tio, "snapshot_commit", real_commit)

    # retry resumes from the persisted plan — adversarially passing a
    # WRONG (empty) tombstone frame, which the resume must IGNORE in
    # favor of the persisted tombstones (r6c review: trusting the
    # argument would re-apply the rewrite with the wrong tomb set and
    # commit over ghost bands): repair equals an un-crashed twin's, the
    # delete commit lands, and a further replay is stable
    wrong_tomb = spark.createDataFrame([], "id int")
    repair = gc_signature_state(spark, wrong_tomb, live, state, "gc-crash")
    expected = gc_signature_state(spark, tomb, live, twin, "gc-crash")
    assert _pairset(repair) == _pairset(expected)
    assert tio.latest_snapshot_id(state) == tip + 1
    snap = tio.find_run_snapshot(state, "gc-crash", operation="delete")
    assert snap is not None
    again = gc_signature_state(
        spark, spark.createDataFrame([], "id int"), live, state, "gc-crash")
    assert _pairset(again) == _pairset(expected)
    assert tio.latest_snapshot_id(state) == tip + 1
    # states converge row-for-row
    assert (read_signature_state(spark, state).count()
            == read_signature_state(spark, twin).count())


def test_gc_refuses_to_empty_the_state(spark, tmpdir_path):
    """r6c: tombstoning EVERY doc in the state must refuse loudly — the
    alternative rmtrees all ingest dirs while committing a tip>0 delete
    snapshot, after which read_signature_state can never infer a schema
    (the append/merge empty-frame brick mode, via GC)."""
    state = os.path.join(tmpdir_path, "sigstate")
    r0, _ = _corpus(95, 12, 4, 4)
    df0 = spark.createDataFrame(r0, "doc_id int, text string")
    incremental_dedup_round(spark, df0, df0, state, "r0", **CFG)

    tomb = spark.createDataFrame([(r[0],) for r in r0], "id int")
    empty_corpus = spark.createDataFrame([], "doc_id int, text string")
    tip = tio.latest_snapshot_id(state)
    with pytest.raises(ValueError, match="refusing to empty"):
        gc_signature_state(spark, tomb, empty_corpus, state, "gc-all")
    # nothing committed, nothing deleted, state still readable
    assert tio.latest_snapshot_id(state) == tip
    assert read_signature_state(spark, state).count() == len(r0) * CFG["bands"]


def test_merge_single_owner_noop(spark, tmpdir_path):
    """r6c: merging an already-merged (single-partition) state is a noop —
    without it every rerun under a fresh run_id appends another replace
    snapshot and another historical directory (the CLI's tip-derived
    run_id can only replay crash retries, not reruns after success)."""
    from ocr_toolkit_spark.operators.incremental import merge_signature_state

    state = os.path.join(tmpdir_path, "sigstate")
    r0, f0 = _corpus(97, 20, 6, 6)
    r1, _ = _corpus(98, 10, 4, 4, start_id=1000, base_pool=f0)
    df0 = spark.createDataFrame(r0, "doc_id int, text string")
    u1 = spark.createDataFrame(r0 + r1, "doc_id int, text string")
    df1 = spark.createDataFrame(r1, "doc_id int, text string")
    incremental_dedup_round(spark, df0, df0, state, "r0", **CFG)
    incremental_dedup_round(spark, df1, u1, state, "r1", **CFG)

    rep = merge_signature_state(spark, state, "merge-a")
    assert rep["ingests_before"] == 2 and "noop" not in rep
    tip = tio.latest_snapshot_id(state)
    n = read_signature_state(spark, state).count()

    rep2 = merge_signature_state(spark, state, "merge-b")  # fresh run_id
    assert rep2 == {"ingests_before": 1,
                    "new_ingest": rep["new_ingest"], "noop": True}
    assert tio.latest_snapshot_id(state) == tip
    assert read_signature_state(spark, state).count() == n


def test_sweep_refuses_table_without_snapshot_log(tmpdir_path):
    """r6c: sweeping a table that has partitions but NO snapshot log must
    raise — with no ownership map every partition classifies as an
    orphan and the sweep would delete the whole table (legacy
    lineage-committed tables, plain partitioned parquet)."""
    t = os.path.join(tmpdir_path, "legacy")
    d = os.path.join(t, "partition_id=0")
    os.makedirs(d)
    with open(os.path.join(d, "part-0.parquet"), "w") as f:
        f.write("x")
    with pytest.raises(ValueError, match="no snapshot log"):
        tio.sweep_orphan_partitions(t, older_than_s=-5)
    assert os.path.isdir(d)


def test_maintenance_chaos_crash_injection(spark, tmpdir_path, monkeypatch):
    """Operator-level chaos soak (r6c): a seeded random interleaving of
    ingest / compact / merge / GC / sweep where every op's snapshot
    commit on the chaos state may crash BEFORE or AFTER landing, each
    crashed op retried once with the SAME run_id. A crash-free twin
    executes the identical logical sequence; after every op the two
    states must agree on the op's output pairs and on committed row
    counts, and a reader between crash and retry must never see the
    crashed op's uncommitted writes. This composes the per-window crash
    tests into arbitrary orderings — the shape a 100-TB operator
    actually faces."""
    from ocr_toolkit_spark.operators.incremental import merge_signature_state

    state = os.path.join(tmpdir_path, "chaos")
    twin = os.path.join(tmpdir_path, "twin")
    rng = random.Random(20260817)

    real_commit = tio.snapshot_commit
    mode = {"value": None}

    def inject(path, run_id, pids, operation="append", **kw):
        # only the chaos state is faulted, and only the op's FIRST commit
        if path != state or mode["value"] is None:
            return real_commit(path, run_id, pids, operation=operation, **kw)
        m, mode["value"] = mode["value"], None
        if m == "before":
            raise RuntimeError("chaos: crash before commit")
        snap = real_commit(path, run_id, pids, operation=operation, **kw)
        raise RuntimeError("chaos: crash after commit")

    monkeypatch.setattr(tio, "snapshot_commit", inject)

    rows_all, dead, pool = [], set(), []
    acc = {"chaos": set(), "twin": set()}
    next_id = 0

    def live_rows():
        return [r for r in rows_all if r[0] not in dead]

    def corpus_df():
        return spark.createDataFrame(live_rows(), "doc_id int, text string")

    def make_op(kind, i):
        """Build the op closure; returns (op, rows_in_ingest) or None."""
        nonlocal next_id
        rid = f"op{i}-{kind}"
        if kind == "ingest":
            rows_new, fresh_texts = _corpus(
                1000 + i, 8, 3, 3, start_id=next_id, base_pool=pool)
            next_id += 1000
            pool.extend(fresh_texts)
            rows_all.extend(rows_new)
            df_new = spark.createDataFrame(
                rows_new, "doc_id int, text string")

            def op(path):
                return _pairset(incremental_dedup_round(
                    spark, df_new, corpus_df(), path, rid, **CFG))
            return op, len(rows_new)
        if kind == "gc":
            in_state = sorted(r[0] for r in live_rows())
            k = min(2, max(0, len(in_state) - 6))
            victims = rng.sample(in_state, k=k)
            if not victims:
                return None
            dead.update(victims)
            tomb = spark.createDataFrame([(v,) for v in victims], "id int")

            def op(path):
                return _pairset(gc_signature_state(
                    spark, tomb, corpus_df(), path, rid))
            return op, 0
        if kind == "compact":
            def op(path):
                compact_signature_state(spark, path, rid)
                return frozenset()
            return op, 0
        if kind == "merge":
            def op(path):
                merge_signature_state(spark, path, rid)
                return frozenset()
            return op, 0

        def op(path):  # sweep — no commit, exercised for isolation only
            tio.sweep_orphan_partitions(path, older_than_s=-5)
            return frozenset()
        return op, 0

    ops = ["ingest"]
    ops += rng.choices(["ingest", "compact", "merge", "gc", "sweep"],
                       weights=[5, 2, 2, 3, 2], k=11)
    crashes = 0
    for i, kind in enumerate(ops):
        built = make_op(kind, i)
        if built is None:
            continue
        op, n_ingested = built
        twin_out = op(twin)  # crash-free reference

        crash = rng.choice([None, "before", "after"])
        mode["value"] = crash
        try:
            chaos_out = op(state)
            mode["value"] = None
        except RuntimeError:
            crashes += 1
            # isolation: between crash and retry, committed reads see
            # either the pre-op state ("before") or the op's full result
            # ("after") — never a partial/uncommitted mix
            st = read_signature_state(spark, state)
            tw = read_signature_state(spark, twin)
            if kind == "ingest":
                expect = tw.count() - (
                    n_ingested * CFG["bands"] if crash == "before" else 0)
                assert (st.count() if st is not None else 0) == expect, (
                    f"op {i} ({kind}, crash {crash}): uncommitted leak")
            chaos_out = op(state)  # retry, same run_id

        assert chaos_out == twin_out, f"op {i} ({kind}) diverged"
        if kind in ("ingest", "gc"):
            acc["chaos"] |= chaos_out
            acc["twin"] |= twin_out
        st = read_signature_state(spark, state)
        tw = read_signature_state(spark, twin)
        assert (st is None) == (tw is None)
        if st is not None:
            assert st.count() == tw.count(), f"op {i} ({kind}) row drift"

    assert crashes >= 3, f"seed produced only {crashes} crashes — weak run"
    assert acc["chaos"] == acc["twin"]

    # final leg: expiry + sweep on both — committed rows still agree
    for path in (state, twin):
        while tio.latest_snapshot_id(path) < tio.CHECKPOINT_EVERY + 1:
            tip = tio.latest_snapshot_id(path)
            keep = max(int(p) for p in tio.partitions_as_of(path, tip))
            real_commit(path, f"pad-{tip}", [keep])
        tio.expire_snapshots(path, keep_last=2)
        tio.sweep_orphan_partitions(path, older_than_s=-5)
    assert (read_signature_state(spark, state).count()
            == read_signature_state(spark, twin).count())
