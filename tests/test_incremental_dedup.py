"""Incremental (delta) near-dedup: per-round delta passes over a persisted
signature state must compose to the full-corpus re-run — pair-set equality
when no bucket caps fire, keep-set equality under capping and backfill."""

import os
import random

import pytest

from pyspark.sql import functions as F

from ocr_toolkit_spark.operators.cc import near_dedup_keep_first
from ocr_toolkit_spark.operators.dedup import (
    jaccard_verify,
    minhash_lsh_candidates,
)
from ocr_toolkit_spark.operators.incremental import (
    append_signatures,
    delta_candidate_pairs,
    incremental_dedup_round,
    read_signature_state,
    signature_state_meta,
)

VOCAB = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def _corpus(seed: int, n_base: int, n_exact: int, n_near: int,
            start_id: int = 0, base_pool=None):
    """(id, text) rows: fresh texts + exact copies + one-token-changed near
    copies, drawing dup sources from `base_pool` (defaults to this batch's
    fresh texts) so deltas can duplicate earlier rounds' docs."""
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


CFG = dict(k=3, n_hashes=32, bands=8, threshold=0.8)


def _full_pairs(df, max_bucket=256):
    cand = minhash_lsh_candidates(df, k=CFG["k"], n_hashes=CFG["n_hashes"],
                                  bands=CFG["bands"], max_bucket=max_bucket)
    return jaccard_verify(cand, df, k=CFG["k"], threshold=CFG["threshold"])


def _pairset(pairs_df):
    return {(r.id_a, r.id_b) for r in pairs_df.select("id_a", "id_b").collect()}


def test_round_zero_equals_batch(spark, tmpdir_path):
    """With an empty state, one incremental round IS the batch run: same
    verified pair set, and the state afterwards holds one ingest."""
    rows, _ = _corpus(101, 40, 20, 15)
    df = spark.createDataFrame(rows, "doc_id int, text string")
    state = os.path.join(tmpdir_path, "sigstate")

    delta = incremental_dedup_round(spark, df, df, state, "r0", **CFG)
    assert _pairset(delta) == _pairset(_full_pairs(df))
    assert _pairset(delta)  # non-trivial corpus

    st = read_signature_state(spark, state)
    assert st.select("ingest_id").distinct().collect()[0][0] == 0
    assert st.count() == len(rows) * CFG["bands"]


def test_delta_rounds_union_equals_full_rerun(spark, tmpdir_path):
    """THE contract (r4 verdict #2): three ingest rounds, each processing
    only its new docs against the signature state, must union to exactly
    the full re-run's pair set on the final corpus — and each round's
    pairs touch at least one of that round's docs."""
    r0, f0 = _corpus(7, 40, 15, 10, start_id=0)
    r1, f1 = _corpus(8, 20, 10, 10, start_id=1000, base_pool=f0)
    r2, _ = _corpus(9, 15, 8, 8, start_id=2000, base_pool=f0 + f1)
    state = os.path.join(tmpdir_path, "sigstate")

    union_rows, all_pairs = [], set()
    for rnd, rows in enumerate((r0, r1, r2)):
        union_rows += rows
        corpus = spark.createDataFrame(union_rows, "doc_id int, text string")
        new_df = spark.createDataFrame(rows, "doc_id int, text string")
        delta = incremental_dedup_round(spark, new_df, corpus, state,
                                        f"r{rnd}", **CFG)
        dset = _pairset(delta)
        new_ids = {r[0] for r in rows}
        assert all(a in new_ids or b in new_ids for a, b in dset), \
            "delta pair not touching a new doc"
        all_pairs |= dset

    full = _pairset(_full_pairs(
        spark.createDataFrame(union_rows, "doc_id int, text string")))
    assert all_pairs == full  # symmetric difference is empty
    assert len(full) > 20  # engineered cross-round duplicates found


def test_keep_set_matches_under_capping(spark, tmpdir_path):
    """A bucket that crosses the star-cap boundary BETWEEN rounds: round 0
    all-pairs it (under cap), round 1's growth caps it. Pair sets then
    legitimately diverge (docstring contract), but connected-component
    keep-sets must still match the full re-run."""
    boiler = " ".join(VOCAB[:10])  # identical text → one hot bucket
    r0 = [(i, boiler) for i in range(4)]
    r1 = [(100 + i, boiler) for i in range(8)]
    state = os.path.join(tmpdir_path, "sigstate")

    df0 = spark.createDataFrame(r0, "doc_id int, text string")
    p0 = incremental_dedup_round(spark, df0, df0, state, "r0",
                                 max_bucket=5, **CFG)
    union = spark.createDataFrame(r0 + r1, "doc_id int, text string")
    df1 = spark.createDataFrame(r1, "doc_id int, text string")
    p1 = incremental_dedup_round(spark, df1, union, state, "r1",
                                 max_bucket=5, **CFG)

    inc_pairs = spark.createDataFrame(
        sorted(_pairset(p0) | _pairset(p1)), "id_a int, id_b int"
    ).withColumn("jaccard", F.lit(1.0))
    full = _full_pairs(union, max_bucket=5)
    inc_keep = {r.doc_id for r in near_dedup_keep_first(union, inc_pairs).collect()}
    full_keep = {r.doc_id for r in near_dedup_keep_first(union, full).collect()}
    assert inc_keep == full_keep == {0}  # one component, min id kept


def test_backfill_bridge_preserves_connectivity(spark, tmpdir_path):
    """Backfill ingest with SMALLER ids than the state in an oversized
    bucket: the new min-id becomes the bucket rep, and the rep↔old-rep
    bridge pair must keep prior rounds' members in the same component."""
    boiler = " ".join(VOCAB[10:])
    r0 = [(100 + i, boiler) for i in range(8)]   # oversized at cap 5
    r1 = [(i, boiler) for i in range(1, 4)]      # backfill: ids 1..3
    state = os.path.join(tmpdir_path, "sigstate")

    df0 = spark.createDataFrame(r0, "doc_id int, text string")
    p0 = incremental_dedup_round(spark, df0, df0, state, "r0",
                                 max_bucket=5, **CFG)
    union = spark.createDataFrame(r0 + r1, "doc_id int, text string")
    df1 = spark.createDataFrame(r1, "doc_id int, text string")
    p1 = incremental_dedup_round(spark, df1, union, state, "r1",
                                 max_bucket=5, **CFG)

    pset = _pairset(p0) | _pairset(p1)
    assert (1, 100) in pset  # the bridge edge
    inc_pairs = spark.createDataFrame(
        sorted(pset), "id_a int, id_b int").withColumn("jaccard", F.lit(1.0))
    inc_keep = {r.doc_id for r in near_dedup_keep_first(union, inc_pairs).collect()}
    full_keep = {r.doc_id for r in near_dedup_keep_first(
        union, _full_pairs(union, max_bucket=5)).collect()}
    assert inc_keep == full_keep == {1}


def test_config_mismatch_raises(spark, tmpdir_path):
    rows, _ = _corpus(11, 10, 0, 0)
    df = spark.createDataFrame(rows, "doc_id int, text string")
    state = os.path.join(tmpdir_path, "sigstate")
    incremental_dedup_round(spark, df, df, state, "r0", **CFG)
    assert signature_state_meta(state) == {
        "k": 3, "n_hashes": 32, "bands": 8, "threshold": 0.8,
        "max_bucket": 256,
    }
    with pytest.raises(ValueError, match="incomparable"):
        incremental_dedup_round(spark, df, df, state, "r1", k=5,
                                n_hashes=32, bands=8, threshold=0.8)
    # threshold and max_bucket are equivalence-relevant too (review r5 #6)
    with pytest.raises(ValueError, match="incomparable"):
        incremental_dedup_round(spark, df, df, state, "r2", k=3,
                                n_hashes=32, bands=8, threshold=0.5)
    with pytest.raises(ValueError, match="incomparable"):
        incremental_dedup_round(spark, df, df, state, "r3", max_bucket=64,
                                **CFG)


def test_state_side_is_broadcast_semi_join(spark, tmpdir_path):
    """Scale shape: the candidate plan must reduce the state table with a
    broadcast LEFT-SEMI join on the delta's bucket keys — the state is
    scanned (narrow) but NEVER shuffled, so per-round cost tracks the
    delta size, not the corpus. Read from the plans the operator actually
    ran: the semi-join executes inside the checkpoint of the union of
    touched state rows and new rows."""
    from ocr_toolkit_spark.operators.dedup import minhash_banded_frame
    from ocr_toolkit_spark.plans import executed_plans

    rows, _ = _corpus(12, 30, 5, 5)
    df = spark.createDataFrame(rows, "doc_id int, text string")
    state = os.path.join(tmpdir_path, "sigstate")
    append_signatures(minhash_banded_frame(df, k=3, n_hashes=32, bands=8),
                      state, "r0")

    new_rows, _ = _corpus(13, 5, 0, 0, start_id=5000)
    new_df = spark.createDataFrame(new_rows, "doc_id int, text string")
    new_banded = minhash_banded_frame(new_df, k=3, n_hashes=32, bands=8)
    state_df = read_signature_state(spark, state)
    plans = executed_plans(
        spark, lambda: delta_candidate_pairs(new_banded, state_df))
    semi = [p for p in plans if "LeftSemi" in p]
    assert semi, plans
    assert any("BroadcastHashJoin LeftSemi BuildRight" in p for p in semi)


def test_dedup_extracted_changes_composition(spark, tmpdir_path):
    """The storage→dedup composition (r4 verdict #2's full sentence): a
    snapshot-committed streaming extraction table consumed incrementally
    by batch-id cursor, each round's delta dedup over the RENDERED
    markdown, union of rounds == full re-run on the final table."""
    import pyarrow.parquet as pq

    from ocr_toolkit_spark import io as tio
    from ocr_toolkit_spark.fixtures import to_arrow
    from ocr_toolkit_spark.operators.incremental import dedup_extracted_changes
    from ocr_toolkit_spark.pipeline import render_markdown_col
    from ocr_toolkit_spark.streaming.stream_extract import (
        stream_extract_committed,
    )

    rng = random.Random(33)

    def doc(did, body):
        return (did, [{"kind": "text", "text": body, "media_ref": "",
                       "offset": 0}])

    base_bodies = [" ".join(rng.choice(VOCAB) for _ in range(30)) + f" u{i}"
                   for i in range(25)]
    ingest0 = [doc(f"b{i:02d}", base_bodies[i]) for i in range(25)]
    ingest0 += [doc(f"b9{i}", base_bodies[i]) for i in range(3)]  # dups in base
    ingest1 = [doc(f"n{i:02d}", base_bodies[5 + i]) for i in range(6)]
    ingest1 += [doc("n99", " ".join(rng.choice(VOCAB) for _ in range(30)))]

    in_dir = os.path.join(tmpdir_path, "in")
    os.makedirs(in_dir)
    table = os.path.join(tmpdir_path, "table")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    state = os.path.join(tmpdir_path, "sigstate")
    cfg = dict(k=3, n_hashes=32, bands=8, threshold=0.7)

    pq.write_table(to_arrow(ingest0), os.path.join(in_dir, "a.parquet"))
    stream_extract_committed(spark, in_dir, table, ckpt).awaitTermination(600)
    tip0 = tio.latest_snapshot_id(table)
    p0 = dedup_extracted_changes(spark, table, state, 0, tip0, "r0", **cfg)

    pq.write_table(to_arrow(ingest1), os.path.join(in_dir, "b.parquet"))
    stream_extract_committed(spark, in_dir, table, ckpt).awaitTermination(600)
    tip1 = tio.latest_snapshot_id(table)
    assert tip1 > tip0
    p1 = dedup_extracted_changes(spark, table, state, tip0, tip1, "r1", **cfg)

    new_ids = {d[0] for d in ingest1}
    dset = _pairset(p1)
    assert dset and all(a in new_ids or b in new_ids for a, b in dset)

    rendered = (spark.read.parquet(table).filter("success")
                .select("doc_id", render_markdown_col().alias("text")))
    full = jaccard_verify(
        minhash_lsh_candidates(rendered, k=3, n_hashes=32, bands=8),
        rendered, k=3, threshold=0.7)
    assert (_pairset(p0) | dset) == _pairset(full)
    assert len(_pairset(full)) >= 9  # engineered dups found


def test_round_replay_is_idempotent_on_run_id(spark, tmpdir_path):
    """Review r5b #3: retrying a round whose state commit already landed
    (same run_id) must append NOTHING — no duplicate (id, band, band_hash)
    rows, no bucket-count inflation — and still return the same pairs."""
    from ocr_toolkit_spark.operators.incremental import (
        read_signature_state,
    )

    rows, f0 = _corpus(55, 30, 10, 5)
    df = spark.createDataFrame(rows, "doc_id int, text string")
    state = os.path.join(tmpdir_path, "sigstate")

    p1 = incremental_dedup_round(spark, df, df, state, "round-0-1", **CFG)
    st1 = read_signature_state(spark, state)
    n_rows_1 = st1.count()
    from ocr_toolkit_spark import io as tio
    assert tio.latest_snapshot_id(state) == 1

    # replay the SAME logical round (deterministic run_id, e.g. the CLI's
    # interval-derived one)
    p2 = incremental_dedup_round(spark, df, df, state, "round-0-1", **CFG)
    st2 = read_signature_state(spark, state)
    assert st2.count() == n_rows_1            # nothing appended
    assert tio.latest_snapshot_id(state) == 1  # no new snapshot
    assert _pairset(p2) == _pairset(p1)        # same verified pairs

    # a genuinely new round still appends
    more, _ = _corpus(56, 10, 5, 5, start_id=5000, base_pool=f0)
    union = spark.createDataFrame(rows + more, "doc_id int, text string")
    incremental_dedup_round(
        spark, spark.createDataFrame(more, "doc_id int, text string"),
        union, state, "round-1", **CFG)
    assert tio.latest_snapshot_id(state) == 2
    assert read_signature_state(spark, state).count() > n_rows_1


def test_empty_delta_round_is_a_noop(spark, tmpdir_path):
    """ADVICE r5 #1: an empty delta round (interval with only replace
    snapshots / no successful docs) must not write meta or commit an
    ingest snapshot — a zero-row committed ingest used to make every
    later read_signature_state fail with UNABLE_TO_INFER_SCHEMA."""
    from ocr_toolkit_spark import io as tio
    from ocr_toolkit_spark.operators.dedup import minhash_banded_frame

    state = os.path.join(tmpdir_path, "sigstate")
    empty = spark.createDataFrame([], "doc_id int, text string")

    # empty round on a FRESH state: no meta, no snapshot, empty pairs with
    # the exact output schema
    p = incremental_dedup_round(spark, empty, empty, state, "r-empty", **CFG)
    assert p.columns == ["id_a", "id_b", "jaccard"]
    assert p.count() == 0
    assert signature_state_meta(state) is None
    assert tio.latest_snapshot_id(state) == 0
    assert read_signature_state(spark, state) is None

    # real round, then another empty round: state untouched and READABLE
    rows, _ = _corpus(77, 20, 5, 5)
    df = spark.createDataFrame(rows, "doc_id int, text string")
    incremental_dedup_round(spark, df, df, state, "r0", **CFG)
    tip = tio.latest_snapshot_id(state)
    n = read_signature_state(spark, state).count()
    p2 = incremental_dedup_round(spark, empty, df, state, "r-empty-2", **CFG)
    assert p2.count() == 0
    assert tio.latest_snapshot_id(state) == tip
    assert read_signature_state(spark, state).count() == n

    # the low-level guard also refuses an explicit empty append
    ebanded = minhash_banded_frame(empty, k=3, n_hashes=32, bands=8)
    with pytest.raises(ValueError, match="EMPTY banded frame"):
        append_signatures(ebanded, state, "r-bad")


def test_replay_does_not_inflate_star_guard(spark, tmpdir_path):
    """ADVICE r5 #2: on replay of a committed round, each new doc's bands
    sit in the state too; the duplicates must be dropped before bucket
    stats or a bucket between max_bucket/2 and max_bucket doubles past
    the cap and the replayed round emits star pairs instead of the
    original round's all-pairs clique."""
    boiler = " ".join(VOCAB[:12])
    rows = [(i, boiler) for i in range(4)]  # bucket size 4, cap 5: under cap
    df = spark.createDataFrame(rows, "doc_id int, text string")
    state = os.path.join(tmpdir_path, "sigstate")

    p1 = incremental_dedup_round(spark, df, df, state, "rid-0",
                                 max_bucket=5, **CFG)
    # all-pairs clique over 4 identical docs
    assert _pairset(p1) == {(a, b) for a in range(4)
                            for b in range(a + 1, 4)}
    # replay the SAME round: state already holds these bands; doubled rows
    # (8 > cap 5) would trip the star guard and shrink the pair set
    p2 = incremental_dedup_round(spark, df, df, state, "rid-0",
                                 max_bucket=5, **CFG)
    assert _pairset(p2) == _pairset(p1)


def test_meta_write_is_cross_process_atomic(tmpdir_path):
    """r5 verdict #3: two first-ever rounds racing on an empty state dir
    must not both win the `_dedup_meta.json` write — the os.link claim
    plus read-back-verify means exactly one config is pinned and a loser
    with a DIFFERENT config raises instead of silently clobbering."""
    import subprocess
    import sys as _sys

    state = os.path.join(tmpdir_path, "sigstate")
    script = (
        "import sys; sys.path.insert(0, sys.argv[3]);"
        "from ocr_toolkit_spark.operators.incremental import "
        "_check_or_write_meta, signature_state_meta;"
        "cfg = {'k': int(sys.argv[2]), 'bands': 8};"
        "\ntry:\n"
        "    _check_or_write_meta(sys.argv[1], cfg)\n"
        "except ValueError:\n"
        "    sys.exit(42)  # lost the race, loud mismatch\n"
        "assert signature_state_meta(sys.argv[1]) == cfg\n"
        "sys.exit(0)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen([_sys.executable, "-c", script, state, str(k), repo])
        for k in (3, 5)  # DIFFERENT configs racing
    ]
    rcs = [p.wait(timeout=120) for p in procs]
    # exactly one winner; the loser exits 42 (loud ValueError), never a
    # silent double-write
    assert sorted(rcs) == [0, 42], rcs
    meta = signature_state_meta(os.path.join(tmpdir_path, "sigstate"))
    assert meta is not None and meta["k"] in (3, 5)


# --- incremental EMBEDDING near-dedup (r6c) ----------------------------------

EDIM = 16
ECFG = dict(dim=EDIM, threshold=0.9, n_bits=8, seed=7)


def _vectors(seed, n, start_id=0, n_dup=0, dup_pool=None, noise=0.02):
    """Unit vectors: fresh random ones + near-duplicates of pool vectors
    (small additive noise keeps cosine ≫ threshold)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    fresh = rng.standard_normal((n, EDIM))
    fresh /= np.linalg.norm(fresh, axis=1, keepdims=True)
    rows = [(start_id + i, [float(x) for x in fresh[i]]) for i in range(n)]
    pool = list(dup_pool or []) + [r[1] for r in rows]
    nid = start_id + n
    for j in range(n_dup):
        src = np.array(pool[int(rng.integers(len(pool)))])
        v = src + noise * rng.standard_normal(EDIM)
        v /= np.linalg.norm(v)
        rows.append((nid, [float(x) for x in v])); nid += 1
    return rows


def _vdf(spark, rows):
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def _vpairs(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


def test_embedding_round_zero_equals_batch(spark, tmpdir_path):
    """Round 0 over an empty state == similarity.embedding_near_dups on
    the same vectors (single SRP table, same bits/seed/threshold)."""
    from ocr_toolkit_spark.operators.incremental import (
        incremental_embedding_round,
    )
    from ocr_toolkit_spark.operators.similarity import embedding_near_dups

    rows = _vectors(11, 40, n_dup=12)
    df = _vdf(spark, rows)
    state = os.path.join(tmpdir_path, "vstate")
    p0 = incremental_embedding_round(spark, df, df, state, "r0", **ECFG)
    batch = embedding_near_dups(
        df, EDIM, threshold=ECFG["threshold"], n_bits=ECFG["n_bits"],
        seed=ECFG["seed"],
    )
    assert _vpairs(p0) == _vpairs(batch)
    assert signature_state_meta(state)["kind"] == "srp"


def test_embedding_delta_union_equals_full(spark, tmpdir_path):
    """Three ingest rounds' union == the batch operator on the union
    corpus; each pair is emitted exactly by the round ingesting its
    max id; sims are exact cosine (≥ threshold bound holds)."""
    from ocr_toolkit_spark.operators.incremental import (
        incremental_embedding_round,
    )
    from ocr_toolkit_spark.operators.similarity import embedding_near_dups

    r0 = _vectors(21, 30, n_dup=8)
    pool0 = [r[1] for r in r0]
    r1 = _vectors(22, 15, start_id=1000, n_dup=6, dup_pool=pool0)
    r2 = _vectors(23, 12, start_id=2000, n_dup=5,
                  dup_pool=pool0 + [r[1] for r in r1])
    state = os.path.join(tmpdir_path, "vstate")

    d0, d1, d2 = _vdf(spark, r0), _vdf(spark, r1), _vdf(spark, r2)
    u1, u2 = _vdf(spark, r0 + r1), _vdf(spark, r0 + r1 + r2)

    acc = set()
    p0 = incremental_embedding_round(spark, d0, d0, state, "r0", **ECFG)
    p1 = incremental_embedding_round(spark, d1, u1, state, "r1", **ECFG)
    p2 = incremental_embedding_round(spark, d2, u2, state, "r2", **ECFG)
    for p, lo in ((p0, 0), (p1, 1000), (p2, 2000)):
        got = _vpairs(p)
        acc |= got
        # every pair touches this round's ingest (max id in range)
        assert all(max(a, b) >= lo for a, b in got)
        for r in p.collect():
            assert r.sim >= ECFG["threshold"]

    batch = embedding_near_dups(
        u2, EDIM, threshold=ECFG["threshold"], n_bits=ECFG["n_bits"],
        seed=ECFG["seed"],
    )
    assert acc == _vpairs(batch)

    # replay of a committed round appends nothing and returns a subset
    from ocr_toolkit_spark import io as tio

    tip = tio.latest_snapshot_id(state)
    p1b = incremental_embedding_round(spark, d1, u1, state, "r1", **ECFG)
    assert tio.latest_snapshot_id(state) == tip
    assert _vpairs(p1b) <= acc


def test_embedding_state_never_mixes_with_minhash(spark, tmpdir_path):
    """The `kind` field in the pinned meta keeps an SRP vector state and
    a minhash text state from silently mixing incomparable signatures."""
    from ocr_toolkit_spark.operators.incremental import (
        incremental_embedding_round,
    )

    rows, _ = _corpus(31, 10, 3, 3)
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    state = os.path.join(tmpdir_path, "state")
    incremental_dedup_round(spark, docs, docs, state, "r0", **CFG)

    vecs = _vdf(spark, _vectors(32, 10))
    with pytest.raises(ValueError, match="was built with"):
        incremental_embedding_round(spark, vecs, vecs, state, "r1", **ECFG)


def test_embedding_multi_table_recall_and_state_maintenance(
        spark, tmpdir_path):
    """n_tables>1 unions independently-seeded SRP tables (recall ≥ the
    single-table run on the same data), and the SHARED maintenance ops
    (compact + merge) run unchanged over the vector state with the next
    round's pairs unaffected."""
    from ocr_toolkit_spark.operators.incremental import (
        compact_signature_state,
        incremental_embedding_round,
        merge_signature_state,
    )

    r0 = _vectors(41, 40, n_dup=10)
    r1 = _vectors(42, 15, start_id=1000, n_dup=6,
                  dup_pool=[r[1] for r in r0])
    d0, d1 = _vdf(spark, r0), _vdf(spark, r1)
    u1 = _vdf(spark, r0 + r1)

    s1 = os.path.join(tmpdir_path, "v1")  # single table
    s4 = os.path.join(tmpdir_path, "v4")  # four tables + maintenance
    p1 = _vpairs(incremental_embedding_round(
        spark, d0, d0, s1, "r0", **ECFG))
    p4 = _vpairs(incremental_embedding_round(
        spark, d0, d0, s4, "r0", n_tables=4, **ECFG))
    assert p1 <= p4  # extra tables only ADD verified-true pairs

    compact_signature_state(spark, s4, "compact-1")
    merge_signature_state(spark, s4, "merge-1")
    twin = os.path.join(tmpdir_path, "v4twin")
    incremental_embedding_round(spark, d0, d0, twin, "r0",
                                n_tables=4, **ECFG)
    q4 = _vpairs(incremental_embedding_round(
        spark, d1, u1, s4, "r1", n_tables=4, **ECFG))
    qt = _vpairs(incremental_embedding_round(
        spark, d1, u1, twin, "r1", n_tables=4, **ECFG))
    assert q4 == qt  # maintenance between rounds changed nothing


def test_embedding_random_split_fuzz(spark, tmpdir_path):
    """Equivalence under ARBITRARY ingest orders, not just the fixture
    splits: three seeded random partitions of one vector corpus, each
    ingested round-by-round in a random order; every schedule's pair
    union must equal the single batch run."""
    import random as _random

    from ocr_toolkit_spark.operators.incremental import (
        incremental_embedding_round,
    )
    from ocr_toolkit_spark.operators.similarity import embedding_near_dups

    rows = _vectors(71, 50, n_dup=15)
    all_df = _vdf(spark, rows)
    batch = _vpairs(embedding_near_dups(
        all_df, EDIM, threshold=ECFG["threshold"], n_bits=ECFG["n_bits"],
        seed=ECFG["seed"]))

    for trial in range(3):
        rng = _random.Random(100 + trial)
        ids = [r[0] for r in rows]
        rng.shuffle(ids)
        k = rng.randint(2, 4)
        cuts = sorted(rng.sample(range(1, len(ids)), k - 1))
        groups = [set(ids[a:b]) for a, b in
                  zip([0] + cuts, cuts + [len(ids)])]
        state = os.path.join(tmpdir_path, f"fuzz{trial}")
        seen, acc = set(), set()
        for i, g in enumerate(groups):
            seen |= g
            new = _vdf(spark, [r for r in rows if r[0] in g])
            corpus = _vdf(spark, [r for r in rows if r[0] in seen])
            acc |= _vpairs(incremental_embedding_round(
                spark, new, corpus, state, f"r{i}", **ECFG))
        # pairs are emitted as (min, max) by id; the batch set is the
        # same normalization, so plain set equality applies
        assert acc == batch, f"trial {trial} (k={k}) diverged"
