"""Incremental (delta) near-dedup — the 100-TB ingest shape.

At web scale you never re-minhash the corpus per ingest. Instead the banded
MinHash signature frame (id, band, band_hash) is PERSISTED as a
snapshot-committed state table (one partition per ingest, same delta-log
machinery as the extraction output — io.py); each ingest round:

1. computes the banded frame for the NEW docs only (O(delta) signature
   work — the expensive shingle/hash pipeline never re-touches old docs);
2. broadcast-semi-joins the state table to the new docs' bucket keys, so
   only state rows in TOUCHED buckets flow further (the state side is
   scanned narrow — three columns — but never shuffled: the new side's
   distinct bucket keys are broadcast);
3. emits candidate pairs new×(old ∪ new) within each touched bucket
   through the one candidate generator, skew.delta_candidate_pairs — the
   batch paths are the same call over an empty state, so batch and delta
   share its star guard — then Jaccard-verifies ONLY those candidates
   (jaccard_verify semi-joins the corpus to candidate ids, so text is
   read for candidate docs only);
4. appends the new banded rows as the next ingest partition + snapshot.

The table-commit steps (ingest-id allocation, replay by run_id, the
partition write, the snapshot publish, the committed-only read, the
config pin's create-exclusive publish) are io.py's; this module only
decides what to write and when.

Equivalence contract (pinned by tests/test_incremental_dedup.py):

- With no bucket over `max_bucket`, the UNION of per-round delta pairs
  equals the full-corpus re-run's pair set exactly — each unordered pair
  {a, b} is emitted by exactly the round that ingested max(a, b).
- When the star guard fires, pair SETS legitimately diverge (an earlier
  round may have all-paired a bucket that only later grew oversized — a
  superset of the full re-run's star edges), but connectivity is
  preserved: the bucket's representative is min(id), old reps are stable
  under append (new ids never lower an old bucket's min — and when backfill
  DOES introduce a smaller id, the rep↔old-rep bridge pair reconnects the
  rounds), so keep-sets after connected components match the batch
  composition's documented higher-recall-under-capping boundary
  (cc.full_near_dedup_keep_first).

Config consistency is enforced loudly: the state table stores its
(k, n_hashes, bands) in `_dedup_meta.json`; a round with different
parameters raises instead of silently mixing incomparable signatures.

Reference analog: the reference's only incremental behavior is the
output-directory skip (file_discovery.py:112-114); this module is the
engine's superseding production shape over the same idea — never redo
work already committed.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io as tio
from .dedup import jaccard_verify, minhash_banded_frame
from .similarity import _norm, cosine_pairs, make_srp_bucketer
from .skew import DEFAULT_MAX_BUCKET, delta_candidate_pairs, materialize, spread

META_FILE = "_dedup_meta.json"


def signature_state_meta(state_path: str) -> dict | None:
    return tio.read_meta(state_path, META_FILE)


def _check_or_write_meta(state_path: str, cfg: dict) -> None:
    """Pin the state's config, creating `_dedup_meta.json` on first use.

    Cross-process atomic (r5 verdict #3): creation goes through
    io.publish_exclusive — two first-ever rounds racing on an empty state
    dir cannot both win; the loser falls through to the read-back verify
    below, so a racing round with a DIFFERENT config raises instead of
    silently clobbering the pin."""
    existing = signature_state_meta(state_path)
    if existing is None:
        # a lost race is fine here: the verify below reads the winner's pin
        tio.publish_exclusive(
            os.path.join(state_path, META_FILE), json.dumps(cfg).encode()
        )
        existing = signature_state_meta(state_path)
    if existing != cfg:
        # wording covers every state kind pinned here (minhash rounds,
        # SRP embedding rounds) — r6c review: the old message named
        # MinHash's (k, n_hashes, bands) even when refusing an SRP state
        raise ValueError(
            f"signature state at {state_path} was built with {existing}; "
            f"this round uses {cfg} — signatures under different configs "
            "are incomparable. Rebuild the state or match the config."
        )


def read_signature_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """(id, band, band_hash, ingest_id) for every committed ingest, or None
    before the first round.

    COMMITTED ingests only: io.read_extracted_as_of at the log's tip
    filters `ingest_id` to the snapshot log's ownership map. A crash
    between the parquet write and snapshot_commit leaves a fully-written
    but UNCOMMITTED ingest directory; a plain directory read would let those bands leak into
    candidate generation (inflating bucket stats exactly like the replay
    bug ADVICE r5 #2 fixed) until the retry overwrites them. The filter
    lands on the physical partition column, so exclusion happens at
    file-listing time — no orphan file is ever opened."""
    tip = tio.latest_snapshot_id(state_path)
    if tip == 0:
        return None
    return tio.read_extracted_as_of(
        spark, state_path, tip, partition_col="ingest_id"
    )


def append_signatures(banded: DataFrame, state_path: str, run_id: str) -> int:
    """Commit a round's banded frame as the next ingest partition. Returns
    the ingest id. Same write-once + snapshot-commit discipline as the
    extraction table, so crash/retry replaces rather than duplicates and
    downstream incremental consumers can diff rounds with
    io.read_extracted_changes(partition_col='ingest_id').

    IDEMPOTENT on run_id (review r5b #3): a rerun of an already-committed
    round (operator retry after the commit landed) returns the existing
    ingest id WITHOUT writing — otherwise the same docs' bands would
    enter the state twice, doubling bucket counts and skewing the star
    guard forever. Use a deterministic run_id per logical round (the CLI
    derives it from the consumed snapshot interval).

    EMPTY frames are refused (ADVICE r5 #1): committing an ingest snapshot
    with zero parquet rows leaves a tip>0 state directory that
    read_signature_state cannot read back (no files → no inferable
    schema), bricking every later round. Callers short-circuit empty
    deltas before reaching here.

    The replay check scans the RETAINED SNAPSHOT HISTORY for the run_id
    (append operations only), not the current ownership map: maintenance
    re-claims partitions under its own run_id (compaction "replace", GC
    "delete"), so an owners-only check would forget a round the moment
    its partition was compacted and a replay would double the state. The
    idempotence window therefore equals the retained history — replaying
    a round OLDER than `expire_signature_state`'s retention is undefined
    (exactly Iceberg's expired-snapshot boundary) and operators must
    expire conservatively relative to their retry horizon. Cost:
    O(retained log) small-file reads per ROUND (not per row) — bounded
    by expiry."""
    if banded.isEmpty():
        raise ValueError(
            "append_signatures: refusing to commit an EMPTY banded frame — "
            "a zero-row ingest snapshot makes the state unreadable "
            "(tip>0 with no parquet files). Skip the round instead."
        )
    snap = tio.find_run_snapshot(state_path, run_id)
    if snap:
        # this round already committed; its ingest id is its claim
        return tio.claimed_partition(snap)
    nxt = tio.next_partition_id(state_path)
    tio.write_new_partition(
        banded.select("id", "band", "band_hash")
        .withColumn("ingest_id", F.lit(nxt)),
        state_path, nxt, "ingest_id",
    )
    tio.snapshot_commit(state_path, run_id, [nxt])
    return nxt


def _empty_pairs(banded: DataFrame, score_col: str) -> DataFrame:
    """The verified-pairs columns (id_a, id_b, <score_col>) over an EMPTY
    banded frame: a projection of its zero rows, so no job runs."""
    return banded.select(
        F.col("id").alias("id_a"), F.col("id").alias("id_b"),
        F.lit(None).cast("double").alias(score_col),
    )


def incremental_dedup_round(
    spark: SparkSession,
    new_df: DataFrame,
    corpus_df: DataFrame,
    state_path: str,
    run_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """One ingest round: signatures for the new docs, delta candidates vs
    state, exact Jaccard verification, state append. Returns the verified
    delta pairs (id_a, id_b, jaccard) — every pair touches a new doc.

    `corpus_df` must contain the texts of old + new docs (the union
    table); verification semi-joins it down to candidate ids, so only
    candidate texts are ever shingled.

    An empty delta returns an empty pairs frame, projected from the empty
    banded frame with no verify plan, and leaves the state and its meta
    untouched.

    Replay note: with a deterministic `run_id`, re-running a round whose
    commit already landed appends NOTHING (append_signatures is
    idempotent on run_id); the recomputed pairs then run against a state
    that already contains this round's bands — the state-side duplicates
    of the new docs' rows are dropped before bucket stats (ADVICE r5 #2:
    double-counted rows inflated `_n` and could spuriously trip the star
    guard), so the replayed round's pair set collapses back to the
    original's via the id_a<id_b normalization + distinct."""
    banded = minhash_banded_frame(
        new_df, id_col, text_col, k=k, n_hashes=n_hashes, bands=bands
    )
    if banded.isEmpty():
        # ADVICE r5 #1: an empty delta round (interval with only replace
        # snapshots, or no successful docs) must NOT write meta or commit
        # an ingest snapshot — a zero-row ingest partition would make every
        # later read_signature_state fail (tip>0 but no parquet files to
        # infer a schema from). Return an empty verified-pairs frame with
        # the exact output schema; state and meta untouched.
        return _empty_pairs(banded, "jaccard")
    # the full equivalence-relevant config is pinned, not just the
    # signature params: a threshold or cap change between rounds silently
    # voids the union==full-re-run contract just as surely as a band
    # change (review r5 #6). Pinned only for non-empty rounds, AFTER the
    # short-circuit above, so an empty round leaves a fresh dir untouched.
    _check_or_write_meta(
        state_path, {"k": k, "n_hashes": n_hashes, "bands": bands,
                     "threshold": threshold, "max_bucket": max_bucket}
    )
    state = read_signature_state(spark, state_path)
    cand = delta_candidate_pairs(banded, state, max_bucket=max_bucket)
    pairs = jaccard_verify(
        cand, corpus_df, id_col, text_col, k=k, threshold=threshold
    )
    pairs = materialize(pairs)  # compute before the state append mutates
    append_signatures(banded, state_path, run_id)
    return pairs


def dedup_extracted_changes(
    spark: SparkSession,
    table_path: str,
    state_path: str,
    from_snapshot: int,
    to_snapshot: int,
    run_id: str,
    partition_col: str = "batch_id",
    **round_kwargs,
) -> DataFrame:
    """The storage→dedup composition the 100-TB ingest actually runs: an
    incremental consumer reads ONLY the extraction-table partitions
    committed in (from_snapshot, to_snapshot]
    (io.read_extracted_changes — e.g. the batches a
    stream_extract_committed sink landed since the last dedup cursor),
    renders each new doc's markdown (pure JVM array algebra), and runs one
    incremental dedup round against the persisted signature state. The
    corpus for Jaccard verification is the table AS OF `to_snapshot`
    (verification semi-joins it to candidate ids, so only candidate docs'
    spans are ever rendered twice). Returns the verified delta pairs.

    Cursor discipline: callers advance from_snapshot to to_snapshot after
    a successful round; a cursor older than the table's expiry boundary
    raises in read_extracted_changes (stale-cursor loudness)."""
    from ..pipeline import render_markdown_col

    changed = tio.read_extracted_changes(
        spark, table_path, from_snapshot, to_snapshot,
        partition_col=partition_col,
    )
    new_docs = changed.filter("success").select(
        "doc_id", render_markdown_col().alias("text")
    )
    corpus = tio.read_extracted_as_of(
        spark, table_path, to_snapshot, partition_col=partition_col
    ).filter("success").select("doc_id", render_markdown_col().alias("text"))
    return incremental_dedup_round(
        spark, new_docs, corpus, state_path, run_id, **round_kwargs
    )


# --- incremental EMBEDDING near-dedup (r6c) ----------------------------------
#
# The third delta-ingest modality: minhash text dedup (above) and the IVF
# ANN index (ivf_index.py) both have O(delta) ingest shapes; this gives the
# same to embedding-cosine near-dup (similarity.embedding_near_dups). The
# persisted-state machinery is SHARED — an SRP bucket row is just
# (id, band, band_hash) with band = SRP table index — so append/read/
# candidate generation/maintenance (compact, merge, GC, expiry, sweep) all
# run unchanged over vector states.


def srp_banded_frame(
    vectors: DataFrame,
    dim: int,
    n_bits: int = 10,
    seed: int = 42,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, band_hash) for embeddings: band = SRP table index,
    band_hash = that table's signed-random-projection bucket — the
    embedding analog of dedup.minhash_banded_frame, shaped so the same
    state table machinery runs over vectors. n_tables=1 buckets exactly
    like similarity.embedding_near_dups; >1 unions independently-seeded
    tables for recall (each is one more Arrow-batched matmul pass over
    the DELTA only — old vectors are never re-bucketed)."""
    parts = [
        vectors.select(
            F.col(id_col).alias("id"),
            F.lit(t).alias("band"),
            make_srp_bucketer(dim, n_bits, seed + t)(
                F.col(vec_col)
            ).alias("band_hash"),
        )
        for t in range(n_tables)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return materialize(out)


def cosine_verify(
    candidates: DataFrame,
    vectors: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine verification of candidate pairs — the embedding
    jaccard_verify: the vector table is semi-joined down to candidate ids
    first (only candidate embeddings are ever read), then
    similarity.cosine_pairs scores each pair, as the batch
    embedding_near_dups does. Returns (id_a, id_b, sim) with
    sim ≥ threshold.

    The pair joins are INNER: a candidate id missing from `vectors` drops
    its pairs. That is the contract for REPLAY rounds, which verify
    against their own round's corpus and return a subset
    (test_embedding_delta_union_equals_full)."""
    candidates = materialize(candidates)
    cand_ids = (
        candidates.select(F.col("id_a").alias("cid"))
        .unionByName(candidates.select(F.col("id_b").alias("cid")))
        .distinct()
    )
    # spread (r7): the semi-join output inherits the vector scan's
    # partitioning (one task for a single-row-group local file); the
    # decision reads the vector table's partition count (skew.spread).
    v = spread(
        vectors.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        ).join(cand_ids, F.col("id") == F.col("cid"), "left_semi"),
        source=vectors,
    )
    v = materialize(
        v.withColumn("_nrm", _norm(F.col("vec").cast("array<double>"))))
    return cosine_pairs(candidates, v, threshold, dim)


def incremental_embedding_round(
    spark: SparkSession,
    new_vecs: DataFrame,
    corpus_vecs: DataFrame,
    state_path: str,
    run_id: str,
    dim: int,
    threshold: float = 0.95,
    n_bits: int = 10,
    seed: int = 42,
    n_tables: int = 1,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One embedding ingest round: SRP buckets for the new vectors only,
    delta candidates vs the persisted bucket state (the state is scanned
    narrow and never shuffled — delta_candidate_pairs), exact-cosine
    verification of candidates only, state append. Returns the verified
    delta pairs (id_a, id_b, sim); every pair touches a new vector.

    Equivalence contract = the minhash one (module docstring): with no
    bucket over max_bucket, the union of per-round pairs equals
    similarity.embedding_near_dups on the union corpus (n_tables=1), each
    pair emitted by the round ingesting max(a, b). Config is pinned in
    the state's meta — the `kind` field keeps an embedding state and a
    minhash state from ever silently mixing. Replay, crash and
    maintenance behavior are inherited verbatim from the shared machinery
    (append_signatures / gc via bands); an empty delta returns an empty
    (id_a, id_b, sim) frame like the minhash round's, state untouched."""
    banded = srp_banded_frame(
        new_vecs, dim, n_bits=n_bits, seed=seed, n_tables=n_tables,
        id_col=id_col, vec_col=vec_col,
    )
    if banded.isEmpty():
        return _empty_pairs(banded, "sim")
    _check_or_write_meta(
        state_path,
        {"kind": "srp", "dim": dim, "n_bits": n_bits, "seed": seed,
         "n_tables": n_tables, "threshold": threshold,
         "max_bucket": max_bucket},
    )
    state = read_signature_state(spark, state_path)
    cand = delta_candidate_pairs(banded, state, max_bucket=max_bucket)
    pairs = cosine_verify(cand, corpus_vecs, threshold, dim, id_col, vec_col)
    pairs = materialize(pairs)  # compute before the state append mutates
    append_signatures(banded, state_path, run_id)
    return pairs


# --- signature-state maintenance lifecycle (r5 verdict #1) -------------------
#
# The state table grows one `ingest_id=N` partition per round forever; at
# 100 TB its operational cost center is exactly the three ops below. All
# three commit through the same snapshot log as the data tables, so the
# whole lifecycle is observable with --list-snapshots/table_report.


def expire_signature_state(state_path: str, keep_last: int) -> list[int]:
    """Drop state snapshot history older than the last `keep_last`
    commits (io.expire_snapshots over the state's log). Bands are NEVER
    deleted — only log history — so dedup semantics are untouched; what
    shrinks is the replay-idempotence window of append_signatures:
    a round expired out of the log can no longer be recognized as
    already-committed, so retention must exceed the operator's retry
    horizon (same contract as Iceberg expireSnapshots vs. job retries)."""
    return tio.expire_snapshots(state_path, keep_last)


def compact_signature_state(
    spark: SparkSession,
    state_path: str,
    run_id: str,
) -> dict:
    """Rewrite each ingest partition's small files into one
    (io.compact_extracted with partition_col='ingest_id'), sorted by
    (band, band_hash, id) so
    parquet row-group min/max stats on the bucket key become tight — the
    delta round's touched-bucket probe then prunes row groups instead of
    reading whole ingest files. Rows are identical before and after
    ("replace" snapshot; incremental consumers unaffected), and replay
    idempotence survives because append_signatures checks run_ids against
    the log history, not the post-compaction ownership map. Run quiesced
    (no concurrent ingest), like any table compaction here."""
    if tio.latest_snapshot_id(state_path) == 0:
        raise ValueError(f"no signature state under {state_path}")
    return tio.compact_extracted(
        spark, state_path, run_id, partition_col="ingest_id"
    )


def merge_signature_state(
    spark: SparkSession,
    state_path: str,
    run_id: str,
) -> dict:
    """Collapse every committed ingest partition into ONE — the partition-
    count answer compact_signature_state does not give. Per-ingest file
    compaction keeps the directory count growing one partition per round
    forever; at 100 TB the state's touched-bucket probe eventually pays a
    footer read per ingest per round. After the merge the probe reads one
    partition with one file sorted on (band, band_hash, id), so row-group
    stats prune tightly.

    Semantics untouched: rows are identical (the bucket reps are min-id
    over unchanged ids), replay idempotence survives because
    append_signatures checks run_ids against log HISTORY, incremental
    consumers skip the "replace" snapshot, and gc_signature_state's
    dynamic overwrite works on the merged layout unchanged.

    Crash discipline = compact_ivf_index's: merged partition written
    first (an uncommitted orphan until its snapshot), then ONE atomic
    claim-and-de-own commit (snapshot_commit remove_partition_ids) — a
    crash at any point leaves only invisible, sweepable debris, never a
    double-visible row. Run quiesced.

    The de-owned source directories are NOT deleted here (r6b review:
    deleting them emptied time-travel reads at pre-merge snapshots and
    incremental consumers catching up across the merge, both of which
    still resolve those partition ids from retained history). They
    become reclaimable exactly when expire_snapshots has dropped every
    snapshot that references them; sweep_orphan_partitions' retained-
    history boundary then removes them — the Iceberg expireSnapshots →
    removeOrphanFiles split."""
    state = read_signature_state(spark, state_path)
    if state is None:
        raise ValueError(f"no signature state under {state_path}")
    snap = tio.find_run_snapshot(
        state_path, run_id, operation="replace", require_removal=True
    )
    if snap:
        return {"new_ingest": tio.claimed_partition(snap), "replayed": True}

    if state.isEmpty():
        # same contract as append_signatures' empty-frame refusal
        # (ADVICE r5 #1): a zero-row merged partition after de-owning the
        # sources would leave a tip>0 state with no readable files
        raise ValueError(
            f"merge_signature_state: state under {state_path} has no "
            "committed rows — nothing to merge"
        )
    owners = tio.owned_partitions(state_path)
    if len(owners) == 1:
        # already merged: a 1→1 rewrite would append another replace
        # snapshot and another historical directory per invocation (r6c
        # review: the CLI cannot replay a rerun AFTER success — its
        # tip-derived run_id changes once the merge commits — so this
        # noop is what makes repeated --merge-state idempotent). File
        # count within the one partition is compact_signature_state's
        # job, not merge's.
        return {"ingests_before": 1, "new_ingest": owners[0], "noop": True}
    new_pid = tio.next_partition_id(state_path)
    tio.write_new_partition(
        state.withColumn("ingest_id", F.lit(new_pid))
        .repartition(1)
        .sortWithinPartitions("band", "band_hash", "id"),
        state_path, new_pid, "ingest_id",
    )
    tio.snapshot_commit(
        state_path, run_id, [new_pid],
        operation="replace", remove_partition_ids=owners,
    )
    return {
        "ingests_before": len(owners),
        "new_ingest": new_pid,
        "deowned": owners,  # historical until expiry, then sweepable
    }


def gc_signature_state(
    spark: SparkSession,
    tombstones: DataFrame,
    corpus_df: DataFrame,
    state_path: str,
    run_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove tombstoned docs' bands from the state and return verified
    REPAIR pairs that preserve keep-first connectivity.

    Why bands of deleted docs cannot simply stay: a star-capped bucket
    links members only through its min-id rep; if the rep doc is later
    deleted from the corpus, future rounds' star pairs point at a ghost
    whose text Jaccard-verification can no longer read — live near-dups
    in that bucket silently disconnect. And they cannot simply be
    dropped either: PAST rounds' committed pairs also routed through the
    rep, so removing it splits the historical component.

    The repair: for every bucket that LOSES its rep (min removed id <
    min remaining id), re-point — star the remaining members on the new
    min-id rep, Jaccard-verify those candidates against the live corpus,
    and return them. Callers prune accumulated pairs touching tombstoned
    ids and union the repair pairs in; connected-component keep-sets
    then match a full re-run on the corpus-minus-tombstones
    (tests/test_state_lifecycle.py pins this, rep-tombstoned capped
    bucket included).

    Physical shape: only partitions CONTAINING tombstoned rows are
    rewritten (dynamic overwrite; a partition emptied entirely has its
    files removed explicitly — dynamic overwrite cannot write an empty
    partition), committed as an operation="delete" snapshot. Tombstone
    batches are delta-sized by assumption and broadcast; the state is
    scanned narrow and never shuffled. Config (k, threshold) comes from
    the state's pinned meta, so repair verification matches the rounds'.

    `tombstones` is a one-column DataFrame of deleted ids; `corpus_df`
    is the LIVE corpus (tombstones already removed).

    REPLAY-SAFE (r6b): the repair pairs, the rewritten partition list
    AND the tombstone ids are persisted under the state's `_gc/` dir
    (underscore-prefixed → invisible to Spark's file index, like
    `_snapshots`) BEFORE any rewrite, and a rerun of a committed run_id
    returns the pairs from there.
    Without this, a retry after the commit would recompute `removed` as
    EMPTY (the tombstoned rows are already gone) and return zero repair
    pairs — if the caller crashed before persisting the originals, the
    severed star links would be unrecoverable, since the post-GC state
    no longer knows which buckets lost their rep.

    The same persistence closes the crash window BETWEEN the partition
    rewrite and the delete commit (r6c review): a retry finds the
    persisted plan and RESUMES — re-applies the (idempotent) rewrite to
    exactly those partitions WITH THE PERSISTED TOMBSTONES (never the
    argument: nothing enforces that a retry passes the same batch) and
    commits — instead of recomputing from a half-rewritten state, which
    would see no tombstoned rows, skip the commit, and return an empty
    repair."""
    import hashlib

    meta = signature_state_meta(state_path)
    state = read_signature_state(spark, state_path)
    if meta is None or state is None:
        raise ValueError(f"no signature state under {state_path}")
    repair_dir = os.path.join(
        state_path, "_gc",
        f"repair-{hashlib.sha1(run_id.encode()).hexdigest()[:16]}",
    )
    pids_file = os.path.join(repair_dir, "_pids.json")
    if tio.find_run_snapshot(state_path, run_id, operation="delete"):
        if os.path.isdir(repair_dir):
            return spark.read.parquet(repair_dir)
        # committed delete whose repair dir is gone (removed, or a run
        # that never persisted one): fully applied, repair unknown
        raise ValueError(
            f"GC run '{run_id}' already committed to {state_path} "
            "but its repair pairs were not persisted (no _gc repair dir) — "
            "they cannot be recomputed from the post-GC state"
        )
    tomb = tombstones.toDF("id")
    if os.path.isfile(pids_file):
        # a prior attempt persisted its plan and crashed before the
        # delete commit — possibly mid-rewrite. Resume it: the repair
        # pairs, pid list AND tombstone ids were computed from the
        # PRE-rewrite state and are the one remaining record of it. The
        # persisted tombstones are used, NOT the argument (r6c review
        # #2: nothing enforces that a retry passes the same batch — a
        # wrong/empty frame would re-apply the rewrite with the wrong
        # tomb set, leaving ghost bands in not-yet-rewritten partitions
        # and then committing over them).
        with open(pids_file) as f:
            pids = json.load(f)
        repair = spark.read.parquet(repair_dir)
        tomb = spark.read.parquet(os.path.join(repair_dir, "_tombstones"))
        _apply_gc_rewrite(spark, state, tomb, state_path, pids)
        tio.snapshot_commit(state_path, run_id, pids, operation="delete")
        return repair

    # buckets that contained a tombstoned doc, with the smallest removed id
    removed = state.join(F.broadcast(tomb), "id", "left_semi")
    removed_min = removed.groupBy("band", "band_hash").agg(
        F.min("id").alias("_rm_min")
    )
    # surviving members of those buckets
    remaining = state.join(
        F.broadcast(removed_min.select("band", "band_hash")),
        ["band", "band_hash"],
        "left_semi",
    ).join(F.broadcast(tomb), "id", "left_anti")
    stats = remaining.groupBy("band", "band_hash").agg(
        F.min("id").alias("_rep"), F.count("*").alias("_n")
    )
    # repair only where the bucket's rep was lost and ≥2 members survive
    # (a conservative superset of the star-capped breakage: uncapped
    # buckets already hold all-pairs, so the extra verified pairs are
    # redundant-but-correct, never wrong)
    need = (
        stats.join(F.broadcast(removed_min), ["band", "band_hash"])
        .filter((F.col("_rm_min") < F.col("_rep")) & (F.col("_n") >= 2))
        .select("band", "band_hash", "_rep")
    )
    cand = (
        remaining.join(F.broadcast(need), ["band", "band_hash"])
        .filter(F.col("id") != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col("id").alias("id_b"))
        .distinct()
    )
    repair = jaccard_verify(
        cand, corpus_df, id_col, text_col,
        k=meta["k"], threshold=meta["threshold"],
    )
    repair = materialize(repair)  # compute before the rewrite below

    # rewrite only partitions that held tombstoned rows
    pids = sorted(
        r[0] for r in removed.select("ingest_id").distinct().collect()
    )
    if pids:
        if state.join(F.broadcast(tomb), "id", "left_anti").isEmpty():
            # the same brick mode append_signatures and
            # merge_signature_state refuse (r6c review): rmtree'ing every
            # ingest dir while committing a tip>0 delete snapshot leaves
            # a state read_signature_state can never read back (no
            # parquet files → no inferable schema), wedging every later
            # round. Tombstoning the whole corpus means the state is
            # DONE — drop the table, don't GC it.
            raise ValueError(
                f"gc_signature_state: tombstones cover every doc in the "
                f"state at {state_path} — refusing to empty it. Delete "
                "the state directory instead."
            )
        # persist the repair pairs AND the pid plan BEFORE the rewrite
        # and delete commit: the one record of the severed links (and of
        # which partitions were being rewritten) that a retry after a
        # crash anywhere past this point can still read — see the
        # replay note above. Overwrite handles a retry that crashed
        # between this write and the commit; the pids file is written
        # LAST, so its presence implies the repair parquet is complete.
        repair.write.mode("overwrite").parquet(repair_dir)
        # tombstones ride inside the repair dir (underscore subdir —
        # invisible to the replay path's spark.read of repair_dir),
        # parquet so the id type survives; pids_file is written LAST so
        # its presence implies the whole plan is complete
        tomb.write.mode("overwrite").parquet(
            os.path.join(repair_dir, "_tombstones")
        )
        # atomic publish (r7, ADVICE r6): a crash mid-write must leave the
        # pids file ABSENT (resume recomputes), never truncated (resume
        # would die in json.load forever).
        tio.replace_json(pids_file, pids)
        _apply_gc_rewrite(spark, state, tomb, state_path, pids)
        tio.snapshot_commit(state_path, run_id, pids, operation="delete")
    return repair


def _apply_gc_rewrite(
    spark: SparkSession,
    state: DataFrame,
    tomb: DataFrame,
    state_path: str,
    pids: list[int],
) -> None:
    """Rewrite the given ingest partitions minus tombstoned ids — the
    physical half of gc_signature_state, idempotent so the resume path
    can re-apply it over a half-rewritten state (already-clean
    partitions rewrite to themselves; already-removed dirs read as
    empty and rmtree is a no-op)."""
    import shutil

    keep_rows = state.filter(F.col("ingest_id").isin(pids)).join(
        F.broadcast(tomb), "id", "left_anti"
    )
    nonempty = {
        r[0] for r in keep_rows.select("ingest_id").distinct().collect()
    }
    if nonempty:
        tio.overwrite_partitions(keep_rows, state_path, "ingest_id")
    for pid in pids:
        if pid not in nonempty:
            # dynamic overwrite cannot write an empty partition; a
            # partition emptied entirely has its files removed explicitly
            shutil.rmtree(
                os.path.join(state_path, f"ingest_id={pid}"),
                ignore_errors=True,
            )
