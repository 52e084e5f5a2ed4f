"""Table-IO seam — Parquet now, Iceberg when a runtime catalog is present.

The north_rule targets Iceberg tables (snapshot commits, partition listing).
This sandbox ships no Iceberg runtime jar and has no network, so the seam
isolates every table operation behind functions whose Parquet implementation
emulates the needed semantics:

- `write_extracted` uses dynamic partition overwrite (the Parquet analog of
  Iceberg `overwritePartitions()`): re-running a partition replaces its files
  instead of duplicating them → idempotent per-partition commits.
- a commit runs data write → `snapshot_commit` → `append_lineage`. A crash
  after the data write re-processes the partition on resume (safe under
  overwrite semantics); a crash between snapshot and lineage leaves a
  snapshot-owned partition with no lineage row, which
  `pipeline.reconcile_committed` treats as committed and heals.

Every snapshot-committed table (extraction output, streaming sink, dedup
signature states, IVF index) runs the same commit protocol, and its steps
live here only: claim a partition id (`next_partition_id`, replay via
`find_run_snapshot`), write it (`write_new_partition` /
`overwrite_partitions`), publish (`snapshot_commit`, `publish_exclusive` for
pinned side files), read committed partitions only (`owned_partitions`,
`read_extracted_as_of`).

With an Iceberg catalog configured, swap these for `writeTo(...).overwrite...`
/ `.append()`; nothing else in the engine changes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import DOCUMENTS_SCHEMA, LINEAGE_SCHEMA


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan the documents table with the declared schema (never inferred)."""
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, *partition_cols: str
) -> None:
    """Dynamic partition overwrite: only the partitions present in `df` are
    replaced; every other partition under `path` is untouched."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_new_partition(
    df: DataFrame, path: str, pid: int, *partition_cols: str
) -> None:
    """Write a partition the log does not own yet: every row of `df` carries
    `partition_cols[0] == pid`. The target dir is cleared first. Dynamic
    overwrite alone is keyed on ALL partition columns, so with a nested
    layout (`ingest_id=N/cell=M`) a crashed earlier writer's sub-dirs that
    `df` does not cover would survive and be committed with it; any
    sub-dir debris under a flat key survives the same way. The clear only
    ever removes debris: a claimed id is uncommitted by construction
    (writers replay through the log before they reach a write)."""
    shutil.rmtree(
        os.path.join(path, f"{partition_cols[0]}={pid}"), ignore_errors=True
    )
    overwrite_partitions(df, path, *partition_cols)


def write_extracted(df: DataFrame, path: str) -> None:
    """Per-partition idempotent write: only partitions present in `df` are
    replaced; previously committed partitions are untouched."""
    overwrite_partitions(df, path, "partition_id")


def read_extracted(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def append_lineage(df: DataFrame, path: str) -> None:
    df.write.mode("append").parquet(path)


def read_lineage(spark: SparkSession, path: str) -> DataFrame | None:
    """The lineage table, or None when there is none yet. A missing path is
    decided here, not by a failing Spark read: that read logs a listener
    stack trace on every first run."""
    if not os.path.exists(path):
        return None  # first run: no lineage table yet
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    except Exception:
        return None  # unreadable table


# --- snapshot log (Iceberg snapshot-commit / time-travel emulation) ----------
#
# Iceberg's core read contract: a snapshot is an immutable view of the table;
# readers pin a snapshot id and never see partial commits; `VERSION AS OF n`
# reads history. This emulation keeps an append-only JSON log under
# `<table>/_snapshots/` — one file per commit. Each file stores the DELTA
# (this commit's partition_id → run_id claims) and the `operation`; every
# CHECKPOINT_EVERY-th snapshot additionally embeds the full cumulative
# `partitions` map (snapshot 1 needs none: its delta is its full map), so
# state reconstruction folds at most CHECKPOINT_EVERY delta files from the
# nearest checkpoint. Commits read NO snapshot files except on checkpoint
# commits (amortized O(1)); the snapshot id is claimed from a directory
# listing. Every log walk reads through `_records`, which refuses a record
# without a delta instead of folding it.
# The time-travel read prunes partitions on the physical partition column at
# file-listing time, exactly like Iceberg manifest pruning. With a real
# catalog these functions become `writeTo(...).append()` /
# `table.snapshots()` / `VERSION AS OF`; nothing else in the engine changes.

CHECKPOINT_EVERY = 32


def _snapshot_dir(table_path: str) -> str:
    return os.path.join(table_path, "_snapshots")


def _read_snap(d: str, snapshot_id: int) -> dict:
    """One log record. A record without `delta` or `operation` was not
    written by `snapshot_commit`: it is refused, never folded as some other
    layout."""
    with open(os.path.join(d, f"snap-{snapshot_id:08d}.json")) as f:
        rec = json.load(f)
    missing = [k for k in ("delta", "operation") if k not in rec]
    if missing:
        raise ValueError(
            f"snapshot {snapshot_id} in {d} has no {'/'.join(missing)}: "
            "not a record this engine writes"
        )
    return rec


def _snapshot_ids(table_path: str) -> list[int]:
    """Existing snapshot ids, sorted — one directory listing, no reads."""
    d = _snapshot_dir(table_path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(name[5:13])
        for name in os.listdir(d)
        if name.startswith("snap-") and name.endswith(".json")
    )


def latest_snapshot_id(table_path: str) -> int:
    """Highest committed snapshot id, 0 if none — one directory listing,
    zero file reads (ids are dense, so max(name) is the tip)."""
    ids = _snapshot_ids(table_path)
    return ids[-1] if ids else 0


def _records(table_path: str, ids: Iterable[int]) -> Iterator[tuple[int, dict]]:
    """(id, record) for each snapshot id in `ids`, in the order given —
    the one reader every log walk goes through. A missing id raises
    ValueError naming it."""
    d = _snapshot_dir(table_path)
    for sid in ids:
        try:
            rec = _read_snap(d, sid)
        except FileNotFoundError:
            raise ValueError(f"no snapshot {sid} under {table_path}") from None
        yield sid, rec


def _start_map(table_path: str, sid: int, rec: dict) -> dict[str, str]:
    """The full ownership map at the first record of a walk: a checkpoint
    embeds it, and snapshot 1's delta is it (folded, never dict()'d, so a
    de-own entry cannot leak in as an owned partition). Any other record
    cannot start a fold."""
    if "partitions" in rec:
        return dict(rec["partitions"])
    if sid != 1:
        raise ValueError(
            f"snapshot {sid} under {table_path} is neither a checkpoint "
            "nor snapshot 1: no fold can start there"
        )
    parts: dict[str, str] = {}
    _fold_delta(parts, rec["delta"])
    return parts


def _fold_delta(parts: dict, delta: dict) -> None:
    """Fold one snapshot's delta into a cumulative ownership map. A None
    run_id DE-OWNS the partition (the Iceberg delete-manifest analog):
    it leaves the map, committed-only readers stop listing it, and —
    once no retained snapshot references it any more (expire_snapshots
    past the de-own) — sweep_orphan_partitions may reclaim its
    directory. Everything else is an upsert, exactly as before the
    removal extension."""
    for p, r in delta.items():
        if r is None:
            parts.pop(p, None)
        else:
            parts[p] = r


def partitions_as_of(table_path: str, snapshot_id: int) -> dict[str, str]:
    """Cumulative {partition_id: owning run_id} AS OF a snapshot, folding
    deltas forward from the nearest checkpoint at or below it — reads at
    most CHECKPOINT_EVERY + 1 files regardless of log length. Raises
    ValueError if the snapshot, or a log file its fold needs, is missing."""
    if snapshot_id < 1:
        raise ValueError(f"no snapshot {snapshot_id} under {table_path}")
    start = max((snapshot_id // CHECKPOINT_EVERY) * CHECKPOINT_EVERY, 1)
    recs = _records(table_path, range(start, snapshot_id + 1))
    parts = _start_map(table_path, *next(recs))
    for _sid, rec in recs:
        _fold_delta(parts, rec["delta"])
    return parts


def owned_partitions(table_path: str) -> list[int]:
    """Sorted partition ids the log's tip owns — what a committed-only
    reader may see; [] before the first commit."""
    tip = latest_snapshot_id(table_path)
    if not tip:
        return []
    return sorted(int(p) for p in partitions_as_of(table_path, tip))


def next_partition_id(table_path: str) -> int:
    """The id a writer claims for a new partition: one past the highest
    owned id (0 for a fresh table). Every table that grows one partition
    per round (signature states, the IVF index, their N-into-1 rewrites)
    allocates here. Two drivers appending to one table at the same tip
    pick the same id, and dynamic overwrite lets one silently replace the
    other's rows: appends to one table must not run concurrently until
    this allocation reserves the id."""
    return max(owned_partitions(table_path), default=-1) + 1


def count_parquet_files(table_path: str, partition_col: str,
                        pids: list[int]) -> int:
    """Parquet files under the given `partition_col=N` dirs, nested
    sub-partitions included — the compaction before/after figure."""
    n = 0
    for pid in pids:
        pdir = os.path.join(table_path, f"{partition_col}={pid}")
        for _root, _dirs, files in os.walk(pdir):
            n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def publish_exclusive(path: str, data: bytes) -> bool:
    """Create `path` holding `data` only if it does not exist yet — the
    claim primitive behind snapshot commits and pinned side files. The
    bytes go to a uniquely named tmp file beside it (uuid: a pid alone is
    not unique across threads of one driver, and a shared tmp name lets a
    concurrent writer truncate the inode between write and link), then
    `os.link` publishes it: atomic and create-exclusive on POSIX, so
    readers never see a half-written file. Returns True when this call
    created the file, False when another writer got there first; the
    caller decides what a lost race means."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def read_meta(table_path: str, name: str) -> dict | None:
    """A table's pinned JSON side file (`_dedup_meta.json`,
    `_ivf_meta.json`), None while it is absent."""
    try:
        with open(os.path.join(table_path, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def snapshots(table_path: str) -> list[dict]:
    """Full history, oldest first, each record carrying its cumulative
    `partitions` map (reconstructed in ONE pass over the log):
    {snapshot_id, parent_id, run_id, committed_ms, delta, operation,
    partitions}. O(n) by nature — for the common 'what is committed now'
    question use `latest_snapshot_id` + `partitions_as_of` instead."""
    ids = _snapshot_ids(table_path)
    if not ids:
        return []
    # walk from the min EXISTING id: its record must carry full state (a
    # checkpoint, or snapshot 1) — expire_snapshots guarantees this
    recs = _records(table_path, range(ids[0], ids[-1] + 1))
    sid, rec = next(recs)
    parts = _start_map(table_path, sid, rec)
    rec["partitions"] = dict(parts)
    snaps = [rec]
    for _sid, rec in recs:
        _fold_delta(parts, rec["delta"])
        rec["partitions"] = dict(parts)
        snaps.append(rec)
    return snaps


def retained_partitions(table_path: str) -> set[str]:
    """Partition ids referenced by ANY retained (readable) snapshot — the
    reclaim boundary for sweep_orphan_partitions and the debris line in
    table_report. A partition de-owned at the tip (the claim-and-de-own
    "replace" commits of merge_signature_state / compact_ivf_index) must
    stay on disk while older retained snapshots still resolve it: time
    travel at a pre-merge snapshot and incremental consumers catching up
    across the merge both read those directories. Only after
    expire_snapshots drops that history does the id leave this set and
    become sweepable — Iceberg's expireSnapshots → removeOrphanFiles
    split, at partition granularity. One O(retained-log) driver-side
    pass; maintenance-only (reads stay on latest_snapshot_id +
    partitions_as_of)."""
    ids = _snapshot_ids(table_path)
    if not ids:
        return set()
    # one raw pass, no per-record cumulative-map copies: the union over
    # retained snapshots = the first retained record's full key set plus
    # every CLAIM key in later deltas (a de-own never shrinks it — the
    # earlier retained snapshot still references the id; an upsert only
    # adds)
    recs = _records(table_path, range(ids[0], ids[-1] + 1))
    seen = set(_start_map(table_path, *next(recs)))
    for _sid, rec in recs:
        seen.update(p for p, r in rec["delta"].items() if r is not None)
    return seen


def find_run_snapshot(
    table_path: str,
    run_id: str,
    operation: str = "append",
    require_removal: bool = False,
) -> dict | None:
    """The claim-and-replay discipline in ONE place (r6b review: five
    slightly-diverged inline copies): scan RETAINED history for a
    snapshot committed by `run_id` with the given operation and return
    its record, None if absent. A hit means "this round already
    committed" — the caller reports `claimed_partition(hit)` and writes
    nothing. `require_removal=True` additionally demands a de-own entry
    (merge/compaction commits carry them; a plain rewrite does not).

    The expiry boundary contract: only retained history is scanned, so
    replay idempotence holds exactly as long as retention exceeds the
    retry horizon — replaying a round whose snapshot has been EXPIRED
    re-executes it (documented at append_signatures and pinned by
    test_expiry_window_and_boundary)."""
    # raw newest-first scan: this runs at the START of every
    # append/merge/GC round and only reads run_id/operation/delta. run_ids
    # commit at most once (that is what this gate enforces), so first
    # match wins.
    for _sid, rec in _records(table_path, reversed(_snapshot_ids(table_path))):
        if rec["run_id"] != run_id or rec["operation"] != operation:
            continue
        if require_removal and None not in rec["delta"].values():
            continue
        return rec
    return None


def claimed_partition(snap: dict) -> int:
    """Smallest partition id CLAIMED (not de-owned) by a snapshot — the
    ingest id a replayed round reports without re-writing anything."""
    return min(int(p) for p, r in snap["delta"].items() if r is not None)


def snapshot_commit(
    table_path: str, run_id: str, partition_ids: list[int],
    operation: str = "append",
    remove_partition_ids: list[int] | None = None,
) -> dict:
    """Append one snapshot claiming `partition_ids` for `run_id` (replacing
    any prior owner — dynamic-overwrite semantics). Returns the new record.

    `remove_partition_ids` DE-OWNS partitions in the same atomic commit
    (recorded as None-valued delta entries; see _fold_delta): the one-step
    swap an N-into-1 rewrite needs — claim the merged partition and drop
    the N sources so no snapshot ever shows both. De-owned directories
    become invisible to committed-only readers immediately; they stay on
    disk for time travel until expire_snapshots drops the history that
    references them, after which sweep_orphan_partitions reclaims them.

    `operation` is the Iceberg snapshot-operation analog: "append" for
    commits that add/change ROWS, "replace" for row-preserving file
    rewrites (compaction). Incremental scans skip "replace" claims —
    a consumer must not reprocess the whole table because its files were
    rearranged — while ownership folds (partitions_as_of) include them.

    Cost: one directory listing per attempt; zero snapshot-file reads except
    on checkpoint commits (every CHECKPOINT_EVERY-th id embeds the folded
    cumulative map → ≤ CHECKPOINT_EVERY + 1 reads, amortized O(1)/commit).

    Concurrency: optimistic, Iceberg-style. The snapshot file is published
    with `publish_exclusive` (atomic create-exclusive): if a concurrent
    writer already claimed the same snapshot_id, the publish fails and we
    retry on top of the new tip — neither commit is lost (r3 review #4: a
    plain tmp+os.replace silently clobbered the loser). Readers never
    observe a half-written file."""
    d = _snapshot_dir(table_path)
    for _ in range(50):
        parent_id = latest_snapshot_id(table_path)
        sid = parent_id + 1
        delta = {str(int(pid)): run_id for pid in partition_ids}
        for pid in remove_partition_ids or []:
            key = str(int(pid))
            if key in delta:
                raise ValueError(
                    f"snapshot_commit: partition {key} both claimed and "
                    "removed in one commit"
                )
            delta[key] = None
        snap = {
            "snapshot_id": sid,
            "parent_id": parent_id or None,
            "run_id": run_id,
            "committed_ms": int(time.time() * 1000),
            "delta": delta,
            "operation": operation,
        }
        if sid % CHECKPOINT_EVERY == 0:
            parts = partitions_as_of(table_path, parent_id)
            _fold_delta(parts, delta)  # checkpoints embed the FOLDED map:
            snap["partitions"] = parts  # no None tombstones survive here
        final = os.path.join(d, f"snap-{sid:08d}.json")
        if publish_exclusive(final, json.dumps(snap).encode()):
            return snap
        # lost the race: re-list the log, retry on the new parent
    raise RuntimeError(
        f"snapshot_commit: could not claim a snapshot id under {d} "
        "after 50 attempts"
    )


def changed_partitions_between(
    table_path: str, from_snapshot: int, to_snapshot: int
) -> dict[str, str]:
    """Partitions whose ownership changed in (from_snapshot, to_snapshot]
    — the Iceberg incremental-scan analog, {partition_id: new owning
    run_id}: the claims of every non-"replace" snapshot in the interval,
    read from the delta files of that interval only. from_snapshot=0
    means 'since the beginning'."""
    if to_snapshot < from_snapshot:
        raise ValueError(
            f"to_snapshot {to_snapshot} < from_snapshot {from_snapshot}"
        )
    # validate the cursor even for empty intervals: a stale/bogus
    # to_snapshot must raise, not silently report "no changes"
    # (r4 review pass 2, #2)
    if to_snapshot > latest_snapshot_id(table_path):
        raise ValueError(f"no snapshot {to_snapshot} under {table_path}")
    changed: dict[str, str] = {}
    for _sid, rec in _records(
        table_path, range(from_snapshot + 1, to_snapshot + 1)
    ):
        # "replace" snapshots (compaction) rearrange files but preserve
        # rows — invisible to data-level incremental consumers (the
        # Iceberg incremental scan reads appends only); removals (None)
        # are ownership events, not row changes. Ownership folds still
        # include both via partitions_as_of.
        if rec["operation"] != "replace":
            changed.update(
                {p: r for p, r in rec["delta"].items() if r is not None}
            )
    return changed


def read_extracted_changes(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int,
    partition_col: str = "partition_id",
) -> DataFrame:
    """Incremental read: rows of partitions committed or rewritten in
    (from_snapshot, to_snapshot] — what a downstream incremental consumer
    (index refresh, dedup delta pass) processes instead of the full table.
    Same physical partition-column pruning as read_extracted_as_of.

    Same emulation honesty bound as read_extracted_as_of: under the
    pipeline's write-once discipline a changed partition's current files
    ARE its state as of to_snapshot, so the incremental read is exact."""
    pids = [
        int(p)
        for p in changed_partitions_between(path, from_snapshot, to_snapshot)
    ]
    return spark.read.parquet(path).filter(F.col(partition_col).isin(pids))


def expire_snapshots(table_path: str, keep_last: int) -> list[int]:
    """Iceberg `expireSnapshots` analog: drop history older than the last
    `keep_last` snapshots, keeping every retained id readable. Returns the
    expired ids (oldest first).

    A snapshot file may only be deleted if NO retained id's state fold
    starts at or below it: the fold for id s starts at its nearest
    checkpoint (max multiple of CHECKPOINT_EVERY ≤ s, or 1), so the delete
    boundary is the fold start of the OLDEST retained id. Expired ids
    become unreadable (partitions_as_of raises), exactly like Iceberg."""
    if keep_last < 1:
        raise ValueError("keep_last must be ≥ 1")
    tip = latest_snapshot_id(table_path)
    if tip == 0:
        return []
    oldest_retained = max(tip - keep_last + 1, 1)
    boundary = max(
        (oldest_retained // CHECKPOINT_EVERY) * CHECKPOINT_EVERY, 1
    )
    d = _snapshot_dir(table_path)
    expired = []
    for sid in range(1, boundary):
        f = os.path.join(d, f"snap-{sid:08d}.json")
        try:
            os.unlink(f)  # tolerant of concurrent expiry (review pass 2, #4)
            expired.append(sid)
        except FileNotFoundError:
            pass
    return expired


def sweep_orphan_partitions(
    table_path: str,
    older_than_s: float = 72 * 3600,
    partition_col: str | None = None,
) -> list[str]:
    """Iceberg `remove_orphan_files` analog at partition granularity:
    delete `key=N` directories present on disk but absent from EVERY
    retained snapshot's ownership map — the debris of a writer that died
    between its parquet write and its snapshot_commit, or partitions
    de-owned by a merge/compaction whose pre-merge history has since
    been expired. Reads already exclude such partitions
    (read_extracted_as_of, read_signature_state, read_ivf_index all
    filter to committed ids); the sweep reclaims the disk. Also removes
    a stale Spark `_temporary` staging dir (a write that died mid-job).
    Returns the removed partition suffixes.

    The reclaim boundary is `retained_partitions` — the UNION over all
    retained snapshots — not the tip's ownership map (r6b review: using
    the tip deleted merge-de-owned sources that older retained
    snapshots still referenced, silently emptying time-travel and
    catch-up incremental reads spanning the merge). To reclaim a
    merge's sources, first expire_snapshots past the merge commit, then
    sweep.

    The age guard is the correctness core: a partition younger than
    `older_than_s` (newest mtime anywhere under it) may belong to an
    IN-FLIGHT append whose commit lands milliseconds after the listing —
    deleting it would let that commit record ownership of vanished
    files. Iceberg's remove_orphan_files defaults to 3 days for the same
    race; keep retention above the longest plausible write→commit gap.
    Runs driver-side only (os.walk over one table root — no Spark job).
    """
    if not os.path.isdir(table_path):
        return []
    if partition_col is None:
        partition_col = detect_partition_col(table_path)
    tip = latest_snapshot_id(table_path)
    if tip == 0:
        # no snapshot log → no ownership map → EVERY partition would
        # classify as an orphan and the sweep would delete the whole
        # table (plain partitioned parquet with no log reaches here via
        # detect_partition_col).
        # Loud refusal over guessing, like every maintenance op here.
        raise ValueError(
            f"sweep_orphan_partitions: no snapshot log under "
            f"{table_path} — without one there is no committed/orphan "
            "distinction and sweeping would delete every partition"
        )
    owned = retained_partitions(table_path)
    cutoff = time.time() - older_than_s

    def _mtime(p: str) -> float:
        # a live writer churns files under _temporary/ between the walk's
        # listing and this stat; a vanished entry is simply not the newest
        try:
            return os.path.getmtime(p)
        except OSError:
            return 0.0

    def newest_mtime(root: str) -> float:
        newest = _mtime(root)
        for dirpath, dirnames, filenames in os.walk(root):
            for n in dirnames + filenames:
                newest = max(newest, _mtime(os.path.join(dirpath, n)))
        return newest

    swept = []
    for name in sorted(os.listdir(table_path)):
        full = os.path.join(table_path, name)
        if name == "_temporary" and os.path.isdir(full):
            if newest_mtime(full) < cutoff:
                shutil.rmtree(full, ignore_errors=True)
                swept.append(name)
            continue
        if not (os.path.isdir(full) and name.startswith(f"{partition_col}=")):
            continue
        suffix = name.split("=", 1)[1]
        if suffix in owned:
            continue
        if newest_mtime(full) >= cutoff:
            continue  # age guard: possibly an in-flight append
        shutil.rmtree(full, ignore_errors=True)
        swept.append(suffix)
    return swept


def detect_partition_col(path: str) -> str:
    """Inspect the table's top-level `key=` directories and return the
    physical partition column ("partition_id" for batch-pipeline tables,
    "batch_id" for streaming-committed tables). Raises on a mixed or
    unrecognized layout rather than guessing."""
    keys = set()
    if os.path.isdir(path):
        for name in os.listdir(path):
            if "=" in name and os.path.isdir(os.path.join(path, name)):
                keys.add(name.split("=", 1)[0])
    if not keys:
        return "partition_id"  # empty/new table: batch-pipeline default
    if len(keys) > 1:
        raise ValueError(
            f"mixed partition layouts {sorted(keys)} under {path}; "
            "compact/report cannot pick a partition column"
        )
    key = keys.pop()
    if key not in ("partition_id", "batch_id", "ingest_id"):
        raise ValueError(
            f"unrecognized partition layout '{key}=' under {path}; "
            "this engine's tables partition on partition_id (batch "
            "pipeline), batch_id (streaming sink) or ingest_id "
            "(dedup signature state) — refusing to guess"
        )
    return key


def compact_extracted(
    spark: SparkSession,
    path: str,
    run_id: str,
    partition_ids: list[int] | None = None,
    partition_col: str | None = None,
) -> dict:
    """Small-file compaction — the Iceberg `rewriteDataFiles` analog and
    the 100-TB answer to streaming/many-task writes that leave partitions
    with hundreds of tiny parquet files (each file costs a task + a
    footer read at scan time; the optimal file is 100 MB–1 GB).

    Rewrites the given partitions (default: every partition committed as
    of the latest snapshot) into one file each via repartition on the
    partition column + dynamic overwrite, then commits a snapshot
    claiming the rewritten partitions for `run_id`. Row content is
    IDENTICAL before and after, so earlier snapshots' time-travel reads
    still return the same rows — only the file layout changed (the
    Parquet-emulation honesty note: real Iceberg would keep the old files
    for old snapshots; here old snapshots see the same rows in new
    files). Returns {partitions, files_before, files_after}.

    Rows are sorted WITHIN each output file — the Iceberg
    sort-order-rewrite analog: parquet row-group min/max statistics on
    the sort key become tight, so point lookups and range scans on it
    prune row groups instead of reading whole files. The sort key follows
    the layout: `doc_id` for data tables, `(band, band_hash, id)` for
    ingest_id-partitioned signature-state tables (tight stats on the
    bucket key let the delta round's touched-bucket probe prune row
    groups).

    `partition_col` defaults to auto-detect from the physical layout:
    "partition_id" for batch-pipeline tables, "batch_id" for
    stream_extract_committed tables (flat: partition_id is a stored
    column), "ingest_id" for signature states. This rewrite is
    single-level, so a table that nests partition dirs under its key
    (the IVF index's `ingest_id=N/cell=M`) is refused rather than
    flattened. Compact a streaming table only when QUIESCED: the
    rewritten batch ids are re-claimed under this `run_id`, so a crashed
    in-flight batch replayed after compaction fails loudly on the sink's
    identity guard instead of clobbering rewritten files.
    """
    if partition_col is None:
        partition_col = detect_partition_col(path)
    sort_cols = (
        ("band", "band_hash", "id")
        if partition_col == "ingest_id"
        else ("doc_id",)
    )
    if partition_ids is None:
        partition_ids = owned_partitions(path)
        if not partition_ids:
            raise ValueError(
                f"no committed partitions under {path}: nothing to compact"
            )
    pids = [int(p) for p in partition_ids]
    if partition_col != "partition_id":
        # nested second-level partitioning under the primary key:
        inner_keys = {
            inner.split("=", 1)[0]
            for name in os.listdir(path)
            if name.startswith(f"{partition_col}=")
            and os.path.isdir(os.path.join(path, name))
            for inner in os.listdir(os.path.join(path, name))
            if "=" in inner
            and os.path.isdir(os.path.join(path, name, inner))
        }
        # the IVF index nests ingest_id=N/cell=M where `cell` is a LIVE
        # pruning dimension (probes prune cell dirs at listing time); this
        # single-level rewrite would flatten it and silently destroy probe
        # pruning — refuse any nested layout
        if inner_keys:
            raise ValueError(
                f"table {path} nests {sorted(inner_keys)} under "
                f"{partition_col}=; compact_extracted would flatten that "
                "layout and destroy its partition pruning — refusing "
                "(the IVF index table keeps cell= as a live probe-pruning "
                "dimension; use operators.ivf_index.compact_ivf_index / "
                "job.py --compact-index, which preserves it)"
            )

    files_before = count_parquet_files(path, partition_col, pids)
    # one output file per partition: repartition on the partition column so
    # each task writes exactly one partition's file — no cross-partition
    # file fragments
    compacted = (
        spark.read.parquet(path)
        .filter(F.col(partition_col).isin(pids))
        .repartition(len(pids), partition_col)
        .sortWithinPartitions(partition_col, *sort_cols)
    )
    overwrite_partitions(compacted, path, partition_col)
    snapshot_commit(path, run_id, pids, operation="replace")
    return {
        "partitions": len(pids),
        "partition_col": partition_col,
        "files_before": files_before,
        "files_after": count_parquet_files(path, partition_col, pids),
    }


def table_report(path: str) -> dict:
    """Driver-side maintenance report: per-partition file count + bytes,
    totals, and snapshot-log depth — what an operator checks before
    deciding to compact or expire. Pure filesystem walk, no Spark job."""
    parts = {}
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if "=" not in name:
                continue
            pdir = os.path.join(path, name)
            if not os.path.isdir(pdir):
                continue
            # recursive walk: the IVF index nests ingest_id=N/cell=M
            n_files, n_bytes = 0, 0
            for root, _dirs, files in os.walk(pdir):
                for f in files:
                    if f.endswith(".parquet"):
                        n_files += 1
                        n_bytes += os.path.getsize(os.path.join(root, f))
            parts[name] = {"files": n_files, "bytes": n_bytes}
    # orphan = on disk but absent from EVERY retained snapshot (writer died
    # before its commit, or merge sources whose history has been expired) —
    # sweep_orphan_partitions has work to do. historical = de-owned at the
    # tip but still referenced by retained history (merge/compaction
    # sources): kept for time travel, reclaimable only after expiry.
    tip = latest_snapshot_id(path)
    owned_tip = {str(p) for p in owned_partitions(path)}
    retained = retained_partitions(path) if tip else set()
    orphans = sorted(
        name for name in parts if name.split("=", 1)[1] not in retained
    ) if tip else []
    historical = sorted(
        name for name in parts
        if name.split("=", 1)[1] in retained
        and name.split("=", 1)[1] not in owned_tip
    ) if tip else []
    return {
        "partitions": len(parts),
        "total_files": sum(p["files"] for p in parts.values()),
        "total_bytes": sum(p["bytes"] for p in parts.values()),
        "max_files_per_partition": max(
            (p["files"] for p in parts.values()), default=0
        ),
        "snapshots": tip,
        "orphan_partitions": orphans,
        "historical_partitions": historical,
        "by_partition": parts,
    }


def read_extracted_as_of(
    spark: SparkSession,
    path: str,
    snapshot_id: int,
    partition_col: str = "partition_id",
) -> DataFrame:
    """Time-travel read: only partitions present in the table AS OF the
    given snapshot. The filter is on the physical partition column, so it
    prunes at file-listing time (shown as PartitionFilters in the scan) —
    no data files of later partitions are opened.

    Honesty bound of the emulation: Parquet dynamic overwrite REPLACES a
    rewritten partition's files (Iceberg would retain the old ones), so
    time travel is sound only under the pipeline's write-once-per-
    partition commit discipline (resume skips committed partitions — as
    recorded by lineage OR the snapshot log, so a crash between
    snapshot_commit and append_lineage never leads to a rewrite; see
    pipeline.run_extraction's reconcile step). A real catalog lifts this.
    """
    pids = [int(p) for p in partitions_as_of(path, snapshot_id)]
    return spark.read.parquet(path).filter(F.col(partition_col).isin(pids))
