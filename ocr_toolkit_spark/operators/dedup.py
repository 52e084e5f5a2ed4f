"""Deduplication operators for large-scale training-data pipelines.

All scale paths are shuffle-aware DataFrame compositions:

- exact: hash-groupBy on md5(text) — one shuffle, map-side partial agg.
- normalized: same after canonical text normalization (casefold, strip
  punctuation, collapse whitespace).
- MinHash + LSH: shingle → per-seed min of xxhash64 → band buckets →
  self-join on (band, band_hash) → verified Jaccard. The self-join is on
  bucket keys, never all-pairs; band count trades recall vs join fan-out.
- SimHash: 64-bit signature via a vectorized Arrow-batched pandas UDF
  (NumPy bit ops — the per-bit aggregate is not efficiently expressible in
  column algebra); near-dups = identical signatures or Hamming ≤ r by
  bucketed join on signature chunks (band = chunk index, band_hash =
  chunk value).
- Both bucket frames go through the one candidate generator,
  skew.delta_candidate_pairs over an empty state; verification joins its
  payload (shingles, signatures) back by id.
- n-gram Jaccard verification for candidate pairs via array_intersect /
  array_union sizes (JVM-side).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .skew import (
    DEFAULT_MAX_BUCKET,
    broadcast_build_fits,
    delta_candidate_pairs,
    materialize,
    spread,
)

# conservative per-row estimate for the SimHash verify's broadcast
# decision (r7): pieces row = (id, sig, band, band_hash) longs, padded
# generously for JVM row overhead.
PIECES_ROW_BYTES = 72


# --- exact / normalized ------------------------------------------------------


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row summary: total docs, distinct texts, duplicate docs."""
    h = F.md5(F.col(text_col))
    return df.select(h.alias("h")).agg(
        F.count("*").alias("total_docs"),
        F.countDistinct("h").alias("distinct_texts"),
        (F.count("*") - F.countDistinct("h")).alias("duplicate_docs"),
    )


def normalize_text(t: Column) -> Column:
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), r"[^a-z0-9一-鿿]+", " "),
            r"\s+",
            " ",
        )
    )


# --- shingles / MinHash LSH ---------------------------------------------------


def tokens_col(t: Column) -> Column:
    """Lowercased whitespace tokens — the shared tokenizer of the dedup ops."""
    return F.split(F.trim(F.lower(t)), r"\s+")


def shingles_from_tokens(tokens: Column, k: int = 5, distinct: bool = True) -> Column:
    """Word k-shingles from an ALREADY-MATERIALIZED token array column.

    `tokens` must be a plain column reference (not the split expression):
    the transform lambda references it once per shingle, and Catalyst does
    not CSE an outer expression into a lambda body — passing the raw
    `split(...)` expression re-runs the regex split PER SHINGLE (measured
    r3: 7× the whole pipeline cost at sf0.1). Use `shingle_frame`.

    `distinct=True` (set semantics) for Jaccard's array set algebra;
    the MinHash signature path passes False — min() is insensitive to
    duplicates, so the array_distinct pass is pure waste there."""
    n = F.size(tokens)
    arr = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, k)),
    )
    if distinct:
        arr = F.array_distinct(arr)
    return F.when(n >= k, arr).otherwise(F.array(F.concat_ws(" ", tokens)))


def shingle_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    distinct: bool = True,
) -> DataFrame:
    """(id, sh) with the token split in its OWN projection. CollapseProject
    keeps a multiply-referenced non-cheap alias in a separate project, so
    the regex split runs once per document instead of once per shingle
    (the plan shows exactly one `split(`)."""
    tok = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("_toks")
    )
    return tok.select(
        "id", shingles_from_tokens(F.col("_toks"), k, distinct).alias("sh")
    )


def exploded_shingle_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    distinct: bool = False,
) -> DataFrame:
    """(id, sh) one row per shingle, with the explode FUSED into the select
    that consumes the token column.

    Exploding `shingle_frame(...).select(explode("sh"))` instead is a
    measured 6× regression: InferFiltersFromGenerate synthesizes a
    `size(sh) > 0` filter under the Generate and predicate pushdown
    re-inlines the whole shingle-transform (split per shingle) into it.
    With the explode fused, the inferred filter stays above the token
    projection and the split still runs once per document."""
    tok = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("_toks")
    )
    return tok.select(
        "id",
        F.explode(shingles_from_tokens(F.col("_toks"), k, distinct)).alias("sh"),
    )


def shingles(t: Column, k: int = 5, distinct: bool = True) -> Column:
    """Word k-shingles as an array column. ONLY for tiny frames: building
    this from a raw text column re-evaluates the tokenizer per shingle
    (see shingles_from_tokens) — every hot path uses `shingle_frame`."""
    return shingles_from_tokens(tokens_col(t), k, distinct)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 64,
) -> DataFrame:
    """(id, sig array<long>) via explode + hash aggregation.

    Shape matters at scale: computing the signature as n_hashes nested
    `array_min(transform(...))` expressions re-evaluates the shingle array
    per seed (Catalyst does not CSE across lambda boundaries) — measured
    pathological. Instead: explode shingles (map-side, no shuffle), then
    one hash aggregation of per-seed minima with map-side partial agg.

    Per-seed values hash the 8-byte BASE hash of the shingle, not the
    shingle string: xxhash64(string) runs once per shingle and the
    n_hashes seed variants are fixed-width long hashes (measured r3: the
    32 per-seed STRING hashes were ~0.9 GB/core of rehashing at sf0.1 —
    the dominant cost of the whole dedup path). Same independence
    guarantees (datasketch applies seeded permutations to one base hash
    the same way); collisions at 64 bits are immaterial for candidate
    generation, and candidates are Jaccard-verified anyway."""
    ex = exploded_shingle_frame(df, id_col, text_col, k).select(
        "id", F.xxhash64("sh").alias("h0")
    )
    mins = [
        F.min(F.xxhash64("h0", F.lit(seed))).alias(f"h{seed}")
        for seed in range(n_hashes)
    ]
    agg = ex.groupBy("id").agg(*mins)
    return agg.select(
        "id", F.array(*[f"h{s}" for s in range(n_hashes)]).alias("sig")
    )


def minhash_banded_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band, band_hash) — the LSH bucket frame, one row per (doc,
    band). Materialized: this frame's lineage holds the whole
    signature pipeline and downstream consumers (candidate self-join AND
    the oversized_bucket_stats report) reference it multiple times, so
    computing it once is the difference between one signature pass and
    six (r2 verdict; see skew.materialize)."""
    if n_hashes % bands:
        # the band slices would silently drop the trailing
        # n_hashes % bands signature values — paid for, never bucketed,
        # quietly different recall than requested (r6c review; the
        # repo's no-silent-caps rule)
        raise ValueError(
            f"minhash_banded_frame: bands={bands} must divide "
            f"n_hashes={n_hashes} — the trailing {n_hashes % bands} "
            "signature values would be computed but never bucketed"
        )
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, k, n_hashes)
    banded = sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )
    return materialize(banded)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded MinHash buckets.
    One shuffle to bucket (explode bands → join), never O(n²): buckets
    above `max_bucket` members are star-linked to their representative
    instead of all-paired (see operators/skew.py). The banded frame is
    materialized, so the signature pipeline runs once (r3 review #8)."""
    banded = minhash_banded_frame(df, id_col, text_col, k, n_hashes, bands)
    return delta_candidate_pairs(banded, None, max_bucket)


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (array set algebra).

    Candidates ≪ corpus after LSH, so the expensive shingle-array build
    runs ONLY on docs that appear in a candidate pair: semi-join `df` to
    the distinct candidate ids first (r2 review #2 — the old version
    shingled the entire corpus to verify a handful of pairs). Both the
    candidate frame and the shingle frame are materialized: candidates
    feed three references (two id projections + the pair join) and the
    shingle frame two (the _a and _b sides)."""
    candidates = materialize(candidates)
    cand_ids = (
        candidates.select(F.col("id_a").alias("cid"))
        .unionByName(candidates.select(F.col("id_b").alias("cid")))
        .distinct()
    )
    # spread (r7): the shingle-array build for the verify runs map-side on
    # the semi-join output, which inherits the corpus scan's partitioning —
    # one task when the corpus is a single-row-group local file. The
    # decision reads the corpus's partition count; only the semi-join
    # output (candidate-touched docs) is repartitioned. No-op at real
    # scale.
    needed = spread(
        df.join(cand_ids, F.col(id_col) == F.col("cid"), "left_semi"),
        source=df,
    )
    sh = materialize(shingle_frame(needed, id_col, text_col, k))
    # |A∪B| = |A|+|B|-|A∩B| — exact for the distinct shingle sets built
    # above (r7): same integers as size(array_union), so the jaccard
    # double is bit-identical, but the per-pair union-array allocation
    # (the larger of the two set operations) is gone.
    j = (
        candidates.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("_inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("_inter")),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# --- SimHash -------------------------------------------------------------------


@pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens — fully batch-vectorized NumPy.

    Per doc: hash each token to 64 bits; signature bit i = sign of
    sum over tokens of (bit_i ? +1 : -1), i.e. bit set iff strictly more
    than half the token hashes have the bit set.

    No per-document Python loop: ONE flat hash_array over every token of
    the batch, one (tokens × 64) uint8 bit matrix, and np.add.reduceat
    at document boundaries for the per-doc bit votes (r1 review item #3 —
    the old per-doc loop was the SimHash path's scale ceiling)."""
    n = len(texts)
    if n == 0:
        return pd.Series(np.empty(0, dtype=np.int64))
    token_lists = texts.fillna("").astype(str).str.lower().str.split()
    lens = token_lists.str.len().to_numpy(dtype=np.int64)
    out = np.zeros(n, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return pd.Series(out)

    flat = np.empty(total, dtype=object)
    pos = 0
    for toks in token_lists:  # list concat only — O(docs), no per-token work
        ln = len(toks)
        if ln:
            flat[pos:pos + ln] = toks
            pos += ln
    hashes = pd.util.hash_array(flat).astype(np.uint64)

    bit_idx = np.arange(64, dtype=np.uint64)
    bits = ((hashes[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.uint8)
    # reduceat over non-empty docs only (empty docs would alias neighbors)
    nz = lens > 0
    lens_nz = lens[nz]
    starts = np.concatenate(([0], np.cumsum(lens_nz)[:-1]))
    ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
    sig_bits = ((2 * ones) > lens_nz[:, None]).astype(np.uint64)
    packed = (sig_bits << bit_idx[None, :]).sum(axis=1, dtype=np.uint64)
    out[nz] = packed.astype(np.int64)
    return pd.Series(out)


def simhash_pieces_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunks: int = 4,
) -> DataFrame:
    """(id, sig, band, band_hash) — the pigeonhole bucket frame, one row
    per (doc, signature chunk): band = chunk index, band_hash = chunk
    value. Materialized: its lineage holds the vectorized SimHash UDF, and
    the candidate self-join, the verify's signature lookup and the
    oversized_bucket_stats report re-reference it."""
    sig = df.select(
        F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sig")
    )
    width = 64 // chunks
    pieces = sig.select(
        "id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    # bitwiseAND, NOT %: chunk 0's unshifted value keeps
                    # the sign bit, and Spark's % is SIGNED — a negative
                    # signature bucketed to a different (chunk 0, val)
                    # than a positive one with identical low bits,
                    # silently dropping pairs whose only shared piece was
                    # chunk 0 (r6c review; pure recall loss, invisible to
                    # the precision-side self-check)
                    (
                        F.shiftrightunsigned("sig", i * width)
                        .bitwiseAND(F.lit(2**width - 1))
                    ).alias(f"c{i}")
                    for i in range(chunks)
                ]
            )
        ).alias("band", "band_hash"),
    )
    return materialize(pieces)


def simhash_pairs_from_pieces(
    pieces: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Hamming-verified near-dup pairs from a prebuilt, materialized pieces
    frame (simhash_pieces_frame) — exact bit_count(xor) on candidates only.
    Each pair's signatures come from the pieces frame's chunk-0 rows, one
    per doc; that side is broadcast when the pieces frame provably fits
    the budget (skew.broadcast_build_fits)."""
    cand = delta_candidate_pairs(pieces, None, max_bucket)
    sig = pieces.filter(F.col("band") == 0).select("id", "sig")
    if broadcast_build_fits(pieces, PIECES_ROW_BYTES):
        sig = F.broadcast(sig)
    return (
        cand.join(sig.withColumnsRenamed({"id": "id_a", "sig": "sig_a"}), "id_a")
        .join(sig.withColumnsRenamed({"id": "id_b", "sig": "sig_b"}), "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs with Hamming(sig) ≤ max_hamming.

    Scale path: pigeonhole — split the 64-bit signature into `chunks` pieces;
    any pair within distance < chunks must share at least one exact piece, so
    candidates come from equi-joins on (chunk_idx, chunk_value), then exact
    Hamming verification via bit_count(xor). Requires max_hamming < chunks.
    Chunk buckets above `max_bucket` members are star-linked to their
    representative instead of all-paired (operators/skew.py).
    """
    pieces = simhash_pieces_frame(df, id_col, text_col, chunks)
    return simhash_pairs_from_pieces(pieces, max_hamming, max_bucket)
