"""Correctness gates. Pure Python over collected results, so the benchmark's
tests can feed them corrupted results without Spark. Each returns a list of
error strings; an empty list means the op passed."""

from __future__ import annotations

SpanSeq = list[tuple[str, str, str, int]]

# relative difference allowed between the engine's Jaccard (double division
# in the JVM) and the same integers divided in Python
JACCARD_TOL = 1e-12


def oracle_totals(results) -> dict[str, int]:
    """doc/span/byte/failure totals of `oracle.extract_corpus` results, under
    the names `pipeline.RunStats` uses."""
    return {
        "doc_count": len(results),
        "span_count": sum(r.n_spans for r in results),
        "byte_count": sum(r.n_chars for r in results),
        "failure_count": sum(not r.success for r in results),
    }


def check_extraction(observed: dict[str, int], expected: dict[str, int],
                     sample: dict[str, tuple[SpanSeq, bool]],
                     expected_sample: dict[str, tuple[SpanSeq, bool]]) -> list[str]:
    """Totals equal the oracle's, and every sampled doc has the oracle's span
    sequence (kind, text, media_ref, order) and success flag."""
    errors = [
        f"{k}: engine {observed.get(k)} != oracle {v}"
        for k, v in expected.items() if observed.get(k) != v
    ]
    for doc_id, want in expected_sample.items():
        got = sample.get(doc_id)
        if got is None:
            errors.append(f"{doc_id}: missing from the output table")
        elif got != want:
            errors.append(f"{doc_id}: span sequence differs from the oracle")
    return errors


def shingle_set(text: str, k: int) -> frozenset[str]:
    """The engine's tokenizer and k-shingles (dedup.tokens_col /
    shingles_from_tokens) in plain Python."""
    toks = text.strip().lower().split()
    if len(toks) < k:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: frozenset[str], b: frozenset[str]) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def check_pairs(pairs, shingles, threshold: float) -> list[str]:
    """Every emitted (id_a, id_b, jaccard) has id_a < id_b and a Jaccard,
    recomputed in Python from the texts, at or above `threshold` and equal to
    the engine's. `shingles(doc_id)` returns the doc's shingle set."""
    errors = []
    for a, b, j in pairs:
        if not a < b:
            errors.append(f"pair ({a}, {b}) is not ordered id_a < id_b")
            continue
        want = jaccard(shingles(a), shingles(b))
        if want < threshold:
            errors.append(f"pair ({a}, {b}) has Jaccard {want:.4f} < {threshold}")
        elif abs(j - want) > JACCARD_TOL * max(1.0, want):
            errors.append(f"pair ({a}, {b}): engine Jaccard {j} != {want}")
    return errors


def check_round_touches_new(pairs, new_ids: range) -> list[str]:
    """A delta round only emits pairs with at least one doc it ingested."""
    return [f"pair ({a}, {b}) touches no doc of this round"
            for a, b, _ in pairs if a not in new_ids and b not in new_ids]


def delta_failures(round_pairs: dict[int, set[tuple[int, int]]],
                   round_ids: dict[int, range],
                   batch_pairs: set[tuple[int, int]]) -> dict[int, list[str]]:
    """End-of-run gate of the delta workload: the union of every round's pairs
    must equal a batch run over the final corpus (symmetric difference 0).
    A differing pair is charged to the round that ingested its larger id,
    the only round that could have emitted it. Returns {round: errors}."""
    union = set().union(*round_pairs.values())
    errors: dict[int, list[str]] = {}
    for label, diff in (("missing", batch_pairs - union), ("extra", union - batch_pairs)):
        for a, b in sorted(diff):
            r = next((r for r, ids in round_ids.items() if max(a, b) in ids), None)
            errors.setdefault(r, []).append(
                f"pair ({a}, {b}) {label} vs the batch run over the final corpus")
    return errors
