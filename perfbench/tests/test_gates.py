"""Each correctness gate passes a correct result and catches a corrupted one.
Pure Python: no Spark session."""

from __future__ import annotations

import itertools

import pytest

from ocr_toolkit_spark import oracle
from perfbench import corpora, gates


@pytest.fixture(scope="module")
def extraction():
    docs = corpora.extraction_docs(120, seed=3)
    results = oracle.extract_corpus(docs)
    sample = {
        r.doc_id: ([(s.kind, s.text, s.media_ref, s.order) for s in r.out_spans], r.success)
        for r in results[:30]
    }
    return gates.oracle_totals(results), sample


def test_extraction_gate_passes_oracle_output(extraction):
    totals, sample = extraction
    assert gates.check_extraction(dict(totals), totals, dict(sample), sample) == []


def test_extraction_gate_catches_dropped_span(extraction):
    totals, sample = extraction
    doc_id = next(d for d, (spans, _) in sample.items() if len(spans) > 1)
    corrupted = dict(sample)
    spans, ok = corrupted[doc_id]
    corrupted[doc_id] = (spans[:-1], ok)
    assert gates.check_extraction(dict(totals), totals, corrupted, sample)
    fewer = {**totals, "span_count": totals["span_count"] - 1}
    assert gates.check_extraction(fewer, totals, dict(sample), sample)


def test_extraction_gate_catches_reordered_spans_and_missing_doc(extraction):
    totals, sample = extraction
    doc_id = next(d for d, (spans, _) in sample.items() if len(spans) > 1)
    spans, ok = sample[doc_id]
    swapped = {**sample, doc_id: ([spans[1], spans[0], *spans[2:]], ok)}
    assert gates.check_extraction(dict(totals), totals, swapped, sample)
    missing = {d: v for d, v in sample.items() if d != doc_id}
    assert gates.check_extraction(dict(totals), totals, missing, sample)


@pytest.fixture(scope="module")
def dedup_docs():
    texts = corpora.dedup_corpus(300, seed=5)
    sets = [gates.shingle_set(t, 5) for t in texts]
    pairs = [
        (a, b, gates.jaccard(sets[a], sets[b]))
        for a, b in itertools.combinations(range(len(texts)), 2)
        if gates.jaccard(sets[a], sets[b]) >= 0.5
    ]
    low = next((a, b, gates.jaccard(sets[a], sets[b]))
               for a, b in itertools.combinations(range(len(texts)), 2)
               if gates.jaccard(sets[a], sets[b]) < 0.5)
    return sets, pairs, low


def test_pair_gate_passes_exact_pairs(dedup_docs):
    sets, pairs, _ = dedup_docs
    assert len(pairs) > 10  # planted near-duplicates
    assert gates.check_pairs(pairs, sets.__getitem__, 0.5) == []


def test_pair_gate_catches_below_threshold_pair(dedup_docs):
    sets, pairs, low = dedup_docs
    a, b, _ = low
    forged = [*pairs, (a, b, 0.9)]  # the engine claims 0.9
    assert gates.check_pairs(forged, sets.__getitem__, 0.5)


def test_pair_gate_catches_wrong_jaccard_and_unordered_pair(dedup_docs):
    sets, pairs, _ = dedup_docs
    a, b, j = pairs[0]
    assert gates.check_pairs([(a, b, j * 0.99)], sets.__getitem__, 0.5)
    assert gates.check_pairs([(b, a, j)], sets.__getitem__, 0.5)


def test_delta_gate_charges_the_ingesting_round():
    round_ids = {0: range(0, 10), 1: range(10, 20), 2: range(20, 30)}
    round_pairs = {0: {(1, 2)}, 1: {(3, 12)}, 2: {(5, 25), (21, 22)}}
    batch = {(1, 2), (3, 12), (5, 25), (21, 22)}
    assert gates.delta_failures(round_pairs, round_ids, batch) == {}
    dropped = {**round_pairs, 2: {(21, 22)}}
    assert set(gates.delta_failures(dropped, round_ids, batch)) == {2}
    extra = {**round_pairs, 1: {(3, 12), (4, 11)}}
    assert set(gates.delta_failures(extra, round_ids, batch)) == {1}


def test_round_gate_catches_pair_of_old_docs():
    assert gates.check_round_touches_new([(3, 25, 0.8)], range(20, 30)) == []
    assert gates.check_round_touches_new([(3, 4, 0.8)], range(20, 30))
