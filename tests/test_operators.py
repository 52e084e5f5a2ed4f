"""Unit tests for the training-data pipeline operators: dedup families,
similarity search, text stats (full quality formula vs oracle), multimodal
plumbing."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog again and again!"),  # near dup
        (4, "completely different content about spark arrow batches and shuffles"),
        (5, "The  Quick  Brown Fox jumps over the lazy dog again and again"),  # norm dup
        (6, "unrelated text regarding lineage snapshots and resume protocols"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


class TestDedup:
    def test_exact(self, spark, dup_docs):
        from ocr_toolkit_spark.operators.dedup import exact_dedup_stats

        r = exact_dedup_stats(dup_docs).collect()[0]
        assert r.total_docs == 6 and r.distinct_texts == 5 and r.duplicate_docs == 1

    def test_normalized(self, spark, dup_docs):
        from ocr_toolkit_spark.operators.dedup import normalize_text

        groups = (
            dup_docs.groupBy(normalize_text(F.col("text")).alias("n"))
            .count().filter("count > 1").collect()
        )
        # docs 1,2,3,5 normalize to the same string ('!' stripped, case/ws folded)
        assert len(groups) == 1 and groups[0]["count"] == 4

    def test_minhash_lsh_finds_near_dups(self, spark, dup_docs):
        from ocr_toolkit_spark.operators.dedup import (
            jaccard_verify, minhash_lsh_candidates)

        cand = minhash_lsh_candidates(dup_docs, k=3, n_hashes=32, bands=16)
        pairs = {(r.id_a, r.id_b) for r in cand.collect()}
        assert (1, 2) in pairs  # identical docs always collide
        verified = jaccard_verify(cand, dup_docs, k=3, threshold=0.99).collect()
        assert any(v.id_a == 1 and v.id_b == 2 and v.jaccard == 1.0 for v in verified)
        # distinct docs must not be verified pairs
        assert not any({v.id_a, v.id_b} == {4, 6} for v in verified)

    def test_simhash(self, spark, dup_docs):
        from ocr_toolkit_spark.operators.dedup import simhash64, simhash_near_dups

        sigs = {r.doc_id: r.s for r in dup_docs.select(
            "doc_id", simhash64("text").alias("s")).collect()}
        assert sigs[1] == sigs[2]  # identical text → identical signature
        pairs = {(r.id_a, r.id_b): r.hamming
                 for r in simhash_near_dups(dup_docs, max_hamming=3).collect()}
        assert pairs.get((1, 2)) == 0


class TestConnectedComponents:
    def test_chain_star_and_islands(self, spark):
        from ocr_toolkit_spark.operators.cc import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4),      # chain → component 1
             (10, 11), (10, 12), (10, 13),  # star → component 10
             (20, 21)],                    # island pair → component 20
            "id_a int, id_b int")
        got = {r.node: r.component for r in connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                       10: 10, 11: 10, 12: 10, 13: 10,
                       20: 20, 21: 20}

    def test_convergence_guard(self, spark):
        from ocr_toolkit_spark.operators.cc import connected_components

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 12)], "id_a int, id_b int")
        # diameter 11 > max_iter 2 → must refuse, not return wrong labels
        import pytest as _pytest
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iter=2)

    def test_hash_min_equals_union_find_on_random_graphs(self, spark):
        """Hash-min labels equal a Python union-find's min-id components
        on random graphs (self-loops and repeated edges included)."""
        import random as _random

        from ocr_toolkit_spark.operators.cc import connected_components

        def union_find(edges):
            parent = {}

            def find(x):
                parent.setdefault(x, x)
                while parent[x] != x:
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
            return {x: find(x) for x in parent}

        rng = _random.Random(17)
        for trial in range(3):
            n = 40
            edges = [(rng.randrange(n), rng.randrange(n))
                     for _ in range(rng.randrange(10, 50))]
            pairs = spark.createDataFrame(edges, "id_a int, id_b int")
            got = {r.node: r.component
                   for r in connected_components(pairs, max_iter=40).collect()}
            assert got == union_find(edges), (trial, edges)

    def test_star_guard_output_is_a_star(self, spark):
        """skew.py invariant the hash-min fast-converge claim rests on: an
        oversized bucket emits ONLY rep↔member pairs (diameter 2)."""
        from ocr_toolkit_spark.operators.skew import delta_candidate_pairs

        rows = [(0, 1, i) for i in range(100)]  # one bucket, 100 members
        df = spark.createDataFrame(rows, "band int, band_hash long, id int")
        pairs = delta_candidate_pairs(df, None, max_bucket=10)
        got = [(r.id_a, r.id_b) for r in pairs.collect()]
        assert sorted(got) == [(0, i) for i in range(1, 100)]

    def test_near_dedup_keep_first(self, spark, dup_docs):
        from ocr_toolkit_spark.operators.cc import near_dedup_keep_first
        from ocr_toolkit_spark.operators.dedup import (
            jaccard_verify, minhash_lsh_candidates)

        cand = minhash_lsh_candidates(dup_docs, k=3, n_hashes=32, bands=16)
        pairs = jaccard_verify(cand, dup_docs, k=3, threshold=0.9)
        kept = {r.doc_id for r in near_dedup_keep_first(dup_docs, pairs).collect()}
        # at threshold 0.9: docs 1,2,5 share identical lowercased shingles
        # (component rep 1); doc 3's trailing '!' makes J=9/11 < 0.9 so it
        # survives, as do the unrelated 4 and 6
        assert kept == {1, 3, 4, 6}


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        import datetime as dt

        base = dt.datetime(2024, 1, 1, 12, 0, 0)
        rows = [
            # user 1: two events 10 min apart (one session), then a 31-min
            # gap (new session), then 29-min gap (same session)
            (1, 1, base),
            (2, 1, base + dt.timedelta(minutes=10)),
            (3, 1, base + dt.timedelta(minutes=41)),
            (4, 1, base + dt.timedelta(minutes=70)),
            # user 2: single event
            (5, 2, base),
        ]
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
        from ocr_toolkit_spark.operators.sessions import sessionize

        out = {(r.user_id, r.session_seq): r
               for r in sessionize(df, gap_minutes=30).collect()}
        assert out[(1, 1)].n_events == 2 and out[(1, 1)].duration_secs == 600
        assert out[(1, 2)].n_events == 2 and out[(1, 2)].duration_secs == 29 * 60
        assert out[(2, 1)].n_events == 1 and out[(2, 1)].duration_secs == 0
        assert len(out) == 3

    def test_exact_boundary_gap_keeps_session(self, spark):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(1, 1, base), (2, 1, base + dt.timedelta(minutes=30))],
            "event_id long, user_id long, ts timestamp")
        from ocr_toolkit_spark.operators.sessions import sessionize

        rows = sessionize(df, gap_minutes=30).collect()
        assert len(rows) == 1 and rows[0].n_events == 2  # strict '>' gap

    def test_missing_tiebreak_never_silent(self, spark):
        """r3 ADVICE: a missing tiebreak column must not silently fall back
        to ts-only ordering (nondeterministic ordinals for equal
        timestamps): explicit+missing raises, default+missing warns, and
        tiebreak_col=None is the quiet explicit opt-out."""
        import datetime as dt
        import warnings as w

        import pytest

        from ocr_toolkit_spark.operators.sessions import with_session_seq

        base = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(1, base), (1, base)], "user_id long, ts timestamp")

        with pytest.raises(ValueError, match="not in frame columns"):
            with_session_seq(df, tiebreak_col="order_key")
        with pytest.warns(UserWarning, match="ordering by 'ts' alone"):
            with_session_seq(df).collect()
        with w.catch_warnings():
            w.simplefilter("error", UserWarning)
            with_session_seq(df, tiebreak_col=None).collect()
        # present default column: quiet, deterministic
        df2 = spark.createDataFrame(
            [(7, 1, base), (3, 1, base)],
            "event_id long, user_id long, ts timestamp")
        with w.catch_warnings():
            w.simplefilter("error", UserWarning)
            rows = with_session_seq(df2).orderBy("event_id").collect()
        assert [r.session_seq for r in rows] == [1, 1]


class TestMethodSelection:
    def test_availability_short_circuit_and_reasons(self, spark):
        """T11 complete (quality_evaluator.py:145-233): one-available wins
        outright, both-failed defaults to ocr, both-available compares
        preference-weighted quality scores and explains the choice."""
        from ocr_toolkit_spark.operators.textstats import compare_methods

        good = ("# Title\n\nA normal paragraph with plenty of words in it.\n\n"
                "- one\n- two\n\nAnother paragraph of reasonable length here.")
        rows = [
            # (id, md_ok, md_text, ocr_ok, ocr_text, ext)
            (1, True, good, False, good, ".pdf"),        # only md
            (2, False, good, True, good, ".pdf"),        # only ocr
            (3, True, "", True, good, ".pdf"),           # md empty → only ocr
            (4, False, good, False, good, ".docx"),      # both failed
            (5, True, good, True, good[:40], ".docx"),   # both → md pref 1.3
            (6, True, good[:40], True, good, ".jpg"),    # both → ocr pref 1.5
            (7, True, None, True, good, ".txt"),         # md null → only ocr
        ]
        df = spark.createDataFrame(
            rows, "id int, md_ok boolean, md_tx string, ocr_ok boolean, "
                  "ocr_tx string, ext string")
        cols = compare_methods(
            F.col("md_ok"), F.col("md_tx"), F.col("ocr_ok"), F.col("ocr_tx"),
            F.col("ext"))
        out = {r["id"]: r for r in df.select(
            "id", *[c.alias(n) for n, c in cols.items()]).collect()}
        assert (out[1]["chosen_method"], out[1]["selection_reason"]) == (
            "markitdown", "Only MarkItDown succeeded")
        assert (out[2]["chosen_method"], out[2]["selection_reason"]) == (
            "ocr", "Only OCR succeeded")
        assert (out[3]["chosen_method"], out[3]["selection_reason"]) == (
            "ocr", "Only OCR succeeded")
        assert (out[4]["chosen_method"], out[4]["selection_reason"]) == (
            "ocr", "Both methods failed")
        assert out[4]["markitdown_score"] == out[4]["ocr_score"] == 0.0
        assert out[5]["chosen_method"] == "markitdown"
        assert out[5]["selection_reason"].startswith("MarkItDown scored ")
        assert out[5]["markitdown_score"] > out[5]["ocr_score"] > 0
        assert out[6]["chosen_method"] == "ocr"
        assert out[6]["selection_reason"].startswith("OCR scored ")
        assert (out[7]["chosen_method"], out[7]["selection_reason"]) == (
            "ocr", "Only OCR succeeded")

    def test_preference_tables_match_reference(self):
        from ocr_toolkit_spark.operators.textstats import (
            MARKITDOWN_PREFERENCE, OCR_PREFERENCE)

        # exact reference values, quality_evaluator.py:20-44
        assert MARKITDOWN_PREFERENCE[".docx"] == 1.3
        assert MARKITDOWN_PREFERENCE[".pdf"] == 0.8
        assert OCR_PREFERENCE[".pdf"] == 1.1
        assert OCR_PREFERENCE[".jpg"] == 1.5
        assert len(MARKITDOWN_PREFERENCE) == 10 and len(OCR_PREFERENCE) == 8


class TestSkewGuard:
    """r1 review item #3: a degenerate bucket (m boilerplate clones) must
    not explode into m² pairs inside one join key."""

    def test_star_cap_bounds_pairs_and_keeps_normal_recall(self, spark):
        from ocr_toolkit_spark.operators.dedup import (
            jaccard_verify, minhash_lsh_candidates)
        from ocr_toolkit_spark.operators.skew import oversized_bucket_stats

        m = 2000
        boiler = [(i, "cookie banner accept all reject all manage preferences "
                      "privacy policy terms of service") for i in range(m)]
        normal = [
            (10_001, "a perfectly normal document about spark adaptive execution"),
            (10_002, "a perfectly normal document about spark adaptive execution!"),
            (10_003, "something entirely different concerning iceberg manifests"),
        ]
        df = spark.createDataFrame(boiler + normal, "doc_id int, text string")
        cand = minhash_lsh_candidates(df, k=3, n_hashes=32, bands=8,
                                      max_bucket=50)
        n_pairs = cand.count()
        # uncapped, the boiler bucket alone is m(m-1)/2 ≈ 2.0M pairs;
        # star-capped it is m-1 per band — assert well under the blow-up
        assert n_pairs < 10 * m
        pairs = {(r.id_a, r.id_b) for r in cand.collect()}
        assert (10_001, 10_002) in pairs  # normal-bucket recall unchanged
        # every boiler doc still reachable from the representative →
        # connected component (and thus keep-first dedup) is preserved
        linked = {b for a, b in pairs if a == 0} | {a for a, b in pairs if b == 0}
        assert linked.issuperset(set(range(1, m)))
        verified = jaccard_verify(cand, df, k=3, threshold=0.99)
        assert verified.filter("id_a = 0").count() == m - 1
        # the cap is reported, not silent
        banded_stats = oversized_bucket_stats(
            cand.sparkSession.createDataFrame(
                [(1, i) for i in range(60)], "k int, id int"),
            ["k"], max_bucket=50).collect()
        assert banded_stats[0]["n"] == 60
        assert banded_stats[0]["pairs_avoided"] == 60 * 59 // 2 - 59

    def test_simhash_and_embedding_star_cap(self, spark):
        from ocr_toolkit_spark.operators.dedup import simhash_near_dups
        from ocr_toolkit_spark.operators.similarity import embedding_near_dups

        m = 500
        rows = [(i, "identical boilerplate text repeated everywhere") for i in range(m)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        pairs = simhash_near_dups(df, max_hamming=3, max_bucket=20)
        # star shape: exactly m-1 pairs (rep 0 ↔ every other doc), not m(m-1)/2
        assert pairs.count() == m - 1
        assert pairs.filter("id_a = 0").count() == m - 1

        vecs = spark.createDataFrame(
            [(i, [1.0, 0.5, -0.25, 2.0]) for i in range(m)],
            "vec_id int, embedding array<float>")
        nd = embedding_near_dups(vecs, dim=4, threshold=0.99, n_bits=4,
                                 max_bucket=20)
        assert nd.count() == m - 1


class TestSimhashVectorized:
    def test_matches_per_doc_reference(self, spark):
        """The batch-vectorized simhash64 must equal a straightforward
        per-doc implementation (same token hash, same majority rule),
        including empty / whitespace-only / null docs at batch edges."""
        import numpy as np
        import pandas as pd

        texts = ["the quick brown fox", "", "  ", "the quick brown fox",
                 "one", None, "a b c d e f g h i j k l", "中文 分词 测试", ""]

        def slow(t):
            if not t:
                return 0
            toks = str(t).lower().split()
            if not toks:
                return 0
            h = pd.util.hash_array(np.array(toks, dtype=object)).astype(np.uint64)
            bit_idx = np.arange(64, dtype=np.uint64)
            bits = (h[:, None] >> bit_idx[None, :]) & np.uint64(1)
            votes = bits.astype(np.int64) * 2 - 1
            sig = (votes.sum(axis=0) > 0).astype(np.uint64)
            return int((sig << bit_idx).sum().astype(np.int64))

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
        from ocr_toolkit_spark.operators.dedup import simhash64
        got = {r.doc_id: r.s for r in
               df.select("doc_id", simhash64("text").alias("s")).collect()}
        for i, t in enumerate(texts):
            assert got[i] == slow(t), (i, t)


class TestSimilarity:
    @pytest.fixture(scope="class")
    def vectors(self, spark):
        import numpy as np

        rng = np.random.default_rng(0)
        base = rng.standard_normal(8).astype("float32")
        rows = [(0, base.tolist()), (1, (base + 0.01).tolist()),
                (2, (-base).tolist())]
        rows += [(i, rng.standard_normal(8).astype("float32").tolist())
                 for i in range(3, 40)]
        return spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    def test_brute_force(self, spark, vectors):
        from ocr_toolkit_spark.operators.similarity import brute_force_topk

        r = brute_force_topk(vectors, vectors.filter("vec_id = 0"), k=3).collect()
        assert r[0].neighbor_id == 1 and r[0].sim > 0.99  # nearest = perturbed copy
        assert all(row.query_id == 0 for row in r) and len(r) == 3

    def test_lsh_buckets_recall_nearest(self, spark, vectors):
        from ocr_toolkit_spark.operators.similarity import lsh_topk

        r = lsh_topk(vectors, vectors.filter("vec_id = 0"), dim=8, k=3, n_bits=4)
        rows = r.collect()
        # near-identical vectors share every SRP bucket → neighbor 1 is found
        assert rows and rows[0].neighbor_id == 1

    def test_ivf_recalls_nearest(self, spark, vectors):
        from ocr_toolkit_spark.operators.similarity import ivf_topk

        r = ivf_topk(vectors, vectors.filter("vec_id = 0"), dim=8, k=3,
                     n_centroids=4, n_probe=4).collect()
        # probing ALL cells makes IVF exhaustive → must find the near-copy
        assert r and r[0].neighbor_id == 1 and r[0].sim > 0.99

    def test_ivf_centroids_deterministic(self, spark, vectors):
        import numpy as np

        from ocr_toolkit_spark.operators.similarity import train_ivf_centroids

        a = train_ivf_centroids(vectors, dim=8, n_centroids=4, sample_size=40)
        b = train_ivf_centroids(vectors, dim=8, n_centroids=4, sample_size=40)
        assert np.allclose(a, b)

    def test_embedding_near_dups(self, spark, vectors):
        from ocr_toolkit_spark.operators.similarity import embedding_near_dups

        pairs = {(r.id_a, r.id_b) for r in
                 embedding_near_dups(vectors, dim=8, threshold=0.99, n_bits=4).collect()}
        assert (0, 1) in pairs


class TestTextStats:
    def test_full_quality_matches_oracle(self, spark):
        from ocr_toolkit_spark import oracle
        from ocr_toolkit_spark.operators.textstats import with_quality

        texts = [
            "# Header\n\nsome paragraph text\n\n- a list item\n- another",
            "aaaaaaa repeated char penalty",
            "x",
            "",
            "many many words " * 50,
            "a b c d e f g h i j k l m n o p",  # short-word penalty
            "!@#$%^&*()!@#$%^&*() special",  # special-char penalty
        ]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                   "id int, text string")
        rows = with_quality(df, "text", include_repeat_penalty=True).collect()
        for r in rows:
            exp = oracle.quality_score(texts[r.id])
            for k in ("length_score", "structure_score", "diversity_score",
                      "error_penalty", "total_score"):
                assert abs(getattr(r, k) - exp[k]) < 1e-9, (r.id, k, getattr(r, k), exp[k])

    def test_lang_id_and_tokens(self, spark):
        from ocr_toolkit_spark.operators.textstats import lang_id, token_count

        df = spark.createDataFrame(
            [("这是中文文本",), ("the cat and the dog of the house",), ("xyz abc",)],
            "text string")
        r = df.select(lang_id("text").alias("l"), token_count("text").alias("t")).collect()
        assert [x.l for x in r] == ["zh", "en", "other"]
        assert r[1].t == 8


class TestMultimodal:
    def test_feature_stage(self, spark):
        from ocr_toolkit_spark.operators.multimodal import extract_media_features

        rows = [("m1", "image", b"payload-bytes-1"), ("m2", "audio", b"x"),
                ("m3", "video", None)]
        df = spark.createDataFrame(
            rows, "media_ref string, media_type string, payload binary")
        feats = {r.media_ref: r for r in extract_media_features(df).collect()}
        assert feats["m1"].n_bytes == 15 and len(feats["m1"].feature) == 16
        assert feats["m3"].n_bytes == 0
        # deterministic: same payload → same feature
        again = {r.media_ref: r for r in extract_media_features(df).collect()}
        assert again["m1"].feature == feats["m1"].feature


class TestWithCompareMethodsEquality:
    def test_layered_equals_column_level(self, spark):
        """with_compare_methods (layered scale path) must equal
        compare_methods (the column-level spec pinned to the reference)
        on every output, over fuzzed method scenarios."""
        import random as _random

        from pyspark.sql import functions as F

        from ocr_toolkit_spark.operators.textstats import (
            compare_methods,
            with_compare_methods,
        )

        rng = _random.Random(31)
        good = ("# Title\n\nA normal paragraph with plenty of words here.\n\n"
                "- one\n- two\n\nMore prose of a reasonable length follows.")
        cases = []
        for i in range(80):
            cases.append((
                i, rng.random() > 0.3,
                rng.choice([good, good[:50], "", None, "short", good * 2]),
                rng.random() > 0.3,
                rng.choice([good, good[:70], "", None, "tiny", good[:120]]),
                rng.choice([".pdf", ".docx", ".jpg", ".html", ".txt", ".TIF"]),
            ))
        df = spark.createDataFrame(
            cases, "id int, md_ok boolean, md_tx string, ocr_ok boolean, "
                   "ocr_tx string, ext string")
        args = (F.col("md_ok"), F.col("md_tx"), F.col("ocr_ok"),
                F.col("ocr_tx"), F.col("ext"))
        names = ["chosen_method", "selection_reason", "markitdown_score",
                 "ocr_score", "markitdown_available", "ocr_available"]
        cols = compare_methods(*args)
        a = {r["id"]: tuple(r[n] for n in names) for r in df.select(
            "id", *[cols[n].alias(n) for n in names]).collect()}
        b = {r["id"]: tuple(r[n] for n in names)
             for r in with_compare_methods(df, *args).select(
                 "id", *names).collect()}
        assert a == b


class TestR3ReviewFixes:
    def test_star_keeps_self_loop_only_nodes(self, spark):
        """A node whose only appearance is a self-pair must still appear
        in the output as its own singleton component (contract: every node
        appearing in pairs)."""
        from ocr_toolkit_spark.operators.cc import connected_components

        pairs = spark.createDataFrame(
            [(5, 5), (1, 2)], "id_a int, id_b int")
        got = {r.node: r.component
               for r in connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 5: 5}

    def test_with_quality_rescoring_replaces_and_keeps_user_cols(self, spark):
        """Re-scoring a frame that already carries quality columns must
        replace them (withColumn semantics), and user columns that happen
        to share the old internal prefix must survive."""
        from ocr_toolkit_spark.operators.textstats import with_quality

        df = spark.createDataFrame(
            [(1, "some plain text here", "tag")],
            "id int, text string, _query_tag string")
        once = with_quality(df, "text")
        twice = with_quality(once, "text")
        assert twice.columns == once.columns  # no duplicates
        assert "_query_tag" in twice.columns
        r1, r2 = once.collect()[0], twice.collect()[0]
        assert r1["total_score"] == r2["total_score"]

    def test_snapshot_commit_survives_id_collision(self, tmpdir_path):
        """Optimistic concurrency: if the computed snapshot id is already
        claimed (concurrent writer), the commit retries on the new parent
        instead of clobbering — both commits survive in the log."""
        import json as _json
        import os as _os

        from ocr_toolkit_spark import io as tio

        table = _os.path.join(tmpdir_path, "snap_table")
        tio.snapshot_commit(table, "run-1", [0, 1])
        # simulate a concurrent writer that claims id 2 AFTER our commit
        # reads the tip (stale first listing) — the os.link publish must
        # collide and the retry must land on id 3
        d = _os.path.join(table, "_snapshots")
        with open(_os.path.join(d, "snap-00000002.json"), "w") as f:
            _json.dump({"snapshot_id": 2, "parent_id": 1,
                        "run_id": "race-winner", "committed_ms": 0,
                        "delta": {"7": "race-winner"},
                        "operation": "append"}, f)
        real = tio.latest_snapshot_id
        stale_once = []

        def stale(path):
            v = real(path)
            if not stale_once:
                stale_once.append(1)
                return v - 1  # pretend we listed before the race-winner
            return v

        tio.latest_snapshot_id = stale
        try:
            snap = tio.snapshot_commit(table, "run-2", [3])
        finally:
            tio.latest_snapshot_id = real
        assert len(stale_once) == 1  # the stale path was actually taken
        assert snap["snapshot_id"] == 3 and snap["parent_id"] == 2
        # nothing lost: the folded state merges the race-winner's partition
        parts = tio.partitions_as_of(table, 3)
        assert parts["7"] == "race-winner"
        assert parts["3"] == "run-2"
        assert [s["run_id"] for s in tio.snapshots(table)] == [
            "run-1", "race-winner", "run-2"]

    def test_ann_recall_divides_by_bf_count(self, spark):
        """recall must be hits / per-query brute-force count, not /k: a
        perfect ANN on a corpus with fewer than k neighbors scores 1.0."""
        import __spark_entry__ as em
        from ocr_toolkit_spark.operators.similarity import brute_force_topk

        vecs = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(4)],
            "vec_id int, embedding array<float>")
        bf = brute_force_topk(vecs, vecs, k=10)  # ≤3 neighbors per query
        rep = em._ann_recall_report([bf], bf, k=10, floor=0.9).collect()[0]
        assert rep["mean_recall"] == 1.0 and rep["meets_floor"]


class TestSessionizeVsNative:
    def test_matches_spark_session_window(self, spark):
        """Our lag-based sessionize vs Spark's built-in session_window on
        fuzzed event streams: identical per-user session sizes (away from
        the exact-gap boundary, where the semantics differ by design —
        ours keeps an exact-gap event in the session [strict >], the
        native operator closes at >=; pinned separately by
        test_exact_boundary_gap_keeps_session)."""
        import datetime as dt
        import random as _random

        from pyspark.sql import functions as F

        from ocr_toolkit_spark.operators.sessions import sessionize

        rng = _random.Random(55)
        base = dt.datetime(2024, 3, 1)
        rows, eid = [], 0
        for user in range(6):
            t = base
            for _ in range(rng.randrange(3, 25)):
                # seconds-granular gaps, never exactly 30:00
                t += dt.timedelta(seconds=rng.randrange(1, 5400))
                if (t - base).total_seconds() % 1800 == 0:
                    t += dt.timedelta(seconds=1)
                rows.append((eid, user, t)); eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp")

        ours = {
            (r.user_id, r.session_start): r.n_events
            for r in sessionize(df, gap_minutes=30).collect()
        }
        native = {
            (r.user_id, r.start): r.n
            for r in df.groupBy(
                "user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select("user_id", F.col("w.start").alias("start"), "n")
            .collect()
        }
        assert ours == native


class TestFullNearDedup:
    def test_exact_collapse_composition_equals_direct_path(self, spark):
        """full_near_dedup_keep_first (exact-collapse → near-dup on
        representatives) must keep EXACTLY the same docs as running the
        near-dup path over every doc — on the fixture dup corpus and on a
        fuzzed corpus with duplicate structure."""
        import random as _random

        from ocr_toolkit_spark.operators.cc import (
            full_near_dedup_keep_first,
            near_dedup_keep_first,
        )
        from ocr_toolkit_spark.operators.dedup import (
            jaccard_verify,
            minhash_lsh_candidates,
        )

        rng = _random.Random(21)
        vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                 "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
        base = [" ".join(rng.choice(vocab) for _ in range(25)) + f" u{i}"
                for i in range(40)]
        rows = [(i, base[i]) for i in range(40)]
        nid = 40
        for _ in range(30):  # exact copies
            rows.append((nid, base[rng.randrange(40)])); nid += 1
        for _ in range(20):  # near copies (one token changed)
            toks = base[rng.randrange(40)].split()
            toks[rng.randrange(len(toks) - 1)] = rng.choice(vocab)
            rows.append((nid, " ".join(toks))); nid += 1
        df = spark.createDataFrame(rows, "doc_id int, text string")

        cand = minhash_lsh_candidates(df, k=3, n_hashes=32, bands=8)
        pairs = jaccard_verify(cand, df, k=3, threshold=0.8)
        direct = {r.doc_id for r in near_dedup_keep_first(df, pairs).collect()}
        fast = {r.doc_id for r in full_near_dedup_keep_first(
            df, k=3, n_hashes=32, bands=8, threshold=0.8).collect()}
        assert fast == direct
        assert len(fast) < len(rows)  # something was actually removed


class TestSimHashChunkBuckets:
    def test_negative_signature_chunk0_bucket(self, spark, monkeypatch):
        """r6c review: chunk 0's bucket value was computed with signed %,
        so a NEGATIVE signature (bit 63 set — half of all docs) landed in
        a different chunk-0 bucket than a positive one with identical low
        16 bits. A hamming-3 pair whose ONLY shared piece is chunk 0 was
        silently dropped — pure recall loss, invisible to the entry's
        precision-side self-check. Pinned with a stubbed signature UDF so
        the sigs are exact: B = A with bits 63, 40, 20 flipped (one flip
        in each of chunks 3, 2, 1; chunk 0 identical; sign differs)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from ocr_toolkit_spark.operators import dedup as dd

        a = 0x1234
        b_unsigned = a ^ ((1 << 63) | (1 << 40) | (1 << 20))
        b = b_unsigned - (1 << 64)  # as signed int64: negative
        sigs = {"doc A text": a, "doc B text": b}

        @pandas_udf("long")
        def fake_sig(texts: pd.Series) -> pd.Series:
            return texts.map(sigs).astype("int64")

        monkeypatch.setattr(dd, "simhash64", fake_sig)
        df = spark.createDataFrame(
            [(1, "doc A text"), (2, "doc B text")], "doc_id int, text string"
        )
        pairs = {(r.id_a, r.id_b, r.hamming)
                 for r in dd.simhash_near_dups(df, max_hamming=3).collect()}
        assert pairs == {(1, 2, 3)}

    def test_bands_must_divide_n_hashes(self, spark):
        """r6c review: a non-dividing bands count silently dropped the
        trailing signature values from every bucket — computed, paid for,
        never used. Loud refusal instead."""
        import pytest

        from ocr_toolkit_spark.operators.dedup import minhash_banded_frame

        df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
        with pytest.raises(ValueError, match="must divide"):
            minhash_banded_frame(df, n_hashes=64, bands=12)
