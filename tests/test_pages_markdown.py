"""Page-selection (SPANS.md §3.4.1) and markdown rendering: kernel vs oracle."""

import pytest

from ocr_toolkit_spark import oracle
from ocr_toolkit_spark.fixtures import generate_documents, to_arrow
from ocr_toolkit_spark.functions.pages import parse_pages
from ocr_toolkit_spark.operators.extract import _process_batch


class TestParsePages:
    def test_spec_forms(self):
        assert parse_pages("1-3,5,7-8") == frozenset({1, 2, 3, 5, 7, 8})
        assert parse_pages("10") == frozenset({10})
        assert parse_pages("2-2") == frozenset({2})
        # reference normalizes reversed ranges by swapping bounds
        assert parse_pages("3-1") == frozenset({1, 2, 3})
        # interior spaces are stripped like the reference's replace(" ", "")
        assert parse_pages("1 - 3") == frozenset({1, 2, 3})

    def test_empty_means_no_selection(self):
        # reference returns None for None/blank → process all pages
        assert parse_pages(None) is None
        assert parse_pages("") is None
        assert parse_pages("  ") is None
        # only-commas spec → empty selection (reference ParsedPages([]))
        assert parse_pages(",") == frozenset()

    @pytest.mark.parametrize("bad", ["0", "-1", "a", "1-b", "1-", "-"])
    def test_invalid(self, bad):
        with pytest.raises(ValueError):
            parse_pages(bad)


class TestPageSelection:
    def test_kernel_equals_oracle_with_pages(self):
        docs = generate_documents(250, 42)
        batch = to_arrow(docs).combine_chunks().to_batches()[0]
        sel = frozenset({1, 3})
        res = _process_batch(batch, True, sel).to_pylist()
        gold = {r.doc_id: r for r in oracle.extract_corpus(docs, True, sel)}
        for r in res:
            g = gold[r["doc_id"]]
            eng = [(s["kind"], s["text"], s["media_ref"], s["order"])
                   for s in r["out_spans"]]
            exp = [(s.kind, s.text, s.media_ref, s.order) for s in g.out_spans]
            assert eng == exp and r["success"] == g.success and r["error"] == g.error, (
                r["doc_id"])

    def test_out_of_range_errors(self):
        spans = [
            {"kind": "text", "text": "p1", "media_ref": "", "offset": 0},
            {"kind": "page_break", "text": "", "media_ref": "", "offset": 1},
            {"kind": "text", "text": "p2", "media_ref": "", "offset": 2},
        ]
        r = oracle.extract_document("d", spans, pages=frozenset({5}))
        assert not r.success and r.error == "no valid pages selected"
        batch = to_arrow([("d", spans)]).combine_chunks().to_batches()[0]
        k = _process_batch(batch, True, frozenset({5})).to_pylist()[0]
        assert not k["success"] and k["error"] == "no valid pages selected"

    def test_selected_page_keeps_original_number(self):
        spans = [
            {"kind": "text", "text": "p1", "media_ref": "", "offset": 0},
            {"kind": "page_break", "text": "", "media_ref": "", "offset": 1},
            {"kind": "text", "text": "p2", "media_ref": "", "offset": 2},
        ]
        r = oracle.extract_document("d", spans, pages=frozenset({2}))
        assert [s.text for s in r.out_spans] == ["## Page 2", "p2"]

    def test_non_paged_docs_ignore_pages(self):
        spans = [{"kind": "text", "text": "hello world", "media_ref": "", "offset": 0}]
        r = oracle.extract_document("d", spans, pages=frozenset({7}))
        assert r.success and r.n_spans == 2


class TestMarkdownRender:
    def test_matches_oracle_render(self, spark, tmpdir_path):
        import os

        import pyarrow.parquet as pq

        from ocr_toolkit_spark.operators.extract import extract_spans
        from ocr_toolkit_spark.pipeline import render_markdown_col

        docs = generate_documents(120, 42)
        d = tmpdir_path
        pq.write_table(to_arrow(docs), os.path.join(d, "docs.parquet"))
        out = extract_spans(
            spark.read.parquet(os.path.join(d, "docs.parquet"))
        ).withColumn("markdown", render_markdown_col())
        got = {r.doc_id: r.markdown for r in out.select("doc_id", "markdown").collect()}
        for doc_id, spans in docs:
            exp = oracle.render_markdown(oracle.extract_document(doc_id, spans))
            assert got[doc_id] == exp, doc_id


class TestEmptySelection:
    def test_empty_selection_yields_error_rows_not_crash(self):
        """r6c review: pages=frozenset() (parse_pages(',') by documented
        design) used to hit min() of an empty set inside the kernel and
        kill the whole task; the contract is per-doc error rows matching
        the oracle ('no valid pages selected'), with non-paged docs
        unaffected."""
        docs = generate_documents(120, 42)
        batch = to_arrow(docs).combine_chunks().to_batches()[0]
        res = {r["doc_id"]: r
               for r in _process_batch(batch, True, frozenset()).to_pylist()}
        assert len(res) == len(docs)
        gold = {r.doc_id: r
                for r in oracle.extract_corpus(docs, True, frozenset())}
        n_paged = 0
        for did, g in gold.items():
            r = res[did]
            assert r["success"] == g.success, did
            assert r["error"] == g.error, did
            if g.error == "no valid pages selected":
                n_paged += 1
                assert r["out_spans"] == []
        assert n_paged > 0, "fixture corpus must contain paged docs"
