"""Seed-fixed format-path fuzzers: kernel vs oracle over targeted hostile
inputs per format family. These are the deterministic, heavier cousins of
the hypothesis soup in test_property.py — each caught-class gets its own
alphabet (round 2 caught a real html tag-name whitespace divergence this
way). Counts are trimmed for CI speed; the development harness runs 10×."""

import random
import string

from ocr_toolkit_spark import oracle
from ocr_toolkit_spark.fixtures import to_arrow
from ocr_toolkit_spark.operators.extract import _process_batch


def _assert_docs_match(docs, with_images=True, pages=None):
    batch = to_arrow(docs).combine_chunks().to_batches()[0]
    res = _process_batch(batch, with_images, pages).to_pylist()
    dd = dict(docs)
    for r in res:
        g = oracle.extract_document(r["doc_id"], dd[r["doc_id"]], with_images,
                                    pages)
        eng = [(s["kind"], s["text"], s["media_ref"], s["order"])
               for s in r["out_spans"]]
        exp = [(s.kind, s.text, s.media_ref, s.order) for s in g.out_spans]
        assert eng == exp, r["doc_id"]
        assert r["success"] == g.success and r["error"] == g.error, r["doc_id"]


def test_pipeline_quality_over_rendered_output(spark, tmpdir_path):
    """E2E T10 loop: extract → render_markdown_col → quality columns must
    equal the oracle's extract → render → quality_score per document
    (markdown bytes AND scores), on a fresh-seed corpus."""
    import os

    from ocr_toolkit_spark.fixtures import generate_documents, write_corpus
    from ocr_toolkit_spark.operators.extract import extract_spans
    from ocr_toolkit_spark.operators.textstats import with_quality
    from ocr_toolkit_spark.pipeline import render_markdown_col

    corpus = os.path.join(tmpdir_path, "docs.parquet")
    write_corpus(corpus, n_docs=200, seed=777)
    docs = dict(generate_documents(200, 777))
    rendered = extract_spans(spark.read.parquet(corpus)).withColumn(
        "markdown", render_markdown_col())
    q = with_quality(rendered, "markdown")
    for r in q.select("doc_id", "markdown", "total_score",
                      "error_penalty").collect():
        g = oracle.extract_document(r["doc_id"], docs[r["doc_id"]])
        md = oracle.render_markdown(g)
        exp = oracle.quality_score(md)
        assert r["markdown"] == md, r["doc_id"]
        assert abs(r["total_score"] - exp["total_score"]) < 1e-9, r["doc_id"]
        assert abs(r["error_penalty"] - exp["error_penalty"]) < 1e-9, r["doc_id"]


def test_fuzz_quality_formula(spark):
    """T10 must equal the oracle (Python re semantics) on hostile text:
    CJK word chars, control-char whitespace, ideographic space, unicode
    digits. r2 caught two real divergences here: F.trim strips only ASCII
    spaces (vs Python .strip()), and Java ASCII \\w vs Python unicode \\w."""
    from ocr_toolkit_spark.operators.textstats import with_quality

    rng = random.Random(31337)
    # \r/NEL/LS: Java multiline ^ anchors after these without UNIX_LINES —
    # locks the (?dm) fix (r3)
    alpha = (string.ascii_letters + string.digits
             + " \n\t#-*.•!@$%^&*(){}[]\"'中文字?!;:,\x1c\x1f\xa0　"
             + "\r\x85\u2028")
    texts = ["".join(rng.choice(alpha) for _ in range(rng.randrange(0, 250)))
             for _ in range(700)]
    texts += ["1. numbered\n2. list", "#no space", "# with space", "\n\n\n\n",
              "   ", "a" * 5, "中 a 中", "١٢٣ arabic digits", "①②③",
              "\nleading newline", "trailing tab\t"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id int, text string")
    rows = with_quality(df, "text", include_repeat_penalty=True).collect()
    for r in rows:
        exp = oracle.quality_score(texts[r.id])
        for k in ("length_score", "structure_score", "diversity_score",
                  "error_penalty", "total_score"):
            assert abs(getattr(r, k) - exp[k]) < 1e-9, (
                r.id, k, getattr(r, k), exp[k], texts[r.id][:60])


def test_fuzz_html_control_chars():
    rng = random.Random(99991)
    alpha = (string.ascii_letters + string.digits
             + " \n\t#|-*.!()[]<>/\"'?=&;中文字\x1f\x1c\xa0\r")
    kinds = ["text", "heading", "html", "image", "table_row", "page_break",
             "bytes", "mystery", ""]
    for trial in range(60):
        docs = []
        for i in range(10):
            spans = [{"kind": rng.choice(kinds),
                      "text": "".join(rng.choice(alpha)
                                      for _ in range(rng.randrange(0, 120)))
                      if rng.random() < 0.9 else None,
                      "media_ref": "",
                      "offset": rng.randrange(-5, 50) if rng.random() < 0.9
                      else None}
                     for _ in range(rng.randrange(0, 14))]
            docs.append((f"d{trial}_{i}", spans if rng.random() < 0.95 else None))
        _assert_docs_match(docs, with_images=rng.random() < 0.5)


def test_fuzz_bytes_decode():
    rng = random.Random(777)
    for trial in range(40):
        docs = []
        for i in range(10):
            spans = []
            for _ in range(rng.randrange(1, 4)):
                mode = rng.randrange(4)
                if mode == 0:
                    payload = ("中文 test " * rng.randrange(1, 4)).encode("utf-8")
                elif mode == 1:
                    payload = "中文内容".encode("gbk")
                elif mode == 2:
                    payload = bytes(rng.randrange(128, 256)
                                    for _ in range(rng.randrange(1, 9)))
                else:
                    payload = bytes(rng.randrange(256)
                                    for _ in range(rng.randrange(0, 12)))
                hx = payload.hex()
                if rng.random() < 0.2:  # odd length / garbage / spaces
                    hx = hx + rng.choice(["f", "zz", " 0a ", ""])
                spans.append({"kind": "bytes", "text": hx, "media_ref": "",
                              "offset": rng.randrange(0, 20)})
            docs.append((f"b{trial}_{i}", spans))
        _assert_docs_match(docs)


def test_fuzz_paged_with_selection():
    rng = random.Random(4242)
    alpha = string.ascii_letters + " \n#<>!"
    for trial in range(40):
        docs = []
        for i in range(8):
            spans, off = [], 0
            for _ in range(rng.randrange(1, 16)):
                k = rng.choice(["text", "heading", "image", "page_break",
                                "page_break"])
                spans.append({"kind": k,
                              "text": "".join(rng.choice(alpha)
                                              for _ in range(rng.randrange(0, 60)))
                              if k != "page_break" else "",
                              "media_ref": f"m{off}" if k == "image" else "",
                              "offset": off})
                off += rng.randrange(0, 3)  # duplicate offsets too
            docs.append((f"p{trial}_{i}", spans))
        sel = (frozenset(rng.sample(range(1, 12), rng.randrange(1, 5)))
               if rng.random() < 0.7 else None)
        _assert_docs_match(docs, with_images=rng.random() < 0.5, pages=sel)


def test_fuzz_sheet_hostile_cells():
    rng = random.Random(5150)
    cells = ["", "42", "-7", "3.0", "3.14159", "1e999", "-1e999",
             "9" * 400 + ".0", "2024-01-02T03:04:05", "2024-13-99T99:99:99",
             "a|b", "x" * 150, "nan", "inf", "+7", "  3 ", "1.", ".5",
             "0.0", "-0.0", "1e3", "中文", "1e-999", "0e0", "1E2"]
    for trial in range(40):
        docs = []
        for i in range(8):
            spans, off = [], 0
            for _ in range(rng.randrange(1, 10)):
                if rng.random() < 0.25:
                    spans.append({"kind": "heading",
                                  "text": rng.choice(["S1", "", "  ", "名"]),
                                  "media_ref": "", "offset": off})
                else:
                    spans.append({"kind": "table_row",
                                  "text": "\x1f".join(
                                      rng.choice(cells)
                                      for _ in range(rng.randrange(1, 6))),
                                  "media_ref": "", "offset": off})
                off += rng.randrange(0, 3)
            docs.append((f"s{trial}_{i}", spans))
        _assert_docs_match(docs)


def test_fuzz_markdown_dispatch_boundary():
    """The markdown route hinges on the FIRST non-empty trimmed text span
    matching '^#{1,6} ' — fuzz texts that sit right on that boundary
    (hash runs of every length, missing space, leading whitespace that
    trims away, empty first spans)."""
    rng = random.Random(246810)
    prefixes = ["#", "## ", "####### ", "# ", "  # ", "\n# ", "#x", "", " ",
                "\t#### t", "#\u00a0nbsp-after-hash", "###### six", "##"]
    tails = ["body", "", "line\nline", "中文", "# nested"]
    for trial in range(40):
        docs = []
        for i in range(10):
            spans, off = [], 0
            for _ in range(rng.randrange(1, 6)):
                spans.append({
                    "kind": rng.choice(["text", "heading"]),
                    "text": rng.choice(prefixes) + rng.choice(tails),
                    "media_ref": "",
                    "offset": off,
                })
                off += rng.randrange(0, 3)
            docs.append((f"m{trial}_{i}", spans))
        _assert_docs_match(docs, with_images=rng.random() < 0.5)
