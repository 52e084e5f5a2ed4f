r"""North-star equality against the reference's OWN checked-in golden outputs.

The reference repo ships real converter outputs of its fixture PDF "2":

- /root/reference/tests/output/test_with_images/2.md   (layout OCR, <img> divs)
- /root/reference/tests/output/paddleocr_vl/2.md       (layout OCR, <img> divs)

These files ARE "the reference converter outputs on its own fixture corpus"
(north_star).  This test parses each golden into the expected ordered span
sequence (kind, text, media_ref, order), constructs the equivalent input
span document, and asserts BOTH the single-node oracle and the vectorized
Spark kernel reproduce it byte-for-byte in both image modes.

Expected-side rules come from the reference, not from our oracle:

- block structure: the reference joins markdown parts with "\n\n"
  (openocr_doc_handler.py:275) — blocks = split on blank lines, stripped,
  empties dropped.
- with_images=True: the reference rewrites img dir prefixes
  "](imgs/" / 'src="imgs/' / "src='imgs/" to a copied dir name
  (openocr_doc_handler.py:325-328); the engine's deterministic substitute
  is "media/" (SPANS.md §3.6), so expected text applies the same three
  replaces with "media".
- with_images=False: the reference strips image markup with exactly
  re.sub(r"!\[.*?\]\([^)]+\)", ""), re.sub(r"<img[^>]*>", "", IGNORECASE),
  re.sub(r"\n{3,}", "\n\n") + strip (openocr_doc_handler.py:333-336) —
  expected = those regexes applied to the whole golden, re-split into
  blocks.  Note the reference KEEPS the emptied <div> shells; so must we.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from ocr_toolkit_spark import oracle
from ocr_toolkit_spark.fixtures import to_arrow
from ocr_toolkit_spark.operators.extract import _process_batch

GOLDENS = [
    Path("/root/reference/tests/output/test_with_images/2.md"),
    Path("/root/reference/tests/output/paddleocr_vl/2.md"),
]

# The reference checkout is optional: without it there are no goldens to
# compare (the engine's own checked-in goldens live in
# test_checked_in_golden.py).
pytestmark = pytest.mark.skipif(
    not all(g.exists() for g in GOLDENS),
    reason="reference checkout absent")

_MD_HEADING = re.compile(r"^#{1,6} ")
_IMG_DIV = re.compile(
    r'^<div style="text-align: center;"><img src="([^"]+)"[^>]*/></div>$'
)
# the reference's exact no-images strip (openocr_doc_handler.py:333-336)
_MD_IMG = re.compile(r"!\[.*?\]\([^)]+\)")
_HTML_IMG = re.compile(r"<img[^>]*>", re.IGNORECASE)
_NL3 = re.compile(r"\n{3,}")


def _blocks(text: str) -> list[str]:
    return [b.strip() for b in re.split(r"\n\s*\n", text) if b.strip()]


def _rewrite_imgs(t: str) -> str:
    # SPANS.md §3.6: deterministic substitute for imgs_{epoch_ms} rename
    return (t.replace("](imgs/", "](media/")
             .replace('src="imgs/', 'src="media/')
             .replace("src='imgs/", "src='media/"))


def _expected_markdown_spans(golden: str, with_images: bool):
    """Expected (kind, text, media_ref, order) for the markdown-format run."""
    if with_images:
        blocks = [_rewrite_imgs(b) for b in _blocks(golden)]
    else:
        stripped = _NL3.sub("\n\n", _HTML_IMG.sub("", _MD_IMG.sub("", golden))).strip()
        blocks = _blocks(stripped)
    return [
        ("heading" if _MD_HEADING.match(b) else "text", b, "", i)
        for i, b in enumerate(blocks)
    ]


def _tuples(result_spans):
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in result_spans]


def _run_both(doc_id: str, spans: list[dict], with_images: bool):
    g = oracle.extract_document(doc_id, spans, with_images)
    batch = to_arrow([(doc_id, spans)]).combine_chunks().to_batches()[0]
    k = _process_batch(batch, with_images).to_pylist()[0]
    assert g.success and k["success"]
    return ([(s.kind, s.text, s.media_ref, s.order) for s in g.out_spans],
            _tuples(k["out_spans"]))


@pytest.mark.parametrize("path", GOLDENS, ids=lambda p: p.parent.name)
@pytest.mark.parametrize("with_images", [True, False], ids=["imgs", "noimgs"])
def test_markdown_passthrough_equals_reference_golden(path, with_images):
    """Golden blocks as text spans of a markdown-format doc: the engine's
    out_spans must equal the span sequence parsed from the reference file."""
    golden = path.read_text(encoding="utf-8")
    spans = [
        {"kind": "text", "text": b, "media_ref": "", "offset": i}
        for i, b in enumerate(_blocks(golden))
    ]
    expected = _expected_markdown_spans(golden, with_images)
    got_oracle, got_kernel = _run_both(path.parent.name, spans, with_images)
    assert got_oracle == expected
    assert got_kernel == expected


@pytest.mark.parametrize("path", GOLDENS, ids=lambda p: p.parent.name)
def test_rendered_markdown_roundtrips_reference_golden(path):
    """render_markdown on the with_images run must reproduce the reference
    file byte-for-byte modulo the two documented deterministic substitutions:
    "\n\n" block joins (reference: openocr_doc_handler.py:275) and the
    media/ dir rename."""
    golden = path.read_text(encoding="utf-8")
    spans = [
        {"kind": "text", "text": b, "media_ref": "", "offset": i}
        for i, b in enumerate(_blocks(golden))
    ]
    g = oracle.extract_document(path.parent.name, spans, True)
    rendered = oracle.render_markdown(g)
    assert rendered == "\n\n".join(_rewrite_imgs(b) for b in _blocks(golden))


@pytest.mark.parametrize("path", GOLDENS, ids=lambda p: p.parent.name)
@pytest.mark.parametrize("with_images", [True, False], ids=["imgs", "noimgs"])
def test_paged_with_image_spans_equals_reference_golden(path, with_images):
    """Same golden lifted into the typed span model: standalone <img> div
    blocks become kind='image' spans with media_ref=src (the input_hint
    shape).  Expectation derived from the golden: a '## Page 1' header, then
    each block in reference order — image divs as image spans (media_ref
    passed through verbatim when with_images, dropped entirely when not),
    other blocks as heading/text."""
    golden = path.read_text(encoding="utf-8")
    spans, expected = [], [("heading", "## Page 1", "", 0)]
    order = 1
    for i, b in enumerate(_blocks(golden)):
        m = _IMG_DIV.match(b)
        if m:
            spans.append({"kind": "image", "text": "", "media_ref": m.group(1),
                          "offset": i})
            if with_images:
                expected.append(("image", "", m.group(1), order))
                order += 1
        elif _MD_HEADING.match(b):
            spans.append({"kind": "heading", "text": b, "media_ref": "",
                          "offset": i})
            expected.append(("heading", b, "", order))
            order += 1
        else:
            spans.append({"kind": "text", "text": b, "media_ref": "", "offset": i})
            expected.append(("text", b, "", order))
            order += 1
    # a page_break span marks this as a paged doc; placed at the end so page 1
    # holds every block (trailing empty page 2 emits nothing — SPANS.md §3.4)
    spans.append({"kind": "page_break", "text": "", "media_ref": "",
                  "offset": len(spans)})
    got_oracle, got_kernel = _run_both(path.parent.name, spans, with_images)
    assert got_oracle == expected
    assert got_kernel == expected
