"""The extraction operator — ONE Arrow-batched `mapInArrow` stage.

Implements docs/SPANS.md over record batches: content-sniffing dispatch,
per-format assembly (text wrap / markdown passthrough / encoding fallback /
page assembly / sheet tables / HTML boilerplate strip), image keep-or-strip,
and per-document failure containment. Replaces the reference's per-file Python
loop (/root/reference/ocr_toolkit/cli/convert.py:536-540) and its processor
dispatch (:380-445).

Performance shape (measured; see BENCH/BASELINE.md):
- span columns stay Arrow end-to-end — string transforms are
  `pyarrow.compute` kernels (C++), never pandas object-dtype loops;
  converting 2M span texts to Python objects costs more than every
  transform combined;
- reading order is ONE numpy lexsort on (doc, offset, position) — `order`
  derives from data, never batch position (SPANS.md §5);
- per-format emissions are numpy index arrays into the transformed Arrow
  arrays; the final span text column is assembled with `pc.take`/`pc.if_else`
  (zero Python-string round-trips for the majority formats);
- Python touches only the minority kernels that are inherently sequential:
  HTML block parse, sheet table stringify, bytes decode — each over just the
  rows of that format, amortized across the batch.

A document that fails (bad encoding, hostile content) yields an error row —
never a task failure (reference: ocr_processor_wrapper.py:135-149).

Whitespace note: trimming uses Arrow `utf8_trim_whitespace` (Unicode
White_Space); the oracle uses Python `str.strip()`. These agree on all
characters except U+001C..U+001F — documented in docs/SPANS.md §2.1.
"""

from __future__ import annotations

import itertools
import os
import time
from collections.abc import Iterator
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from .. import io as tio
from ..functions.cells import format_cells
from ..functions.html import HtmlBudgetExceeded, extract_blocks
from ..schema import EXTRACT_MANIFEST_SCHEMA, EXTRACTED_SCHEMA

KNOWN_KINDS = ("text", "heading", "html", "image", "table_row", "page_break", "bytes")
_MD_HEADER_RE = "^#{1,6} "

_KIND_NAMES = pa.array(["heading", "text", "table", "image"], pa.string())
K_HEADING, K_TEXT, K_TABLE, K_IMAGE = 0, 1, 2, 3

_OUT_FIELD_NAMES = [f.name for f in EXTRACTED_SCHEMA.fields]
_OUT_SPAN_FIELDS = [
    pa.field("kind", pa.string(), nullable=False),
    pa.field("text", pa.string(), nullable=False),
    pa.field("media_ref", pa.string(), nullable=False),
    pa.field("order", pa.int32(), nullable=False),
]


class _Emissions:
    """Column accumulator for output spans.

    text source encoding: gen_idx >= 0 → generated-string table;
    else raw_ref >= 0 → trimmed RAW span text; else ref → trimmed
    TRANSFORMED span text. media likewise (gen or span media_ref).
    """

    def __init__(self) -> None:
        self.di: list[np.ndarray] = []
        self.sort: list[np.ndarray] = []
        self.kind: list[np.ndarray] = []
        self.ref: list[np.ndarray] = []
        self.raw_ref: list[np.ndarray] = []
        self.gen_idx: list[np.ndarray] = []
        self.media_ref: list[np.ndarray] = []
        self.media_gen: list[np.ndarray] = []
        self.gen_strings: list[str] = [""]  # slot 0 reserved: empty string

    def gen(self, s: str) -> int:
        self.gen_strings.append(s)
        return len(self.gen_strings) - 1

    def add(
        self,
        di: np.ndarray,
        sort: np.ndarray,
        kind: int | np.ndarray,
        ref: np.ndarray | None = None,
        raw_ref: np.ndarray | None = None,
        gen_idx: np.ndarray | None = None,
        media_ref: np.ndarray | None = None,
        media_gen: np.ndarray | None = None,
    ) -> None:
        n = len(di)
        if n == 0:
            return
        neg = np.full(n, -1, dtype=np.int64)
        self.di.append(np.asarray(di, np.int64))
        self.sort.append(np.asarray(sort, np.float64))
        self.kind.append(
            np.full(n, kind, np.int8) if np.isscalar(kind) else np.asarray(kind, np.int8)
        )
        self.ref.append(neg if ref is None else np.asarray(ref, np.int64))
        self.raw_ref.append(neg if raw_ref is None else np.asarray(raw_ref, np.int64))
        self.gen_idx.append(neg if gen_idx is None else np.asarray(gen_idx, np.int64))
        self.media_ref.append(neg if media_ref is None else np.asarray(media_ref, np.int64))
        self.media_gen.append(neg if media_gen is None else np.asarray(media_gen, np.int64))


def _transform_text(arr: pa.Array, with_images: bool) -> pa.Array:
    """Image keep/strip — SPANS.md §3.6, openocr_doc_handler.py:302-338.
    All RE2/substring kernels, C++-side."""
    if with_images:
        arr = pc.replace_substring(arr, "](imgs/", "](media/")
        arr = pc.replace_substring(arr, 'src="imgs/', 'src="media/')
        arr = pc.replace_substring(arr, "src='imgs/", "src='media/")
        return arr
    arr = pc.replace_substring_regex(arr, r"!\[.*?\]\([^)]+\)", "")
    arr = pc.replace_substring_regex(arr, r"(?i)<img[^>]*>", "")
    arr = pc.replace_substring_regex(arr, r"\n{3,}", "\n\n")
    return pc.utf8_trim_whitespace(arr)


def _decode_hex_bytes(
    values: list[str],
    doc_of: np.ndarray | None = None,
    budget_s: float | None = None,
) -> tuple[list[str], np.ndarray, set[int]]:
    """UTF-8 strict → GBK strict fallback (text_file_processor.py:70-78).

    `doc_of[i]` = owning doc of values[i] (doc-contiguous, span order) and
    `budget_s` enable the per-doc time budget on this per-span Python
    decode loop (check-after, like the HTML kernel): docs whose decode
    exceeded the budget are returned in the third slot."""
    decoded: list[str] = []
    failed = np.zeros(len(values), dtype=bool)
    over_budget: set[int] = set()
    timed = budget_s is not None and doc_of is not None
    cur_doc, t_doc = -1, 0.0
    for i, v in enumerate(values):
        if timed:
            d = int(doc_of[i])
            if d != cur_doc:
                cur_doc, t_doc = d, time.perf_counter()
            elif cur_doc in over_budget:
                # cooperative preemption (r6c review): once a doc is over
                # budget, STOP paying for its remaining spans — it is
                # already destined for a timeout error row, so the decode
                # output is never read
                decoded.append("")
                continue
        try:
            raw = bytes.fromhex((v or "").strip())
            try:
                decoded.append(raw.decode("utf-8"))
            except UnicodeDecodeError:
                decoded.append(raw.decode("gbk"))
        except (ValueError, UnicodeDecodeError):
            decoded.append("")
            failed[i] = True
        if timed and time.perf_counter() - t_doc > budget_s:
            over_budget.add(cur_doc)
    return decoded, failed, over_budget


def _first_index_per_group(group_ids: np.ndarray, candidates: np.ndarray) -> dict[int, int]:
    """candidates: sorted indices; returns {group: first candidate index}."""
    if len(candidates) == 0:
        return {}
    g = group_ids[candidates]
    uniq, first_pos = np.unique(g, return_index=True)
    return dict(zip(uniq.tolist(), candidates[first_pos].tolist()))


def _process_batch(
    batch: pa.RecordBatch,
    with_images: bool,
    pages: frozenset[int] | None = None,
    profile: bool = False,
    doc_budget_ms: float | None = None,
    include_spans: bool = True,
) -> pa.RecordBatch:
    t0 = time.perf_counter()
    # Per-document time budget (E-series poison-pill containment; the
    # reference applies its per-file timeout to EVERY format —
    # cli/benchmark.py:45 300 s, strategies/libreoffice.py:31 180 s).
    # Applied to all three per-doc Python kernels: HTML parse (the only
    # super-linear one), sheet split/format/assembly, and hex/GBK bytes
    # decode. COOPERATIVE PREEMPTION (r4 verdict #5): the HTML and sheet
    # loops check their deadline mid-parse at a stride and abort, so an
    # over-budget doc costs ~its budget, not its parse time; it becomes an
    # error row, its spans are dropped in finalize, and the rest of the
    # batch completes. Residual check-after covers the C-level regex
    # pre-passes. `is not None`: a budget of 0 means STRICTEST containment
    # (every per-doc pass over 0 ms is flagged), not "disabled" (r3 review).
    budget_s = doc_budget_ms / 1000.0 if doc_budget_ms is not None else None
    _timeout_err = (
        f"timeout: document exceeded {doc_budget_ms:g} ms budget"
        if doc_budget_ms is not None
        else ""
    )
    _marks: list[tuple[str, float]] = []

    def mk(name: str) -> None:
        # A4 named-section profiler (reference utils/profiling.py:26-50);
        # negligible cost (one perf_counter per section per batch)
        _marks.append((name, time.perf_counter()))
    n_docs = batch.num_rows
    doc_id_arr = batch.column("doc_id")
    spans_col = batch.column("spans")

    lengths = pc.list_value_length(spans_col).to_numpy(zero_copy_only=False)
    lengths = np.nan_to_num(lengths).astype(np.int64)
    no_spans = lengths == 0

    flat = spans_col.flatten()
    n_spans = len(flat)
    di = np.repeat(np.arange(n_docs, dtype=np.int64), lengths)

    kind_a = pc.fill_null(flat.field("kind"), "")
    text_a = pc.fill_null(flat.field("text"), "")
    media_a = pc.fill_null(flat.field("media_ref"), "")
    offset = np.nan_to_num(
        flat.field("offset").to_numpy(zero_copy_only=False)
    ).astype(np.int64)

    # reading order: ONE stable sort on (doc, offset, array position) — §0
    perm = np.lexsort((np.arange(n_spans), offset, di))
    identity = np.array_equal(perm, np.arange(n_spans))
    if not identity:
        perm_pa = pa.array(perm)
        kind_a = pc.take(kind_a, perm_pa)
        text_a = pc.take(text_a, perm_pa)
        media_a = pc.take(media_a, perm_pa)
        # di is unchanged: doc-major sort preserves the repeat pattern

    kind_np = kind_a.to_numpy(zero_copy_only=False)  # small distinct set

    # ---- dispatch (SPANS.md §1) ------------------------------------------
    is_html = kind_np == "html"
    is_tr = kind_np == "table_row"
    is_pb = kind_np == "page_break"
    is_by = kind_np == "bytes"
    is_texty = (kind_np == "text") | (kind_np == "heading")
    is_image = kind_np == "image"
    is_known = is_html | is_tr | is_pb | is_by | is_texty | is_image

    def doc_any(mask: np.ndarray) -> np.ndarray:
        acc = np.zeros(n_docs, dtype=bool)
        if mask.any():
            acc[di[mask]] = True
        return acc

    has_html, has_tr, has_pb, has_by, has_texty, has_known = (
        doc_any(m) for m in (is_html, is_tr, is_pb, is_by, is_texty, is_known)
    )

    # string passes run on the TEXTY SUBSET only (text/heading spans) —
    # html/table_row/page_break/bytes spans never need trimming or image
    # rewriting, and skipping them cuts the dominant memory traffic
    texty_pos = np.nonzero(is_texty)[0]
    inv = np.full(n_spans, -1, dtype=np.int64)
    inv[texty_pos] = np.arange(len(texty_pos))
    raw_sub = pc.take(text_a, pa.array(texty_pos))
    texty_trim = pc.utf8_trim_whitespace(raw_sub)  # SOURCE: raw trimmed
    texty_trim_ne = (
        pc.not_equal(texty_trim, "").to_numpy(zero_copy_only=False)
        if len(texty_pos)
        else np.empty(0, dtype=bool)
    )
    raw_nonempty = np.zeros(n_spans, dtype=bool)
    raw_nonempty[texty_pos] = texty_trim_ne

    texty_ne = np.nonzero(is_texty & raw_nonempty)[0]
    firsts = _first_index_per_group(di, texty_ne)
    is_md_doc = np.zeros(n_docs, dtype=bool)
    if firsts:
        fidx = np.fromiter(firsts.values(), dtype=np.int64)
        fdocs = np.fromiter(firsts.keys(), dtype=np.int64)
        md_match = pc.match_substring_regex(
            pc.take(texty_trim, pa.array(inv[fidx])), _MD_HEADER_RE
        ).to_numpy(zero_copy_only=False)
        is_md_doc[fdocs[md_match]] = True

    fmt = np.select(
        [no_spans, has_html, has_tr, has_pb, has_by, has_texty & is_md_doc,
         has_texty, has_known],
        ["error", "html", "sheet", "paged", "bytes_text", "markdown", "text", "text"],
        default="error",
    )
    errors = np.full(n_docs, "", dtype=object)
    errors[no_spans] = "empty document: no spans"
    errors[(fmt == "error") & ~no_spans] = "unsupported content: no known span kinds"

    span_fmt = fmt[di] if n_spans else np.empty(0, dtype=fmt.dtype)

    # ---- transformed text (image keep/strip) -------------------------------
    # keep mode: the imgs/ prefix rewrite only touches spans that actually
    # contain "imgs/" — match once (one scan), rewrite just that sliver, and
    # let every other span alias the raw trimmed source (zero extra copies).
    n_texty = len(texty_pos)
    trans_local = np.full(n_texty, -1, dtype=np.int64)  # idx into trans_table
    if with_images:
        if n_texty:
            matched_sub = pc.match_substring(raw_sub, "imgs/").to_numpy(
                zero_copy_only=False
            )
        else:
            matched_sub = np.empty(0, dtype=bool)
        m_idx = np.nonzero(matched_sub)[0]
        if len(m_idx):
            trans_table = pc.utf8_trim_whitespace(
                _transform_text(pc.take(raw_sub, pa.array(m_idx)), True)
            )
            trans_local[m_idx] = np.arange(len(m_idx))
            eff_ne = texty_trim_ne.copy()
            eff_ne[m_idx] = pc.not_equal(trans_table, "").to_numpy(
                zero_copy_only=False
            )
        else:
            trans_table = pa.array([], pa.string())
            eff_ne = texty_trim_ne
    else:
        trans_table = _transform_text(raw_sub, False)  # strip mode trims
        trans_local = np.arange(n_texty, dtype=np.int64)
        eff_ne = (
            pc.not_equal(trans_table, "").to_numpy(zero_copy_only=False)
            if n_texty
            else np.empty(0, dtype=bool)
        )
    trans_nonempty = np.zeros(n_spans, dtype=bool)
    trans_nonempty[texty_pos] = eff_ne

    def texty_sources(pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(ref, raw_ref) for texty global positions: transformed spans point
        into trans_table, untouched spans alias the raw trimmed source."""
        li = inv[pos]
        tl = trans_local[li]
        return np.where(tl >= 0, tl, -1), np.where(tl >= 0, -1, li)

    em = _Emissions()
    doc_ids_py: list[str] | None = None  # lazy; needed for wrap headings

    def doc_ids() -> list[str]:
        nonlocal doc_ids_py
        if doc_ids_py is None:
            doc_ids_py = doc_id_arr.to_pylist()
        return doc_ids_py

    seq = np.arange(n_spans, dtype=np.float64)

    mk("setup_dispatch")
    # ---- bytes decode (SPANS.md §3.3) --------------------------------------
    decoded_trim: pa.Array | None = None
    bytes_pos = np.nonzero((span_fmt == "bytes_text") & is_by)[0]
    if len(bytes_pos):
        vals = pc.take(text_a, pa.array(bytes_pos)).to_pylist()
        decoded, dfailed, dover = _decode_hex_bytes(
            vals, di[bytes_pos], budget_s
        )
        errors[np.unique(di[bytes_pos[dfailed]])] = "decode error: not utf-8 or gbk"
        for d in dover:  # budget verdict wins over decode errors
            errors[d] = _timeout_err
        decoded_trim = pc.utf8_trim_whitespace(
            _transform_text(pa.array(decoded, pa.string()), with_images)
        )
        dec_nonempty = pc.not_equal(decoded_trim, "").to_numpy(zero_copy_only=False)

    mk("bytes_decode")
    # ---- text / bytes_text wrap (SPANS.md §3.1/3.3) -------------------------
    text_docs = np.nonzero((fmt == "text") | (fmt == "bytes_text"))[0]
    if len(text_docs):
        ids = doc_ids()
        gidx = np.array([em.gen(f"# {ids[d]}") for d in text_docs], np.int64)
        em.add(text_docs, np.full(len(text_docs), -1.0), K_HEADING, gen_idx=gidx)
        body = np.nonzero(
            ((span_fmt == "text") | (span_fmt == "bytes_text"))
            & is_texty & trans_nonempty
        )[0]
        refs, raws = texty_sources(body)
        em.add(di[body], seq[body], K_TEXT, ref=refs, raw_ref=raws)
        if len(bytes_pos):
            bsel = np.nonzero(dec_nonempty)[0]
            keep = bytes_pos[bsel]
            # ref into the decoded table via raw_ref=-1, gen=-1 → use dec map
            em.add(di[keep], seq[keep], K_TEXT,
                   ref=-(bsel.astype(np.int64)) - 2)  # encoded: -(i)-2 → decoded[i]

    # ---- markdown passthrough (SPANS.md §3.2) -------------------------------
    md_body = np.nonzero((span_fmt == "markdown") & is_texty & trans_nonempty)[0]
    if len(md_body):
        li = inv[md_body]
        tl = trans_local[li]
        eff = pc.take(texty_trim, pa.array(li))
        sel = tl >= 0
        if sel.any():
            eff = pc.if_else(
                pa.array(sel),
                pc.take(trans_table, pa.array(np.where(sel, tl, 0))),
                eff,
            )
        is_hdr = pc.match_substring_regex(eff, _MD_HEADER_RE).to_numpy(
            zero_copy_only=False
        )
        em.add(di[md_body], seq[md_body],
               np.where(is_hdr, K_HEADING, K_TEXT).astype(np.int8),
               ref=np.where(sel, tl, -1), raw_ref=np.where(sel, -1, li))

    mk("text_markdown")
    # ---- paged assembly (SPANS.md §3.4) -------------------------------------
    paged_span = span_fmt == "paged"
    if paged_span.any():
        pb_int = (paged_span & is_pb).astype(np.int64)
        gcs = np.cumsum(pb_int)
        starts = np.concatenate(([0], np.cumsum(lengths)))[:-1]
        prefix = np.concatenate(([0], gcs))[starts]  # pb count before doc start
        page_of = 1 + (gcs - pb_int) - prefix[di] if n_spans else np.empty(0, np.int64)

        if pages is not None:
            # page selection (SPANS.md §3.4.1): selected ∩ [1..n_pages] = ∅ → error
            pb_per_doc = np.bincount(di[paged_span & is_pb], minlength=n_docs)
            paged_docs = fmt == "paged"
            if pages:
                invalid = paged_docs & ((pb_per_doc + 1) < min(pages))
            else:
                # an EMPTY selection (parse_pages(",") by documented
                # design) selects no page of ANY doc — per-doc error
                # rows, matching the oracle; min() of an empty set would
                # kill the whole task instead (r6c review)
                invalid = paged_docs.copy()
            errors[invalid] = "no valid pages selected"

        ph = np.nonzero(paged_span & (kind_np == "heading") & raw_nonempty)[0]
        ptx = np.nonzero(paged_span & (kind_np == "text") & trans_nonempty)[0]
        body_parts = [ph, ptx]
        if with_images:
            pim = np.nonzero(paged_span & is_image)[0]
            body_parts.append(pim)
        body = np.sort(np.concatenate(body_parts))
        if pages is not None and len(body):
            body = body[np.isin(page_of[body], np.fromiter(pages, dtype=np.int64))]
        if len(body):
            # page headers: first body row of each (doc, page) group
            bdi, bpage = di[body], page_of[body]
            new_grp = np.ones(len(body), dtype=bool)
            new_grp[1:] = (bdi[1:] != bdi[:-1]) | (bpage[1:] != bpage[:-1])
            hdr_rows = body[new_grp]
            hdr_gen = np.array(
                [em.gen(f"## Page {p}") for p in page_of[hdr_rows]], np.int64
            )
            em.add(di[hdr_rows], seq[hdr_rows] - 0.5, K_HEADING, gen_idx=hdr_gen)
            hsel = np.isin(body, ph)
            tsel = np.isin(body, ptx)
            hrows = body[hsel]
            em.add(di[hrows], seq[hrows], K_HEADING, raw_ref=inv[hrows])
            trows = body[tsel]
            refs, raws = texty_sources(trows)
            em.add(di[trows], seq[trows], K_TEXT, ref=refs, raw_ref=raws)
            if with_images:
                isel = ~(hsel | tsel)
                irows = body[isel]
                em.add(di[irows], seq[irows], K_IMAGE,
                       gen_idx=np.zeros(len(irows), np.int64),
                       media_ref=irows)

    mk("paged")
    # ---- sheet assembly (SPANS.md §3.5) — minority, Python stringify --------
    sheet_rows = np.nonzero((span_fmt == "sheet") & (is_tr | (kind_np == "heading")))[0]
    sheet_docs = np.nonzero(fmt == "sheet")[0]
    if len(sheet_docs):
        ids = doc_ids()
        gidx = np.array([em.gen(f"# {ids[d]}") for d in sheet_docs], np.int64)
        em.add(sheet_docs, np.full(len(sheet_docs), -2.0), K_HEADING, gen_idx=gidx)
    if len(sheet_rows):
        s_di = di[sheet_rows]
        s_kind = kind_np[sheet_rows]
        s_text = pc.take(text_a, pa.array(sheet_rows)).to_pylist()
        s_seq = seq[sheet_rows]
        # vectorized cell formatting across ALL sheet cells of the batch
        row_mask = s_kind == "table_row"
        row_idx = np.nonzero(row_mask)[0]
        _OVERFLOW_ERR = "OverflowError: cannot convert float infinity to integer"
        # one per-doc budget across BOTH sheet phases (ADVICE r5 #3): the
        # cell-formatting pass records each doc's consumed seconds so the
        # segmentation/assembly clock starts already-charged — a
        # pathological doc aborts at ~budget total, not ~2× (matching the
        # reference's single per-file timeout, openocr_doc_handler.py).
        cells_elapsed: dict[int, float] = {}
        if len(row_idx) == 0:
            fmt_lists = []
        elif budget_s is None:
            # no budget: ONE fully-vectorized pass across all docs
            cell_lists = [s_text[i].split("\x1f") for i in row_idx]
            flat_np = np.array(
                [c for cl in cell_lists for c in cl], dtype=object
            )
            lens = np.array([len(cl) for cl in cell_lists])
            cuts = np.cumsum(lens)[:-1]
            formatted, nonfinite = format_cells(pd.Series(flat_np))
            fmt_flat = formatted.to_numpy(dtype=object)
            fmt_lists = [a.tolist() for a in np.split(fmt_flat, cuts)]
            if nonfinite.any():
                # per-doc containment (SPANS.md §4): the oracle's
                # format_cell raises OverflowError on ±inf and
                # extract_document turns that into an error row — mirror
                # the exact message, never fail the task.
                flat_doc = np.repeat(s_di[row_mask], lens)
                errors[np.unique(flat_doc[nonfinite])] = _OVERFLOW_ERR
        else:
            # budgeted: the row split AND the cell formatting run per doc
            # under its deadline, sub-chunked, so a hostile 100M-cell sheet
            # aborts at ~budget instead of stalling the task through the
            # batch-level pass (r4 verdict #5). Cells stay vectorized
            # WITHIN each 64k sub-chunk; only doc/chunk boundaries pay
            # Python overhead.
            fmt_lists = []
            row_docs = s_di[row_mask]
            starts = np.nonzero(np.r_[True, np.diff(row_docs) != 0])[0]
            ends = np.r_[starts[1:], len(row_docs)]
            for s0, e0 in zip(starts.tolist(), ends.tolist()):
                d = int(row_docs[s0])
                t_cells = time.perf_counter()
                doc_rows: list[list[str]] = []
                over = False
                for ri in range(s0, e0):
                    if (ri - s0) & 1023 == 0 and (
                        time.perf_counter() - t_cells > budget_s
                    ):
                        over = True
                        break
                    doc_rows.append(s_text[int(row_idx[ri])].split("\x1f"))
                if not over:
                    flat_np = np.array(
                        [c for cl in doc_rows for c in cl], dtype=object
                    )
                    lens = np.array([len(cl) for cl in doc_rows])
                    cuts = np.cumsum(lens)[:-1]
                    fmt_flat = np.empty(len(flat_np), dtype=object)
                    any_nonfinite = False
                    done = 0
                    for a in range(0, len(flat_np), 65536):
                        if time.perf_counter() - t_cells > budget_s:
                            over = True
                            break
                        b = min(a + 65536, len(flat_np))
                        fsub, nfsub = format_cells(pd.Series(flat_np[a:b]))
                        fmt_flat[a:b] = fsub.to_numpy(dtype=object)
                        any_nonfinite |= bool(nfsub.any())
                        done = b
                if over:
                    errors[d] = _timeout_err
                    # placeholders keep the fmt_lists cursor doc-aligned
                    fmt_lists.extend([[]] * (e0 - s0))
                    continue
                cells_elapsed[d] = time.perf_counter() - t_cells
                if any_nonfinite:
                    errors[d] = _OVERFLOW_ERR
                fmt_flat[done:] = ""
                fmt_lists.extend(a.tolist() for a in np.split(fmt_flat, cuts))
        # per-doc sheet segmentation (loop over sheet spans only)
        e_di, e_sort, e_kind, e_gen = [], [], [], []
        row_i = 0
        cur_doc = -1
        sheets: list[tuple[float, str, list[list[str]]]] = []

        def flush_doc(d: int, t_start: float) -> bool:
            """Assemble the doc's sheets; False = deadline hit mid-assembly
            (partial emissions are fine — finalize drops error-doc spans)."""
            for s0, name, rows in sheets:
                e_di.append(d); e_sort.append(s0); e_kind.append(K_HEADING)
                e_gen.append(em.gen(f"## Sheet: {name}"))
                if not rows:
                    e_di.append(d); e_sort.append(s0 + 0.5)
                    e_kind.append(K_TEXT); e_gen.append(em.gen("*(Empty sheet)*"))
                    continue
                max_cols = max(len(r) for r in rows)
                # stride scales with row width: wide rows are expensive
                # enough that a per-row clock check is noise
                stride_mask = 0 if max_cols >= 256 else 4095
                lines = []
                for i, r in enumerate(rows):
                    if (
                        budget_s is not None
                        and (i & stride_mask) == 0
                        and time.perf_counter() - t_start > budget_s
                    ):
                        # cooperative preemption (r4 verdict #5); the
                        # aborted sheet's slot is never appended, so the
                        # parallel emission arrays stay aligned
                        return False
                    padded = r + [""] * (max_cols - len(r))
                    lines.append("| " + " | ".join(padded) + " |")
                    if i == 0:
                        lines.append("| " + " | ".join(["---"] * max_cols) + " |")
                e_di.append(d); e_sort.append(s0 + 0.5)
                e_kind.append(K_TABLE); e_gen.append(em.gen("\n".join(lines)))
            return True

        # per-doc budget over the segmentation + stringify loop (the
        # unbounded per-doc Python here: a hostile 100M-cell sheet's
        # markdown assembly is linear but arbitrarily long). The batch-
        # vectorized format_cells pass above is outside the per-doc
        # window. Cooperative: the accumulation loop checks the deadline
        # at a stride and skips the doc's remaining rows once over; the
        # assembly loop aborts mid-flush; check-after remains as backstop.
        def close_doc(d: int, t_start: float, over: bool) -> None:
            if over:
                return  # preempted during accumulation: skip assembly
            if not flush_doc(d, t_start):
                errors[d] = _timeout_err
                return
            if budget_s is not None and time.perf_counter() - t_start > budget_s:
                errors[d] = _timeout_err

        t_doc = 0.0
        over_doc = False
        for j in range(len(sheet_rows)):
            d = int(s_di[j])
            if d != cur_doc:
                if cur_doc >= 0:
                    close_doc(cur_doc, t_doc, over_doc)
                cur_doc, sheets = d, []
                # a doc already flagged (e.g. over budget in the cell-
                # formatting phase) skips accumulation + assembly entirely
                # (guard on budget_s: with no budget _timeout_err is "",
                # which would match every clean doc's empty error slot)
                over_doc = budget_s is not None and errors[d] == _timeout_err
                # start the assembly clock already charged with the doc's
                # cell-formatting seconds: one deadline across both phases
                t_doc = time.perf_counter() - cells_elapsed.get(d, 0.0)
            is_heading = s_kind[j] == "heading"
            if not over_doc and (
                budget_s is not None
                and (j & 1023) == 0
                and time.perf_counter() - t_doc > budget_s
            ):
                over_doc = True
                errors[cur_doc] = _timeout_err
            if over_doc:
                if not is_heading:
                    row_i += 1  # fmt_lists cursor must stay doc-aligned
                continue
            if is_heading:
                sheets.append((float(s_seq[j]), s_text[j].strip() or "Sheet", []))
            else:
                if not sheets:
                    sheets.append((float(s_seq[j]), "Sheet1", []))
                sheets[-1][2].append(fmt_lists[row_i])
                row_i += 1
        if cur_doc >= 0:
            close_doc(cur_doc, t_doc, over_doc)
        em.add(np.asarray(e_di, np.int64), np.asarray(e_sort, np.float64),
               np.asarray(e_kind, np.int8), gen_idx=np.asarray(e_gen, np.int64))

    mk("sheet")
    # ---- html boilerplate strip (SPANS.md §3.7) — minority, Python parse ----
    html_rows = np.nonzero((span_fmt == "html") & is_html)[0]
    if len(html_rows):
        h_di = di[html_rows]
        h_text = pc.take(text_a, pa.array(html_rows)).to_pylist()
        e_di, e_sort, e_kind, e_gen, e_mgen = [], [], [], [], []
        # per-doc budget (see top of _process_batch): the HTML parse is the
        # per-doc Python kernel with super-linear worst cases — the parser
        # takes a cooperative DEADLINE and aborts mid-parse (r4 verdict #5:
        # a pathological doc now costs ~its budget, not its parse time);
        # the check-after remains as backstop for the pre-tokenize regexes
        i = 0
        while i < len(html_rows):
            j = i
            while j < len(html_rows) and h_di[j] == h_di[i]:
                j += 1
            html = "\n".join(h_text[i:j])
            d = int(h_di[i])
            t_doc = time.perf_counter()
            try:
                blocks = extract_blocks(
                    html,
                    deadline=t_doc + budget_s if budget_s is not None else None,
                )
            except HtmlBudgetExceeded:
                errors[d] = _timeout_err
                i = j
                continue
            if budget_s is not None and time.perf_counter() - t_doc > budget_s:
                errors[d] = _timeout_err
                i = j
                continue
            ctr = 0
            for blk in blocks:
                if not blk.kept:
                    continue
                if blk.heading_level > 0:
                    e_kind.append(K_HEADING)
                    e_gen.append(em.gen("#" * blk.heading_level + " " + blk.text))
                else:
                    e_kind.append(K_TEXT)
                    e_gen.append(em.gen(blk.text))
                e_di.append(d); e_sort.append(float(ctr)); e_mgen.append(-1)
                ctr += 1
                if with_images:
                    for src in blk.img_srcs:
                        e_di.append(d); e_sort.append(float(ctr))
                        e_kind.append(K_IMAGE); e_gen.append(0)
                        e_mgen.append(em.gen(src))
                        ctr += 1
            i = j
        em.add(np.asarray(e_di, np.int64), np.asarray(e_sort, np.float64),
               np.asarray(e_kind, np.int8), gen_idx=np.asarray(e_gen, np.int64),
               media_gen=np.asarray(e_mgen, np.int64))

    mk("html")
    # ---- finalize -----------------------------------------------------------
    if em.di:
        E_di = np.concatenate(em.di)
        E_sort = np.concatenate(em.sort)
        E_kind = np.concatenate(em.kind)
        E_ref = np.concatenate(em.ref)
        E_raw = np.concatenate(em.raw_ref)
        E_gen = np.concatenate(em.gen_idx)
        E_mref = np.concatenate(em.media_ref)
        E_mgen = np.concatenate(em.media_gen)
    else:
        E_di = np.empty(0, np.int64)
        E_sort = E_ref = E_raw = E_gen = E_mref = E_mgen = np.empty(0, np.int64)
        E_kind = np.empty(0, np.int8)

    failed = errors != ""
    if failed.any() and len(E_di):
        keep = ~failed[E_di]
        E_di, E_sort, E_kind = E_di[keep], E_sort[keep], E_kind[keep]
        E_ref, E_raw, E_gen = E_ref[keep], E_raw[keep], E_gen[keep]
        E_mref, E_mgen = E_mref[keep], E_mgen[keep]

    ordp = np.lexsort((np.arange(len(E_di)), E_sort, E_di))
    E_di, E_sort, E_kind = E_di[ordp], E_sort[ordp], E_kind[ordp]
    E_ref, E_raw, E_gen = E_ref[ordp], E_raw[ordp], E_gen[ordp]
    E_mref, E_mgen = E_mref[ordp], E_mgen[ordp]

    counts = np.bincount(E_di, minlength=n_docs).astype(np.int64)
    offsets64 = np.concatenate(([0], np.cumsum(counts)))
    order = (np.arange(len(E_di)) - np.repeat(offsets64[:-1], counts)).astype(np.int32)

    gen_arr = pa.array(em.gen_strings, pa.string())
    trans_src = trans_table if len(trans_table) else pa.array([""], pa.string())
    raw_src = texty_trim if len(texty_trim) else pa.array([""], pa.string())
    # text: gen > decoded(ref<=-2) > raw_ref > transformed ref
    safe_ref = np.where(E_ref >= 0, E_ref, 0)
    text_final = pc.take(trans_src, pa.array(safe_ref))
    if (E_raw >= 0).any():
        text_final = pc.if_else(
            pa.array(E_raw >= 0),
            pc.take(raw_src, pa.array(np.where(E_raw >= 0, E_raw, 0))),
            text_final,
        )
    dec_sel = E_ref <= -2
    if dec_sel.any():
        didx = np.where(dec_sel, -(E_ref) - 2, 0)
        text_final = pc.if_else(
            pa.array(dec_sel), pc.take(decoded_trim, pa.array(didx)), text_final
        )
    gen_sel = E_gen >= 0
    if gen_sel.any():
        text_final = pc.if_else(
            pa.array(gen_sel),
            pc.take(gen_arr, pa.array(np.where(gen_sel, E_gen, 0))),
            text_final,
        )

    media_final = pc.take(gen_arr, pa.array(np.where(E_mgen >= 0, E_mgen, 0)))
    if (E_mref >= 0).any():
        media_final = pc.if_else(
            pa.array(E_mref >= 0),
            pc.take(media_a, pa.array(np.where(E_mref >= 0, E_mref, 0))),
            media_final,
        )

    kind_final = pc.take(_KIND_NAMES, pa.array(E_kind.astype(np.int32)))

    out_values = pa.StructArray.from_arrays(
        [kind_final, text_final, media_final, pa.array(order, pa.int32())],
        fields=_OUT_SPAN_FIELDS,
    )
    out_spans = pa.ListArray.from_arrays(
        pa.array(offsets64.astype(np.int32), pa.int32()), out_values
    )

    n_chars = np.zeros(n_docs, dtype=np.int64)
    if len(E_di):
        lens = pc.utf8_length(text_final).to_numpy(zero_copy_only=False)
        n_chars = np.bincount(E_di, weights=lens, minlength=n_docs).astype(np.int64)

    mk("finalize")
    elapsed = (time.perf_counter() - t0) * 1000.0 / max(n_docs, 1)
    arrays = [
        doc_id_arr,
        out_spans,
        pa.array(~failed),
        pa.array(errors, pa.string()),
        pa.array(fmt, pa.string()),
        pa.array(counts.astype(np.int32), pa.int32()),
        pa.array(n_chars, pa.int64()),
        pa.array(np.full(n_docs, elapsed), pa.float64()),
    ]
    names = list(_OUT_FIELD_NAMES)
    if not include_spans:
        # metrics-only contract (schema.EXTRACTED_STATS_SCHEMA): the span
        # assembly above is cheap Arrow work and n_chars needs the final
        # texts anyway; what this saves is the JVM-side row conversion of
        # the span structs — the dominant cost of stats-only consumers
        i = names.index("out_spans")
        del arrays[i], names[i]
    if profile:
        # batch-level section deltas, repeated per doc (documented in
        # schema.EXTRACTED_PROFILE_SCHEMA)
        prev = t0
        sections: list[tuple[str, float]] = []
        for name, ts in _marks:
            sections.append((name, (ts - prev) * 1000.0))
            prev = ts
        n_sec = len(sections)
        offsets = pa.array(np.arange(n_docs + 1, dtype=np.int32) * n_sec,
                           pa.int32())
        keys = pa.array([k for k, _ in sections] * n_docs, pa.string())
        vals = pa.array([v for _, v in sections] * n_docs, pa.float64())
        arrays.append(pa.MapArray.from_arrays(offsets, keys, vals))
        names.append("section_ms")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def make_extract_fn(
    with_images: bool = True,
    pages: frozenset[int] | None = None,
    profile: bool = False,
    doc_budget_ms: float | None = None,
    include_spans: bool = True,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield _process_batch(
                    batch, with_images, pages, profile, doc_budget_ms,
                    include_spans,
                )

    return fn


def _pages(pages: frozenset[int] | str | None) -> frozenset[int] | None:
    """A page spec string like "1-5,10" (reference `--pages`,
    page_selection.py:20-68) as 1-based page numbers; sets pass through."""
    if isinstance(pages, str):
        from ..functions.pages import parse_pages

        return parse_pages(pages)
    return pages


_MANIFEST_ARROW = to_arrow_schema(EXTRACT_MANIFEST_SCHEMA)


def write_partition_files(
    df: DataFrame,
    staging: str,
    codec: str,
    with_images: bool,
    pages: frozenset[int] | str | None,
    doc_budget_ms: float | None,
) -> DataFrame:
    """documents(doc_id, spans, partition_id) → one manifest row
    (schema.EXTRACT_MANIFEST_SCHEMA) per parquet file written: the kernel
    and the table write in ONE Python stage, with nothing but the manifest
    returned to the JVM.

    Each task sorts its rows by partition_id (a spillable JVM sort in the
    same stage), runs `_process_batch` on each batch and streams each
    partition's rows into one file under `staging` (io.write_parquet_file,
    codec `codec`), so one file is open at a time. A file holds
    EXTRACTED_SCHEMA's columns; its partition_id is the directory
    io.publish_partition_files moves it into. File names carry the task
    attempt id, so a retried or speculative attempt never overwrites
    another attempt's file; only the files of the manifest that reaches
    the driver get published."""
    pages = _pages(pages)

    def write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        prefix = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}"
        for pid, runs in itertools.groupby(
            _partition_runs(batches, with_images, pages, doc_budget_ms),
            key=lambda run: run[0],
        ):
            name = f"{prefix}-{pid}.parquet"
            counts = [0, 0, 0, 0]
            tio.write_parquet_file(
                os.path.join(staging, name),
                _counted((out for _, out in runs), counts), codec)
            yield pa.RecordBatch.from_pylist(
                [dict(zip(_MANIFEST_ARROW.names, (pid, name, *counts)))],
                schema=_MANIFEST_ARROW,
            )

    return (
        df.sortWithinPartitions("partition_id")
        .select("doc_id", "spans", "partition_id")
        .mapInArrow(write, EXTRACT_MANIFEST_SCHEMA)
    )


def _counted(
    outs: Iterator[pa.RecordBatch], counts: list[int]
) -> Iterator[pa.RecordBatch]:
    """Pass extracted batches through, adding their (docs, spans, chars,
    failures) into `counts`."""
    for out in outs:
        ok = pc.sum(out.column("success")).as_py() or 0
        counts[0] += out.num_rows
        counts[1] += pc.sum(out.column("n_spans")).as_py() or 0
        counts[2] += pc.sum(out.column("n_chars")).as_py() or 0
        counts[3] += out.num_rows - ok
        yield out


def _partition_runs(
    batches: Iterator[pa.RecordBatch],
    with_images: bool,
    pages: frozenset[int] | None,
    doc_budget_ms: float | None,
) -> Iterator[tuple[int, pa.RecordBatch]]:
    """(partition_id, extracted rows) for each run of one partition_id in
    each batch of a partition_id-sorted input: `_process_batch` returns one
    row per input doc in input order, so its output slices like its
    input."""
    for batch in batches:
        if not batch.num_rows:
            continue
        out = _process_batch(batch, with_images, pages,
                             doc_budget_ms=doc_budget_ms)
        pids = batch.column("partition_id").to_numpy()
        cuts = [0, *(np.flatnonzero(np.diff(pids)) + 1).tolist(), len(pids)]
        for a, b in zip(cuts, cuts[1:]):
            yield int(pids[a]), out.slice(a, b - a)


def extract_spans(
    df: DataFrame,
    with_images: bool = True,
    pages: frozenset[int] | str | None = None,
    profile: bool = False,
    doc_budget_ms: float | None = None,
    include_spans: bool = True,
) -> DataFrame:
    """documents(doc_id, spans) → extracted(...) via one mapInArrow stage.

    `pages`: optional page selection for paged docs — a spec string like
    "1-5,10" (reference `--pages`, page_selection.py:20-68) or a frozenset of
    1-based page numbers.

    `profile=True` appends a `section_ms` map column with per-batch named
    kernel timings (A4, reference utils/profiling.py) — opt-in so the
    production schema is unchanged.

    `include_spans=False` returns the metrics-only schema (no out_spans
    column): Spark cannot column-prune through a Python map node, so
    stats/QA consumers that never read the spans otherwise pay the full
    Arrow→JVM row conversion of the span structs — measured 3.5× the
    whole stats query at 1M docs (BENCH/BASELINE.md write-tax section).

    `doc_budget_ms`: per-document time budget for ALL per-doc Python
    kernels (HTML parse, sheet segmentation/stringify, hex/GBK bytes
    decode) — an over-budget document becomes an error row (`error`
    starts with 'timeout:') instead of stalling its task; the reference
    applies its per-file timeout to every format (cli/benchmark.py:45).
    Cooperative preemption (r4 verdict #5): the HTML token/scoring loops
    and the sheet split/format/assembly loops check the deadline
    mid-parse and abort at ~budget; the per-span bytes-decode loop checks
    between spans (see _process_batch). None disables the check
    (default: containment without a budget)."""
    pages = _pages(pages)
    from ..schema import EXTRACTED_STATS_SCHEMA
    from pyspark.sql import types as T

    base = EXTRACTED_SCHEMA if include_spans else EXTRACTED_STATS_SCHEMA
    if profile:
        base = T.StructType(
            base.fields
            + [T.StructField(
                "section_ms",
                T.MapType(T.StringType(), T.DoubleType()), False)]
        )
    return df.select("doc_id", "spans").mapInArrow(
        make_extract_fn(with_images, pages, profile, doc_budget_ms,
                        include_spans),
        base,
    )
