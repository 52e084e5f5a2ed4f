"""Explicit schemas — declared once, enforced on read and on UDF return types.

The reference hard-codes its format taxonomy at import time
(``/root/reference/ocr_toolkit/config.py:51-70``); analogously we never rely on
schema-on-read inference (SURVEY.md §1 "Schema system").
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: documents(doc_id, spans) — matches BASELINE.json.input_hint exactly.
# ---------------------------------------------------------------------------

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# Input span kinds the engine understands (docs/SPANS.md §0). Anything else is
# skipped; docs with ONLY unknown kinds become error rows.
KNOWN_INPUT_KINDS = frozenset(
    {"text", "heading", "html", "image", "table_row", "page_break", "bytes"}
)

# ---------------------------------------------------------------------------
# Output: extracted(...) — docs/SPANS.md §2. `elapsed_ms` is metrics-only and
# excluded from span-sequence equality checks (non-deterministic).
# ---------------------------------------------------------------------------

OUT_SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("order", T.IntegerType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("out_spans", T.ArrayType(OUT_SPAN_STRUCT), False),
        T.StructField("success", T.BooleanType(), False),
        T.StructField("error", T.StringType(), False),
        T.StructField("method", T.StringType(), False),
        T.StructField("n_spans", T.IntegerType(), False),
        T.StructField("n_chars", T.LongType(), False),
        T.StructField("elapsed_ms", T.DoubleType(), False),
    ]
)

OUTPUT_KINDS = frozenset({"heading", "text", "table", "image"})

# Metrics-only variant: EXTRACTED_SCHEMA without the out_spans column.
# Spark cannot column-prune THROUGH a Python map node (the function's
# return contract is the full schema, so the JVM row-converts every
# returned column even if downstream reads none of them — measured 3.5×
# the whole stats query at 1M docs, BENCH/BASELINE.md write-tax section).
# Stats/QA consumers that read extract_spans' rows ask the kernel to not
# return spans at all; pipeline.run_extraction returns no rows to the JVM.
EXTRACTED_STATS_SCHEMA = T.StructType(
    [f for f in EXTRACTED_SCHEMA.fields if f.name != "out_spans"]
)

# One row per parquet file the extraction writer pass wrote
# (operators/extract.write_partition_files): what the driver publishes and
# sums into lineage. Nothing else of the extracted rows reaches the JVM.
EXTRACT_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("file", T.StringType(), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("span_count", T.LongType(), False),
        T.StructField("byte_count", T.LongType(), False),
        T.StructField("failure_count", T.LongType(), False),
    ]
)

# Driver `events` table shape (TESTDATA.md) — used by the streaming
# watermark/windowed-aggregation leg.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

# A4 profiler (reference utils/profiling.py named sections): opt-in variant
# of EXTRACTED_SCHEMA with per-kernel section timings. Values are per Arrow
# BATCH (one measurement shared by the batch's docs) — a run-level
# aggregation averages them per section.
EXTRACTED_PROFILE_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields
    + [T.StructField("section_ms", T.MapType(T.StringType(), T.DoubleType()), False)]
)

# ---------------------------------------------------------------------------
# Lineage: per-partition commit records for idempotent resume (north_rule;
# the reference has NO checkpointing — SURVEY.md §2.5 E5).
# ---------------------------------------------------------------------------

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("doc_count", T.LongType(), False),
        # NULL on per-partition rows; exact on the run-summary row (pid=-1)
        T.StructField("span_count", T.LongType(), True),
        T.StructField("byte_count", T.LongType(), True),
        T.StructField("failure_count", T.LongType(), True),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)

# Flat golden-output shape used by tests (FIXTURES.md §2).
EXPECTED_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("order", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
    ]
)
