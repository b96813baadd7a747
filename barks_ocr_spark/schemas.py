"""Canonical StructType schemas for the engine.

The span model comes from the reference's book pipeline
(`books/src/loader.py:28-54` — items in reading order; text vs image
items) folded to the two-kind contract in BASELINE.json's input_hint:
``(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# One interleaved span: kind ∈ {"text", "media"}; media spans carry a
# media_ref and empty text, text spans the reverse; offset = 0-based
# reading-order position within the document.
SPAN_TYPE = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), False),
    ]
)

# Primary input/output table (BASELINE.json input_hint).
DOCUMENTS_SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_TYPE), False),
    ]
)

# Raw OCR box, modeled on the reference's raw-OCR tuple
# (`src/barks_ocr/pipeline/batch_ocr.py:211-222`): an 8-int quad
# [x0,y0, x1,y1, x2,y2, x3,y3] (bl, br, tr, tl), the raw OCR text, the
# spell-filtered accepted text, and the engine confidence.
OCR_BOX_TYPE = StructType(
    [
        StructField("box", ArrayType(IntegerType()), False),
        StructField("ocr_text", StringType(), True),
        StructField("accepted_text", StringType(), True),
        StructField("prob", DoubleType(), False),
    ]
)

# Panel rectangle in reading order (`pipeline/gemini_grouper.py:303-312`
# consumes [x, y, w, h] top-left + size).
PANEL_TYPE = StructType(
    [
        StructField("x", IntegerType(), False),
        StructField("y", IntegerType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
    ]
)

# Geometric fixture table (FIXTURES.md §2): one comic page per row.
# page_image is an opaque binary column decoded by the OCR kernel
# (deterministic fake codec in this sandbox; a real OCR engine on a
# cluster — same UDF signature either way).
PAGES_GEOM_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("page_w", IntegerType(), False),
        StructField("page_h", IntegerType(), False),
        StructField("panels", ArrayType(PANEL_TYPE), False),
        StructField("boxes", ArrayType(OCR_BOX_TYPE), False),
        StructField("page_image", BinaryType(), True),
    ]
)

# A merged speech group (the page's core record,
# `pipeline/gemini_grouper.py:233-248`).
GROUP_TYPE = StructType(
    [
        StructField("group_id", IntegerType(), False),
        StructField("panel_num", IntegerType(), False),
        StructField("x0", IntegerType(), False),
        StructField("y0", IntegerType(), False),
        StructField("x1", IntegerType(), False),
        StructField("y1", IntegerType(), False),
        StructField("text", StringType(), True),
    ]
)

PAGE_GROUPS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("groups", ArrayType(GROUP_TYPE), False),
    ]
)

# Checkpoint/lineage row (FIXTURES.md §4) — one per processed partition.
CHECKPOINT_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType(), False),
        StructField("snapshot_id", LongType(), False),
        StructField("pages_processed", LongType(), False),
        StructField("spans_emitted", LongType(), False),
        StructField("docs_empty", LongType(), False),
        StructField("ocr_empty_rate", DoubleType(), False),
    ]
)

# Full-page-scan injection table (J9,
# `books/src/llama-parse-build-epub.py:1080-1122`).
PAGE_SCANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("media_ref", StringType(), False),
    ]
)
