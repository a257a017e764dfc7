"""Data model: span schema, geometry<->offset encoding, rules.

The engine's input is an Iceberg-style table of interleaved text+media
documents (shape fixed by BASELINE.json ``input_hint``):

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int32>>

``kind`` is one of:

- ``'text'``  — a run of characters; ``text`` holds content, ``media_ref`` = ''.
- ``'media'`` — opaque binary reference (image/audio/...); ``text`` = ''.
- ``'page'``  — page marker opening each page; ``text`` =
  ``"<page>:<pageNumber>:<rotation>:<widthPt>:<heightPt>"`` so page bounds and
  the rotation fail-fast (reference PdfSharpMaskApplicator.cs:95-102) are
  representable without extra columns.
- ``'mask'``  — redaction output: replaces matched text; ``text`` = '' (the
  content is redacted), ``media_ref`` = ``mask:<doc>:<page>:<seq>`` where seq
  is the deterministic apply order (reference PdfSharpMaskApplicator.cs:65-68:
  Y desc, X asc within page).

Geometry encoding (FIXTURES.md §2)
----------------------------------
The reference computes over (x, y) glyph boxes in PDF points (bottom-left
origin); the span schema carries only ``offset:int32``:

    offset = page*200_000_000 + row_index*100_000 + round(10*x)

- ``row_index`` = line number top-to-bottom (0-based) on the page.
- glyphs follow a fixed font model: every glyph is GLYPH_W=7.0 pt wide and
  GLYPH_H=12.0 pt tall, characters within a text span laid out contiguously
  (char i occupies [x + 7i, x + 7(i+1))).  Whitespace inside a text span is
  layout (advances x) but is NOT a glyph — mirroring PdfPig's page.Letters,
  which only reports drawn glyphs.
- row_index maps to y:  top = page_height - TOP_MARGIN - row*ROW_PITCH,
  bottom = top - GLYPH_H.  Rows are 20pt apart so distinct rows always exceed
  the reference's 2.0pt line tolerance (PdfPigTextLocator.cs:17).

This is lossless for everything the reference algorithms consume: sort orders
(bottom-asc words / top-desc letters), gap thresholds, median glyph sizes,
and region rectangles all evaluate identically to real PDF geometry.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Pure-Python span model (geometry constants, offset codec, Rule) — defined
# in the Spark-free spanmodel module and re-exported here so existing
# imports keep working.
from pdfredact_spark.spanmodel import (  # noqa: F401
    DECI,
    DEFAULT_PAGE_H,
    DEFAULT_PAGE_W,
    DIGIT_GAP_MULT,
    DIGIT_H_MULT,
    GLYPH_H,
    GLYPH_STRIDE,
    GLYPH_W,
    LINE_TOL,
    MASK_PADDING,
    MIN_GAP,
    PAGE_BASE,
    ROW_BASE,
    ROW_PITCH,
    TOP_MARGIN,
    WORD_GAP_MULT,
    WORD_H_MULT,
    Rule,
    decode_offset,
    encode_offset,
    page_marker_text,
    parse_page_marker,
    row_top,
)

# ---------------------------------------------------------------------------
# Spark schemas (fixed/explicit — never inferred)
# ---------------------------------------------------------------------------
SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("offset", IntegerType(), False),
    ]
)

SPAN_SCHEMA = SPAN_STRUCT  # alias

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT, False), False),
    ]
)

# RedactionRegion analog (reference Models/RedactionRegion.cs:7-49).
REGION_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("page", IntegerType(), False),
        StructField("x", DoubleType(), False),
        StructField("y", DoubleType(), False),
        StructField("width", DoubleType(), False),
        StructField("height", DoubleType(), False),
        StructField("matched_text", StringType(), True),
        StructField("rule_pattern", StringType(), True),
        StructField("page_rotation", IntegerType(), False),
    ]
)



