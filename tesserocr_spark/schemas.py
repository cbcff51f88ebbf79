"""Static Spark schemas (SURVEY.md §1.3 — the reference has fixed, implicit
shapes for every accessor; we declare them once as StructTypes).

``PAGES_SCHEMA`` is fixed by BASELINE.json ``input_hint``:
``url:string, warc_ts:timestamp, html:binary, text:string, lang:string``.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

#: bounding box in char-grid geometry (BoundingBox,
#: tesserocr/tesserocr.pyx:586-608; x=column, y=global line index).
BBOX_SCHEMA = T.StructType([
    T.StructField("x0", T.IntegerType(), False),
    T.StructField("y0", T.IntegerType(), False),
    T.StructField("x1", T.IntegerType(), False),
    T.StructField("y1", T.IntegerType(), False),
])

#: one span of the BLOCK→PARA→TEXTLINE→WORD→SYMBOL hierarchy
#: (RIL levels, tesserocr/tesserocr.pyx:183-207). ids are within-parent,
#: reading-order, content-derived; -1 marks levels below the span's own.
SPAN_SCHEMA = T.StructType([
    T.StructField("level", T.IntegerType(), False),
    T.StructField("block_id", T.IntegerType(), False),
    T.StructField("para_id", T.IntegerType(), False),
    T.StructField("line_id", T.IntegerType(), False),
    T.StructField("word_id", T.IntegerType(), False),
    T.StructField("symbol_id", T.IntegerType(), False),
    T.StructField("block_type", T.IntegerType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("conf", T.DoubleType(), False),
    T.StructField("blanks", T.IntegerType(), False),
    T.StructField("bbox", BBOX_SCHEMA, False),
    T.StructField("flags", T.IntegerType(), False),
])

#: DetectOS result (tesserocr/tesserocr.pyx:2615-2634).
OSD_SCHEMA = T.StructType([
    T.StructField("orient_deg", T.IntegerType(), False),
    T.StructField("orient_conf", T.DoubleType(), False),
    T.StructField("script_name", T.StringType(), False),
    T.StructField("script_conf", T.DoubleType(), False),
])

#: per-document extraction metrics (lineage + GetThresholdedImageScaleFactor
#: analogue, tesserocr/tesserocr.pyx:2104-2111).
METRICS_SCHEMA = T.StructType([
    T.StructField("html_bytes", T.LongType(), False),
    T.StructField("n_blocks", T.IntegerType(), False),
    T.StructField("n_paras", T.IntegerType(), False),
    T.StructField("n_lines", T.IntegerType(), False),
    T.StructField("n_words", T.IntegerType(), False),
    T.StructField("n_symbols", T.IntegerType(), False),
    T.StructField("n_boiler_blocks", T.IntegerType(), False),
    T.StructField("scale_factor", T.IntegerType(), False),
    T.StructField("truncated", T.BooleanType(), False),
])

#: columnar transport schema of the extraction UDF: spans travel as parallel
#: primitive arrays (one per span field) and are re-zipped into the nested
#: array<struct> JVM-side with arrays_zip — ~1.6-1.8x cheaper end-to-end than
#: shipping array<struct> through Arrow (measured; see api.extract_pages).
EXTRACT_COLUMNS_SCHEMA = T.StructType([
    T.StructField("extracted_text", T.StringType(), True),
    *[
        T.StructField(n, T.ArrayType(T.IntegerType()), True)
        for n in ("level", "block_id", "para_id", "line_id", "word_id",
                  "symbol_id", "block_type", "blanks", "x0", "y0", "x1", "y1",
                  "flags")
    ],
    T.StructField("s_text", T.ArrayType(T.StringType()), True),
    T.StructField("s_conf", T.ArrayType(T.DoubleType()), True),
    T.StructField("osd", OSD_SCHEMA, True),
    T.StructField("metrics", METRICS_SCHEMA, True),
])

#: flat exploded-spans schema — the hot path for corpus-scale span queries:
#: the rows of ``api.extract_spans_long``, i.e. the columns UDF above, one
#: flat arrays_zip and a posexplode (no nested structs through Arrow, no
#: per-span dicts anywhere).
SPANS_LONG_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("level", T.IntegerType(), False),
    T.StructField("block_id", T.IntegerType(), False),
    T.StructField("para_id", T.IntegerType(), False),
    T.StructField("line_id", T.IntegerType(), False),
    T.StructField("word_id", T.IntegerType(), False),
    T.StructField("symbol_id", T.IntegerType(), False),
    T.StructField("block_type", T.IntegerType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("conf", T.DoubleType(), False),
    T.StructField("blanks", T.IntegerType(), False),
    T.StructField("x0", T.IntegerType(), False),
    T.StructField("y0", T.IntegerType(), False),
    T.StructField("x1", T.IntegerType(), False),
    T.StructField("y1", T.IntegerType(), False),
    T.StructField("flags", T.IntegerType(), False),
])

#: per-partition lineage rows for checkpoint/resume (north_rule).
LINEAGE_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("n_docs", T.LongType(), False),
    T.StructField("n_words", T.LongType(), False),
    T.StructField("n_errors", T.LongType(), False),
    T.StructField("completed_at", T.TimestampType(), False),
])
