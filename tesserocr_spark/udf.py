"""Vectorized Arrow UDFs — the only Python in the hot path.

Design (SURVEY.md §4): the reference amortizes model load by reusing one
engine instance across documents (README.rst:137-152); here an ``Extractor``
is a per-Python-worker lazy singleton keyed by config, reused across Arrow
batches. Everything else (projections, aggregations, joins, windows) stays
JVM-side.

The UDF surface, built only by the three ``api`` entry points
(``extract_pages``, ``extract_spans_long``, ``extract_text_only``); every
other extraction — the session's ``recognize()``, ``tesseract_rect``,
``get_thresholded_text`` — goes through one of them:

* ``make_extract_columns_udf`` — the extraction transport: spans travel as
  parallel primitive arrays and ``api.extract_pages`` re-zips them JVM-side
  (measured ~1.6× faster end-to-end than array<struct> through Arrow, and
  1.7× faster for ``api.extract_spans_long`` than emitting one row per span
  from Python). The Recognize analogue (tesserocr/tesserocr.pyx:2136-2163).
* ``make_extract_text_udf`` — text-only fast path (image_to_text,
  tesserocr/tesserocr.pyx:2683-2732); skips span materialization entirely —
  use it when the query only needs ``extracted_text`` (the layout-only/
  column-pruning tactic the optimizer cannot see across the Python
  boundary).

A per-batch wall-clock budget mirrors Recognize's ETEXT_DESC deadline
(tesserocr/tesserocr.pyx:2150-2161): documents starting after the budget is
exhausted yield NULL results instead of stalling a corpus-scale job.
"""

from __future__ import annotations

import gc
import time

import pandas as pd
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, ExtractorConfig
from .core.extractor import Extractor
from .schemas import EXTRACT_COLUMNS_SCHEMA


def _as_variables_key(config: ExtractorConfig) -> tuple:
    # dataclass with a dict field is unhashable; normalize to a hashable twin
    return (config.lang, config.psm, config.oem, tuple(sorted(config.variables.items())))


#: per-worker singleton cache: config key -> Extractor (instance-reuse tactic).
_EXTRACTORS_BY_KEY: dict[tuple, Extractor] = {}


def _extractor_for(config: ExtractorConfig) -> Extractor:
    key = _as_variables_key(config)
    ex = _EXTRACTORS_BY_KEY.get(key)
    if ex is None:
        ex = Extractor(config)
        _EXTRACTORS_BY_KEY[key] = ex
    return ex


def _per_doc(fn, html: pd.Series, timeout_ms_per_doc: int, timed_out) -> list:
    """``fn`` over each document of one Arrow batch, under the batch's
    deadline (``timeout_ms_per_doc`` × batch size, 0 = none): every document
    starting after it yields ``timed_out``.

    The cyclic garbage collector is paused for the batch. Extraction makes
    no reference cycles, so reference counting frees each document's
    objects (tests/test_core.py checks it), while its allocations would
    trigger full collections that walk the worker's whole heap."""
    enabled = gc.isenabled()
    gc.disable()
    try:
        if timeout_ms_per_doc <= 0:
            return [fn(raw) for raw in html]
        deadline = time.monotonic() + (timeout_ms_per_doc / 1000.0) * len(html)
        return [timed_out if time.monotonic() > deadline else fn(raw) for raw in html]
    finally:
        if enabled:
            gc.enable()


#: level..s_conf of a span-less document
_EMPTY_COLS = ((),) * 15
#: the row of a document the deadline skipped
_TIMED_OUT_ROW = (None, *_EMPTY_COLS, None, None)


def make_extract_columns_udf(
    config: ExtractorConfig | None = None,
    timeout_ms_per_doc: int = 0,
    region: tuple[int, int, int, int] | None = None,
):
    """Scalar Arrow pandas_udf: html -> EXTRACT_COLUMNS_SCHEMA (columnar
    span transport — see schemas.EXTRACT_COLUMNS_SCHEMA). Used by
    ``api.extract_pages``, which re-zips the arrays into the public nested
    ``spans`` column JVM-side. ``region`` is passed to ``Extractor.extract``
    (SetRectangle)."""
    cfg = config or DEFAULT_CONFIG
    names = EXTRACT_COLUMNS_SCHEMA.names

    @F.pandas_udf(EXTRACT_COLUMNS_SCHEMA)
    def extract_cols(html: pd.Series) -> pd.DataFrame:
        extract = _extractor_for(cfg).extract

        def row(raw) -> tuple:
            d = extract(raw, region)
            if not d.raw_spans:
                return (d.text, *_EMPTY_COLS, d.osd, d.metrics)
            (level, bid, pid, lid, wid, sid, bt, text, conf, blanks,
             bbox, flags) = zip(*d.raw_spans)
            x0, y0, x1, y1 = zip(*bbox)
            return (d.text, level, bid, pid, lid, wid, sid, bt, blanks,
                    x0, y0, x1, y1, flags, text, conf, d.osd, d.metrics)

        rows = _per_doc(row, html, timeout_ms_per_doc, _TIMED_OUT_ROW)
        if not rows:
            return pd.DataFrame(columns=names)
        # one column per field, not one row tuple per document
        return pd.DataFrame(dict(zip(names, zip(*rows))))

    return extract_cols


def make_extract_text_udf(
    config: ExtractorConfig | None = None,
    timeout_ms_per_doc: int = 0,
):
    """Scalar Arrow pandas_udf: html:binary -> extracted_text:string."""
    cfg = config or DEFAULT_CONFIG

    @F.pandas_udf("string")
    def extract_text(html: pd.Series) -> pd.Series:
        texts = _per_doc(_extractor_for(cfg).extract_text, html, timeout_ms_per_doc, None)
        return pd.Series(texts, dtype="object")

    return extract_text
