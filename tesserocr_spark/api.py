"""SparkPageAPI — the PyTessBaseAPI session surface over DataFrames.

The reference's stateful session (tesserocr/tesserocr.pyx:1186-2662) holds
one document, materializes a span tree with ``Recognize``, and answers every
query through iterators over that tree. Here the session holds a *table* of
documents; ``recognize()`` materializes the extraction column once
(``persist`` — the multi-sink/multi-query tactic of the renderer chain,
tesserocr/tesserocr.pyx:2186-2251, which Catalyst will not dedupe across
actions by itself), and every iterator/getter becomes a declarative
DataFrame query over the exploded spans view, fully Catalyst-planned.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, ExtractorConfig
from .constants import PSM, PT, RIL
from .core.osd import AVAILABLE_LANGUAGES
from .udf import make_extract_columns_udf, make_extract_text_udf

#: the span fields in SPAN_SCHEMA order, each with the extraction-UDF column
#: (EXTRACT_COLUMNS_SCHEMA) it comes from; ``bbox`` is four corner columns.
SPAN_COLUMNS = (
    ("level", "level"), ("block_id", "block_id"), ("para_id", "para_id"),
    ("line_id", "line_id"), ("word_id", "word_id"), ("symbol_id", "symbol_id"),
    ("block_type", "block_type"), ("text", "s_text"), ("conf", "s_conf"),
    ("blanks", "blanks"), ("bbox", ("x0", "y0", "x1", "y1")), ("flags", "flags"),
)


def _zip_spans(flat: bool) -> Column:
    """arrays_zip of the UDF result ``r``'s span columns into one span struct
    per element: nested as SPAN_SCHEMA, or with the bbox corners ``flat``."""
    fields = []
    for name, src in SPAN_COLUMNS:
        if isinstance(src, str):
            fields.append(F.col(f"r.{src}").alias(name))
            continue
        corners = [F.col(f"r.{c}").alias(c) for c in src]
        fields += corners if flat else [F.arrays_zip(*corners).alias(name)]
    return F.arrays_zip(*fields)


def extract_pages(
    pages: DataFrame,
    config: ExtractorConfig | None = None,
    timeout_ms_per_doc: int = 0,
    region: tuple[int, int, int, int] | None = None,
) -> DataFrame:
    """pages -> docs: adds extracted_text, spans, osd, metrics (Recognize).
    ``region=(left, top, width, height)`` keeps only the spans inside that
    char-grid rectangle (SetRectangle).

    Transport: the UDF ships spans as parallel primitive arrays (Arrow loves
    flat arrays; array<struct> through the Python boundary measured ~1.6x
    slower end-to-end) and the nested ``spans`` column is rebuilt JVM-side
    with two codegen'd arrays_zip calls — public schema unchanged.
    """
    udf = make_extract_columns_udf(config, timeout_ms_per_doc, region)
    keep = [c for c in ("url", "warc_ts", "lang", "bucket") if c in pages.columns]
    return pages.select(*keep, udf(F.col("html")).alias("r")).select(
        *keep,
        F.col("r.extracted_text").alias("extracted_text"),
        _zip_spans(flat=False).alias("spans"),
        F.col("r.osd").alias("osd"),
        F.col("r.metrics").alias("metrics"),
    )


def extract_text_only(
    pages: DataFrame,
    config: ExtractorConfig | None = None,
    timeout_ms_per_doc: int = 0,
) -> DataFrame:
    """pages -> (url, extracted_text): the image_to_text one-liner
    (tesserocr/tesserocr.pyx:2683-2732)."""
    udf = make_extract_text_udf(config, timeout_ms_per_doc)
    return pages.select("url", udf(F.col("html")).alias("extracted_text"))


def extract_spans_long(
    pages: DataFrame,
    config: ExtractorConfig | None = None,
) -> DataFrame:
    """pages -> flat span rows (SPANS_LONG_SCHEMA): the corpus-scale path
    for span analytics.

    Plan: columnar UDF transport -> ONE flat arrays_zip -> posexplode.
    Measured 1.7x faster than a mapInPandas kernel emitting exploded rows
    from Python (per-span rows through Arrow cost more than per-document
    arrays + codegen'd explode), and 4x faster than exploding the public
    nested ``spans`` column — rebuilding the bbox sub-struct per span just
    to flatten it again dominated that plan's Generate."""
    udf = make_extract_columns_udf(config)
    return (
        pages.select("url", udf(F.col("html")).alias("r"))
        .select("url", F.posexplode(_zip_spans(flat=True)).alias("pos", "s"))
        .select("url", "s.*")
    )


def spans_long(docs: DataFrame) -> DataFrame:
    """Exploded spans view: one row per span, with reading-order ``pos``
    (iterate_level analogue, tesserocr/tesserocr.pyx:1173-1183). Spans never
    cross documents, so ordering within url needs no global sort.

    ``posexplode_outer`` + ``pos IS NOT NULL`` rather than ``posexplode``:
    over an unpersisted ``extract_pages`` frame the optimizer infers
    ``size(spans) > 0`` from a plain generator and pushes it below the
    projection that builds ``spans``, which runs the extraction UDF a second
    time just for that filter (tests/test_plans.py guards it)."""
    return (
        docs.select("url", F.posexplode_outer("spans").alias("pos", "s"))
        .filter(F.col("pos").isNotNull())
        .select("url", "pos", "s.*")
    )


def word_order() -> WindowSpec:
    """Per-url reading order of WORD spans: (block, para, line, word)."""
    return Window.partitionBy("url").orderBy("block_id", "para_id", "line_id", "word_id")


def reading_order_words(sl: DataFrame) -> DataFrame:
    """The one word law (AllWords / AllWordConfidences / MapWordConfidences /
    MeanTextConf, tesserocr/tesserocr.pyx:2499-2559): the text-bearing WORD
    rows of a spans view, with ``pos`` = their 0-based reading-order index
    per url (replacing the span ``pos``). A caller that never reads ``pos``
    pays no window: ColumnPruning drops it."""
    words = sl.filter((F.col("level") == RIL.WORD) & F.col("text").isNotNull())
    return words.withColumn("pos", F.row_number().over(word_order()) - 1)


class SparkPageAPI:
    """Session facade (PyTessBaseAPI analogue). Usable as a context manager
    (reference __enter__/__exit__, tesserocr/tesserocr.pyx:2656-2662)."""

    def __init__(self, spark: SparkSession, config: ExtractorConfig | None = None) -> None:
        self.spark = spark
        self.config = config or DEFAULT_CONFIG
        self._pages: DataFrame | None = None
        self._docs: DataFrame | None = None
        self._region: tuple[int, int, int, int] | None = None

    # -- lifecycle ---------------------------------------------------------

    def __enter__(self) -> "SparkPageAPI":
        return self

    def __exit__(self, *exc) -> None:
        self.end()

    def set_pages(self, pages: DataFrame) -> "SparkPageAPI":
        """SetImage analogue (tesserocr/tesserocr.pyx:1774-1801): binds the
        input table and clears any previous results."""
        self.clear()
        self._pages = pages
        return self

    def set_rectangle(self, left: int, top: int, width: int, height: int) -> "SparkPageAPI":
        """SetRectangle (tesserocr/tesserocr.pyx:1835-1847): restricts the
        *next* recognize pass to a char-grid region; clears prior results."""
        self.clear()
        self._region = (left, top, width, height)
        return self

    def set_variable(self, name: str, value: str) -> "SparkPageAPI":
        self.clear()
        self.config = self.config.with_variable(name, value)
        return self

    def set_page_seg_mode(self, psm: int) -> "SparkPageAPI":
        self.clear()
        self.config = self.config.with_psm(psm)
        return self

    def get_page_seg_mode(self) -> int:
        return self.config.psm

    def recognize(self, timeout_ms_per_doc: int = 0) -> DataFrame:
        """Materialize extraction results (Recognize,
        tesserocr/tesserocr.pyx:2136-2163). Cached for multi-query reuse."""
        pages = self._bound_pages()
        if self._docs is None:
            self._docs = extract_pages(
                pages, self.config, timeout_ms_per_doc, region=self._region
            ).persist()
        return self._docs

    def _bound_pages(self) -> DataFrame:
        if self._pages is None:
            raise RuntimeError("no pages bound; call set_pages() first")
        return self._pages

    def analyse_layout(self) -> DataFrame:
        """AnalyseLayout (tesserocr/tesserocr.pyx:2113-2134): spans with
        geometry/ids but NULL text; cheap corpus-structure pass."""
        return self._layout_spans()

    def _layout_spans(self) -> DataFrame:
        """spans_long of a layout-only (PSM.AUTO_ONLY) extraction of the
        bound pages. Not persisted: nothing reuses it, ``spans_long`` runs
        the extractor once, and ``clear()``/``end()`` release only
        ``recognize()``'s frame."""
        return spans_long(
            extract_pages(self._bound_pages(), self.config.with_psm(PSM.AUTO_ONLY))
        )

    def clear(self) -> None:
        """Clear (tesserocr/tesserocr.pyx:2580-2586): drop results, keep config."""
        if self._docs is not None:
            self._docs.unpersist()
            self._docs = None

    def end(self) -> None:
        """End (tesserocr/tesserocr.pyx:2588-2591)."""
        self.clear()
        self._pages = None

    # -- document-level getters ---------------------------------------------

    def get_utf8_text(self) -> DataFrame:
        """(url, text) — GetUTF8Text per document (tesserocr/tesserocr.pyx:
        2379-2390), honoring the line/paragraph separators
        (SetLineSeparator/SetParagraphSeparator, :862-870). At the "\n"
        defaults this is the extraction-time text verbatim (no refold)."""
        line_sep = self.config.get_string_variable("line_separator")
        para_sep = self.config.get_string_variable("paragraph_separator")
        docs = self.recognize()
        if (line_sep, para_sep) == ("\n", "\n"):
            return docs.select("url", F.col("extracted_text").alias("text"))
        from .core.fold import fold_spans

        @F.pandas_udf("string")
        def refold(spans: pd.Series) -> pd.Series:
            return pd.Series(
                [fold_spans([] if sp is None else list(sp), line_sep, para_sep)
                 for sp in spans],
                dtype="object",
            )

        return docs.select("url", refold("spans").alias("text"))

    def set_line_separator(self, separator: str) -> "SparkPageAPI":
        """SetLineSeparator (tesserocr/tesserocr.pyx:862-865)."""
        return self.set_variable("line_separator", separator)

    def set_paragraph_separator(self, separator: str) -> "SparkPageAPI":
        """SetParagraphSeparator (tesserocr/tesserocr.pyx:867-870)."""
        return self.set_variable("paragraph_separator", separator)

    def get_iterator(self) -> DataFrame:
        """GetIterator (tesserocr/tesserocr.pyx:2367-2377) — the spans_long view."""
        return spans_long(self.recognize())

    def _words(self) -> DataFrame:
        return reading_order_words(self.get_iterator())

    def all_words(self) -> DataFrame:
        """(url, pos, word) in reading order (AllWords, tesserocr.pyx:2528-2544)."""
        return self._words().select("url", "pos", F.col("text").alias("word"))

    def all_word_confidences(self) -> DataFrame:
        """(url, pos, conf:int) — int truncation preserved
        (AllWordConfidences, tesserocr/tesserocr.pyx:2503-2526)."""
        return self._words().select("url", "pos", F.col("conf").cast("int").alias("conf"))

    def map_word_confidences(self) -> DataFrame:
        """(url, pos, word, conf) — positional zip
        (MapWordConfidences, tesserocr/tesserocr.pyx:2546-2559)."""
        return self._words().select("url", "pos", F.col("text").alias("word"),
                                    F.col("conf").cast("int").alias("conf"))

    def mean_text_conf(self) -> DataFrame:
        """(url, conf:int) (MeanTextConf, tesserocr/tesserocr.pyx:2499-2501)."""
        return self._words().groupBy("url").agg(F.avg("conf").cast("int").alias("conf"))

    # -- level projections (GetRegions/GetTextlines/GetWords/...) -----------

    def get_component_images(self, level: int, text_only: bool = False) -> DataFrame:
        """Parameterized level projection (GetComponentImages,
        tesserocr/tesserocr.pyx:2034-2102)."""
        sl = self.get_iterator().filter(F.col("level") == level)
        if text_only:
            sl = sl.filter(F.col("block_type").isin(*PT.TEXT_TYPES))
        return sl

    def get_regions(self) -> DataFrame:
        return self.get_component_images(RIL.BLOCK)

    def get_textlines(self) -> DataFrame:
        return self.get_component_images(RIL.TEXTLINE)

    def get_strips(self) -> DataFrame:
        sl = self.get_iterator()
        return sl.filter(
            (F.col("level") == RIL.TEXTLINE)
            | ((F.col("level") == RIL.BLOCK) & F.col("block_type").isin(*PT.IMAGE_TYPES))
        )

    def get_words(self) -> DataFrame:
        return self.get_component_images(RIL.WORD)

    def is_within_first_textline_of_paragraph(self) -> DataFrame:
        """IsWithinFirstTextlineOfParagraph (tesserocr/tesserocr.pyx:484-487):
        word-level predicate — the word sits on its paragraph's first line."""
        return self._words().select(
            "url", "block_id", "para_id", "line_id", "word_id",
            (F.col("line_id") == 0).alias("in_first_line"),
        )

    def get_connected_components(self) -> DataFrame:
        """GetConnectedComponents (tesserocr/tesserocr.pyx:2008-2032):
        pre-recognition candidate components — the layout-only word boxes."""
        return self._layout_spans().filter(F.col("level") == RIL.WORD)

    # -- attribute accessors (tesserocr_spark.attributes views) -------------

    def word_font_attributes(self) -> DataFrame:
        from .attributes import word_font_attributes

        ppi = self.config.get_int_variable("source_resolution")
        return word_font_attributes(self.get_iterator(), source_ppi=ppi)

    def word_attributes(self, dictionary: tuple[str, ...] = ()) -> DataFrame:
        from .attributes import word_attributes

        return word_attributes(self.get_iterator(), dictionary)

    def word_recognition_language(self) -> DataFrame:
        """WordRecognitionLanguage (tesserocr/tesserocr.pyx:944-953): the
        document language projected onto WORD spans (pages must carry lang)."""
        from .attributes import word_recognition_language

        return word_recognition_language(self.recognize())

    def word_normed_text(self) -> DataFrame:
        """WordNormedUTF8Text (tesserocr/tesserocr.pyx:1002-1006): the
        normalized recognition string per word."""
        from .attributes import word_normed_text

        return word_normed_text(self.get_iterator())

    # -- iterator restart family (tesserocr/tesserocr.pyx:472-499) ----------
    # The reference mutates a cursor; the stateless analogues return the
    # restart POSITIONS as data, which is what a declarative engine can test.

    def begin(self) -> DataFrame:
        """Begin (tesserocr/tesserocr.pyx:472-474): the iterator restarted at
        the document start — the full reading-order spans view (pos 0 first)."""
        return self.get_iterator()

    def restart_paragraph(self) -> DataFrame:
        """RestartParagraph (tesserocr/tesserocr.pyx:476-487): per paragraph,
        the reading-order position its cursor restarts to (its first span)."""
        sl = self.get_iterator().filter(F.col("level") >= RIL.TEXTLINE)
        return sl.groupBy("url", "block_id", "para_id").agg(
            F.min("pos").alias("pos")
        )

    def restart_row(self) -> DataFrame:
        """RestartRow (tesserocr/tesserocr.pyx:489-499): per textline, the
        reading-order position its cursor restarts to."""
        sl = self.get_iterator().filter(F.col("level") >= RIL.TEXTLINE)
        return sl.groupBy("url", "block_id", "para_id", "line_id").agg(
            F.min("pos").alias("pos")
        )

    def symbol_attributes(self) -> DataFrame:
        from .attributes import symbol_attributes

        return symbol_attributes(self.get_iterator())

    def paragraph_info(self) -> DataFrame:
        from .attributes import paragraph_info

        return paragraph_info(self.get_iterator())

    def row_attributes(self) -> DataFrame:
        from .attributes import row_attributes

        return row_attributes(self.get_iterator())

    def baseline(self, level: int = RIL.TEXTLINE) -> DataFrame:
        from .attributes import baseline

        return baseline(self.get_iterator(), level)

    def block_polygon(self) -> DataFrame:
        from .attributes import block_polygon

        return block_polygon(self.get_iterator())

    def orientation(self) -> DataFrame:
        from .attributes import block_orientation

        return block_orientation(self.get_iterator())

    def get_choice_iterator(self) -> DataFrame:
        from .attributes import symbol_choices

        return symbol_choices(self.get_iterator())

    def iterate_choices(self) -> DataFrame:
        """iterate_choices (tesserocr/tesserocr.pyx:1166-1170): one row per
        (symbol, alternative) in best-first order — posexplode of the
        nested choice arrays."""
        return self.get_choice_iterator().select(
            "url", "block_id", "para_id", "line_id", "word_id", "symbol_id",
            F.posexplode("choices").alias("rank", "choice"),
        ).select(
            "url", "block_id", "para_id", "line_id", "word_id", "symbol_id",
            "rank", F.col("choice.choice").alias("choice"),
            F.col("choice.conf").alias("conf"),
        )

    def paragraph_is_ltr(self) -> DataFrame:
        from .attributes import paragraph_is_ltr

        return paragraph_is_ltr(self.get_iterator())

    def bounding_box_internal(self, level: int | None = None) -> DataFrame:
        """BoundingBoxInternal (tesserocr/tesserocr.pyx:610-622): bboxes in
        working-rectangle coordinates (origin at the SetRectangle corner)."""
        from .attributes import bounding_box_internal

        left, top = (self._region[0], self._region[1]) if self._region else (0, 0)
        sl = self.get_iterator()
        if level is not None:
            sl = sl.filter(F.col("level") == level)
        return bounding_box_internal(sl, left=left, top=top, scale=1)

    def set_bounding_box_components(
        self, include_upper_dots: bool, include_lower_dots: bool
    ) -> "SparkPageAPI":
        """SetBoundingBoxComponents (tesserocr/tesserocr.pyx:570-583).
        Char-grid geometry has no above/below-body diacritics, so the flags
        never change a bbox (documented no-op) — but they are carried through
        the immutable-config clone idiom like every other setter, so clones
        (e.g. analyse_layout) see them."""
        self.set_variable("bbox_include_upper_dots", "1" if include_upper_dots else "0")
        return self.set_variable(
            "bbox_include_lower_dots", "1" if include_lower_dots else "0"
        )

    def get_bounding_box_components(self) -> tuple[bool, bool]:
        return (
            self.config.get_bool_variable("bbox_include_upper_dots"),
            self.config.get_bool_variable("bbox_include_lower_dots"),
        )

    def set_debug_variable(self, name: str, value: str) -> "SparkPageAPI":
        """SetDebugVariable (tesserocr/tesserocr.pyx:1389-1411): same store
        as SetVariable; unknown names raise (the name-lookup-failed signal)."""
        self.clear()
        self.config = self.config.with_debug_variable(name, value)
        return self

    def set_min_orientation_margin(self, margin: float) -> "SparkPageAPI":
        """set_min_orientation_margin (tesserocr/tesserocr.pyx:2648-2654):
        OSD orientation margin config knob (no-op for the upright char grid)."""
        return self.set_variable("min_orientation_margin", str(float(margin)))

    def set_source_resolution(self, ppi: int) -> "SparkPageAPI":
        """SetSourceResolution (tesserocr/tesserocr.pyx:1827-1833): source
        PPI feeding WordFontAttributes pointsize."""
        return self.set_variable("source_resolution", str(int(ppi)))

    def get_best_lstm_symbol_choices(self) -> DataFrame:
        from .attributes import best_lstm_symbol_choices

        return best_lstm_symbol_choices(self.get_iterator())

    def charset_table(self) -> DataFrame:
        from .attributes import charset_table

        return charset_table(self.get_iterator())

    def is_valid_character(self, ch: str) -> bool:
        """IsValidCharacter (tesserocr/tesserocr.pyx:2593-2600): membership
        in the engine charset (anything printable minus the blacklist)."""
        if len(ch) != 1 or not ch.isprintable():
            return False
        return ch not in set(self.config.get_variable("tessedit_char_blacklist"))

    def get_text_direction(self) -> DataFrame:
        from .attributes import text_direction

        return text_direction(self.recognize())

    def empty(self, level: int) -> DataFrame:
        """Empty(level) predicate per document (tesserocr/tesserocr.pyx:628-637)."""
        sl = self.get_iterator()
        return (
            self.recognize().select("url")
            .join(
                sl.filter(F.col("level") == level).select("url").distinct(),
                "url", "left_anti",
            )
            .select("url", F.lit(True).alias("empty"))
        )

    def detect_os(self) -> DataFrame:
        """(url, osd struct) (DetectOS, tesserocr/tesserocr.pyx:2615-2634)."""
        return self.recognize().select("url", "osd.*")

    def get_thresholded_text(self) -> DataFrame:
        """GetThresholdedImage analogue (tesserocr/tesserocr.pyx:1849-1862):
        the *preprocessed* document — all visible text normalized, boilerplate
        still present (PSM.SINGLE_COLUMN view) — plus the scale factor
        (GetThresholdedImageScaleFactor, :2104-2111)."""
        return extract_text_only(
            self._pages, self.config.with_psm(PSM.SINGLE_COLUMN)
        ).select(
            "url",
            F.col("extracted_text").alias("thresholded_text"),
            F.lit(1).alias("scale_factor"),
        )

    def span_content(self, level: int = RIL.WORD) -> DataFrame:
        """GetImage / GetBinaryImage per span (tesserocr/tesserocr.pyx:664-734):
        the cropped content of each span — in char-grid geometry, the
        substring of its line delimited by the span box."""
        sl = self.get_iterator()
        lines = sl.filter(F.col("level") == RIL.TEXTLINE).select(
            "url", "block_id", "para_id", "line_id",
            F.col("text").alias("line_text"),
        )
        target = sl.filter(F.col("level") == level).alias("t")
        return (
            target.join(lines.alias("l"),
                        ["url", "block_id", "para_id", "line_id"])
            .select(
                "url", "block_id", "para_id", "line_id",
                F.col("t.word_id").alias("word_id"),
                F.col("t.symbol_id").alias("symbol_id"),
                F.substring(
                    F.col("l.line_text"),
                    F.col("t.bbox.x0") + 1,
                    F.col("t.bbox.x1") - F.col("t.bbox.x0"),
                ).alias("content"),
                F.col("t.text").alias("text"),
            )
        )

    def oem(self) -> int:
        """Engine-mode getter (tesserocr/tesserocr.pyx:2644-2646)."""
        return self.config.oem

    def get_datapath(self) -> str:
        """GetDatapath (tesserocr/tesserocr.pyx:1356-1358): the model
        location — a constant for the built-in HTML segmentation engine."""
        return "tesserocr_spark://builtin"

    def clear_persistent_cache(self) -> None:
        """ClearPersistentCache (tesserocr/tesserocr.pyx:1241-1243)."""
        self.spark.catalog.clearCache()

    def get_available_languages(self) -> list[str]:
        return list(AVAILABLE_LANGUAGES)

    def get_init_languages_as_string(self) -> str:
        return self.config.lang


def tesseract_rect(
    pages: DataFrame,
    left: int,
    top: int,
    width: int,
    height: int,
    config: ExtractorConfig | None = None,
) -> DataFrame:
    """TesseractRect (tesserocr/tesserocr.pyx:1670-1712): one-shot fused
    scan + region restriction + extraction -> (url, text)."""
    docs = extract_pages(pages, config, region=(left, top, width, height))
    return docs.select("url", F.col("extracted_text").alias("text"))
