"""Per-span attribute views — the reference's iterator accessor surface
(SURVEY.md §2.8) as derived DataFrame expressions over the spans view.

Everything here is a pure JVM-side projection (no Python): the attributes
were captured as span flag bits / geometry at extraction time, and these
views decode them into the shapes the reference returns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .api import reading_order_words
from .constants import DIR, RIL, Justification, Orientation, TextlineOrder, WritingDirection
from .core.extractor import (
    FLAG_BOLD,
    FLAG_ITALIC,
    FLAG_MONO,
    FLAG_NUMERIC,
    FLAG_RTL,
    FLAG_SUBSCRIPT,
    FLAG_SUPERSCRIPT,
)


def _has(bit: int):
    return F.col("flags").bitwiseAND(bit) != 0


def word_font_attributes(sl: DataFrame, source_ppi: int = 70) -> DataFrame:
    """WordFontAttributes (tesserocr/tesserocr.pyx:894-942): font name + six
    booleans + pointsize/font_id. Bold/italic/monospace come from the DOM
    styling tags captured at extraction; the rest are fixed for HTML.
    ``source_ppi`` mirrors SetSourceResolution (tesserocr.pyx:1827-1833):
    pointsize = 840/ppi, i.e. 12 pt at the 70-ppi default."""
    pointsize = int(round(840 / source_ppi)) if source_ppi > 0 else 12
    return sl.filter(F.col("level") == RIL.WORD).select(
        "url", "block_id", "para_id", "line_id", "word_id",
        F.col("text").alias("word"),
        F.lit("WebDefault").alias("font_name"),
        _has(FLAG_BOLD).alias("bold"),
        _has(FLAG_ITALIC).alias("italic"),
        F.lit(False).alias("underlined"),
        _has(FLAG_MONO).alias("monospace"),
        F.lit(False).alias("serif"),
        F.lit(False).alias("smallcaps"),
        F.lit(pointsize).alias("pointsize"),
        F.lit(0).alias("font_id"),
    )


def word_attribute_columns(dictionary: tuple[str, ...] = ()) -> list[Column]:
    """word, is_numeric, is_from_dictionary, direction of a WORD span row."""
    is_dict = F.col("text").isin(*dictionary) if dictionary else F.lit(False)
    return [
        F.col("text").alias("word"),
        _has(FLAG_NUMERIC).alias("is_numeric"),
        is_dict.alias("is_from_dictionary"),
        F.when(_has(FLAG_RTL), DIR.RIGHT_TO_LEFT)
        .otherwise(DIR.LEFT_TO_RIGHT).alias("direction"),
    ]


def word_attributes(sl: DataFrame, dictionary: tuple[str, ...] = ()) -> DataFrame:
    """WordIsNumeric / WordIsFromDictionary / WordDirection
    (tesserocr/tesserocr.pyx:944-973): numeric + RTL decoded from flags,
    dictionary membership against a broadcast word list."""
    return reading_order_words(sl).select(
        "url", "block_id", "para_id", "line_id", "word_id",
        *word_attribute_columns(dictionary),
    )


def word_recognition_language(docs: DataFrame) -> DataFrame:
    """WordRecognitionLanguage (tesserocr/tesserocr.pyx:944-953): the language
    used to recognize each word. The graft engine recognizes a whole page
    under one language (the pages.lang column), so the accessor projects the
    document language onto its WORD spans. Requires ``docs`` to carry the
    ``lang`` column (extract_pages keeps it when the input has it).
    ``explode_outer`` + a non-NULL filter, as in ``api.spans_long``, so an
    unpersisted ``extract_pages`` input runs the extractor once."""
    sl = (
        docs.select("url", "lang", F.explode_outer("spans").alias("s"))
        .filter(F.col("s").isNotNull())
        .select("url", "lang", "s.*")
    )
    return reading_order_words(sl).select(
        "url", "block_id", "para_id", "line_id", "word_id",
        F.col("text").alias("word"),
        F.col("lang").alias("recognition_lang"),
    )


#: the normalization law of WordNormedUTF8Text — lower + trim + the NFKC
#: folds for every non-ASCII char the HTML extractor can emit (superscript
#: digits, ellipsis, NBSP). Kept as a composable Column builder so the
#: Spark side and the DuckDB oracle state the identical chain.
def normed_word(col) -> "F.Column":
    c = F.translate(F.lower(F.trim(col)), "¹²³", "123")
    c = F.regexp_replace(c, "…", "...")
    return F.regexp_replace(c, "\u00a0", " ")  # NBSP -> space


def word_normed_text(sl: DataFrame) -> DataFrame:
    """WordNormedUTF8Text (tesserocr/tesserocr.pyx:1002-1006): the normalized
    recognition string per word — lowercased, trimmed, NFKC-folded for the
    extractor's emittable non-ASCII set (see ``normed_word``)."""
    return reading_order_words(sl).select(
        "url", "block_id", "para_id", "line_id", "word_id",
        F.col("text").alias("word"),
        normed_word(F.col("text")).alias("normed_text"),
    )


def symbol_attributes(sl: DataFrame) -> DataFrame:
    """SymbolIsSuperscript/Subscript/Dropcap (tesserocr/tesserocr.pyx:1018-1040)."""
    return sl.filter(F.col("level") == RIL.SYMBOL).select(
        "url", "block_id", "para_id", "line_id", "word_id", "symbol_id",
        F.col("text").alias("symbol"),
        _has(FLAG_SUPERSCRIPT).alias("is_superscript"),
        _has(FLAG_SUBSCRIPT).alias("is_subscript"),
        F.lit(False).alias("is_dropcap"),
    )


def paragraph_info(sl: DataFrame) -> DataFrame:
    """ParagraphInfo (tesserocr/tesserocr.pyx:779-817): justification,
    is_list_item, is_crown, first_line_indent. HTML text is left-justified
    with no indent; list-ness comes from the captured block tag class."""
    return sl.filter(F.col("level") == RIL.PARA).select(
        "url", "block_id", "para_id",
        F.lit(Justification.LEFT).alias("justification"),
        F.lit(False).alias("is_list_item"),
        F.lit(True).alias("is_crown"),
        F.lit(0).alias("first_line_indent"),
    )


def row_attributes(sl: DataFrame) -> DataFrame:
    """RowAttributes (tesserocr/tesserocr.pyx:880-892): row height,
    descenders, ascenders — in char-grid units every line is 1 high."""
    return sl.filter(F.col("level") == RIL.TEXTLINE).select(
        "url", "block_id", "para_id", "line_id",
        F.lit(1.0).alias("row_height"),
        F.lit(0.0).alias("descenders"),
        F.lit(0.0).alias("ascenders"),
    )


def baseline(sl: DataFrame, level: int = RIL.TEXTLINE) -> DataFrame:
    """Baseline (tesserocr/tesserocr.pyx:736-755): the bottom edge of the
    span box as a two-point segment."""
    return sl.filter(F.col("level") == level).select(
        "url", "block_id", "para_id", "line_id",
        F.col("bbox.x0").alias("x1"),
        F.col("bbox.y1").alias("y1"),
        F.col("bbox.x1").alias("x2"),
        F.col("bbox.y1").alias("y2"),
    )


def block_polygon(sl: DataFrame) -> DataFrame:
    """BlockPolygon (tesserocr/tesserocr.pyx:645-662): the block envelope as
    a closed 4-point ring (HTML regions are rectangular)."""
    b = sl.filter(F.col("level") == RIL.BLOCK)
    pt = lambda x, y: F.struct(x.cast("float").alias("x"), y.cast("float").alias("y"))  # noqa: E731
    return b.select(
        "url", "block_id",
        F.array(
            pt(F.col("bbox.x0"), F.col("bbox.y0")),
            pt(F.col("bbox.x1"), F.col("bbox.y0")),
            pt(F.col("bbox.x1"), F.col("bbox.y1")),
            pt(F.col("bbox.x0"), F.col("bbox.y1")),
        ).alias("polygon"),
    )


def block_orientation(sl: DataFrame) -> DataFrame:
    """PageIterator.Orientation (tesserocr/tesserocr.pyx:757-777): upright,
    left-to-right for HTML; deskew angle 0."""
    return sl.filter(F.col("level") == RIL.BLOCK).select(
        "url", "block_id",
        F.lit(Orientation.PAGE_UP).alias("orientation"),
        F.lit(WritingDirection.LEFT_TO_RIGHT).alias("writing_direction"),
        F.lit(TextlineOrder.TOP_TO_BOTTOM).alias("textline_order"),
        F.lit(0.0).alias("deskew_angle"),
    )


def symbol_choices(sl: DataFrame) -> DataFrame:
    """ChoiceIterator (tesserocr/tesserocr.pyx:1122-1163): best-first
    alternatives per symbol. The HTML extractor is deterministic, so the
    lattice is the recognized char at full confidence plus its case-variant
    at a fixed discount — enough to exercise the nested-array query shape."""
    alt = F.when(F.upper("text") != F.col("text"), F.upper("text")).otherwise(F.lower("text"))
    return sl.filter(F.col("level") == RIL.SYMBOL).select(
        "url", "block_id", "para_id", "line_id", "word_id", "symbol_id",
        F.when(
            alt != F.col("text"),
            F.array(
                F.struct(F.col("text").alias("choice"), F.col("conf").alias("conf")),
                F.struct(alt.alias("choice"), (F.col("conf") - 5.0).alias("conf")),
            ),
        )
        .otherwise(F.array(F.struct(F.col("text").alias("choice"),
                                    F.col("conf").alias("conf"))))
        .alias("choices"),
    )


def best_lstm_symbol_choices(sl: DataFrame) -> DataFrame:
    """GetBestLSTMSymbolChoices (tesserocr/tesserocr.pyx:2392-2409): per word
    the timestep lattice words→timesteps→(symbol, prob) — one timestep per
    symbol here, probabilities scaled to 0-1."""
    ch = symbol_choices(sl)
    step = F.transform(
        "choices",
        lambda c: F.struct(c["choice"].alias("symbol"), (c["conf"] / 100.0).alias("prob")),
    )
    return (
        ch.withColumn("step", step)
        .groupBy("url", "block_id", "para_id", "line_id", "word_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("symbol_id", "step")))
            .getField("step").alias("timesteps")
        )
    )


def charset_table(sl: DataFrame) -> DataFrame:
    """GetUnichar's id→glyph table (tesserocr/tesserocr.pyx:2636-2642):
    distinct symbols with dense content-derived ids (order by codepoint)."""
    from pyspark.sql import Window

    syms = (
        sl.filter((F.col("level") == RIL.SYMBOL) & F.col("text").isNotNull())
        .select(F.col("text").alias("glyph"))
        .distinct()
    )
    w = Window.orderBy("glyph")
    return syms.select((F.row_number().over(w) - 1).alias("unichar_id"), "glyph")


def text_direction(docs: DataFrame) -> DataFrame:
    """GetTextDirection (tesserocr/tesserocr.pyx:2602-2613): (offset, slope)
    — constant for upright HTML pages."""
    return docs.select("url", F.lit(0).alias("offset"), F.lit(0.0).alias("slope"))


def paragraph_is_ltr(sl: DataFrame) -> DataFrame:
    """ParagraphIsLtr (tesserocr/tesserocr.pyx:1086-1090): the paragraph's
    dominant reading direction — left-to-right unless a strict majority of
    its words carry the RTL bidi flag. One hash agg keyed by paragraph."""
    return (
        reading_order_words(sl)
        .groupBy("url", "block_id", "para_id")
        .agg(
            (F.sum(_has(FLAG_RTL).cast("int")) * 2 <= F.count("*"))
            .alias("is_ltr")
        )
    )


def bounding_box_internal(
    sl: DataFrame, left: int = 0, top: int = 0, scale: int = 1
) -> DataFrame:
    """BoundingBoxInternal (tesserocr/tesserocr.pyx:610-622): span bboxes in
    the working-rectangle coordinate system — origin at the SetRectangle
    corner, scaled by the preprocessing factor (metrics.scale_factor; 1 for
    the HTML char grid)."""
    return sl.select(
        "url", "level", "block_id", "para_id", "line_id", "word_id", "symbol_id",
        ((F.col("bbox.x0") - left) * scale).alias("x0"),
        ((F.col("bbox.y0") - top) * scale).alias("y0"),
        ((F.col("bbox.x1") - left) * scale).alias("x1"),
        ((F.col("bbox.y1") - top) * scale).alias("y1"),
    )
