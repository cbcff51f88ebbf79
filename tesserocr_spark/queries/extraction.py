"""Extraction-family driver queries — the real html→spans pipeline end-to-end.

Every query here runs the actual vectorized extraction UDF over
``pages_from_documents`` and is checked against a *closed-form* ANSI-SQL
oracle over the raw ``documents`` text (possible because the page template
is frozen — see pages.py). This makes the driver's DuckDB harness validate
the whole engine (segmentation, boilerplate strip, fold, geometry, ids,
confidence), not just relational plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..api import reading_order_words, spans_long, word_order
from .registry import (
    SQL_CONF,
    SQL_PAGES,
    SQL_SCRIPT,
    SQL_WORDS,
    docs_for,
    query,
    words_for,
)
from .textops import _SQL_STOP  # single stopword-list definition (lockstep rule)

@query(
    "utf8_text",
    oracle=f"WITH {SQL_PAGES} SELECT url, CASE WHEN norm = '' THEN '' ELSE norm || chr(10) END AS text FROM pages",
)
def utf8_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetUTF8Text per document (tesserocr/tesserocr.pyx:2379-2390) — the
    byte-identity flagship: extracted main content, boilerplate stripped."""
    return docs_for(spark, sf_dir).select("url", F.col("extracted_text").alias("text"))


@query(
    "all_words",
    oracle=f"WITH {SQL_WORDS} SELECT url, pos, word FROM words",
)
def all_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllWords (tesserocr/tesserocr.pyx:2528-2544): reading-order word list."""
    return words_for(spark, sf_dir).select("url", "pos", "word")


@query(
    "all_word_confidences",
    oracle=f"WITH {SQL_WORDS} SELECT url, pos, CAST({SQL_CONF} AS INT) AS conf FROM words",
)
def all_word_confidences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllWordConfidences (tesserocr/tesserocr.pyx:2503-2526) — int-truncated."""
    return words_for(spark, sf_dir).select(
        "url", "pos", F.col("conf").cast("int").alias("conf")
    )


@query(
    "map_word_confidences",
    oracle=f"WITH {SQL_WORDS} SELECT url, pos, word, CAST({SQL_CONF} AS INT) AS conf FROM words",
)
def map_word_confidences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapWordConfidences (tesserocr/tesserocr.pyx:2546-2559): the positional
    zip of AllWords × AllWordConfidences — here a single projection since both
    are views of the same span rows."""
    return words_for(spark, sf_dir).select(
        "url", "pos", "word", F.col("conf").cast("int").alias("conf")
    )


@query(
    "mean_text_conf",
    oracle=f"""WITH {SQL_WORDS}
SELECT url, CAST(floor(avg({SQL_CONF})) AS INT) AS conf FROM words GROUP BY url""",
)
def mean_text_conf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MeanTextConf (tesserocr/tesserocr.pyx:2499-2501): doc mean, truncated."""
    return (
        words_for(spark, sf_dir)
        .groupBy("url")
        .agg(F.floor(F.avg("conf")).cast("int").alias("conf"))
    )


@query(
    "word_geometry",
    oracle=f"""WITH {SQL_WORDS}
SELECT url, pos, word,
       CAST(coalesce(sum(length(word) + 1) OVER (
            PARTITION BY url ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS x0,
       CAST(coalesce(sum(length(word) + 1) OVER (
            PARTITION BY url ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + length(word) AS INT) AS x1
FROM words""",
)
def word_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-grid word boxes (BoundingBox, tesserocr/tesserocr.pyx:586-608):
    the engine's emitted geometry vs a closed-form prefix-sum oracle."""
    return words_for(spark, sf_dir).select(
        "url", "pos", "word", F.col("bbox.x0").alias("x0"), F.col("bbox.x1").alias("x1")
    )


@query(
    "span_level_counts",
    oracle=f"""WITH {SQL_PAGES},
stats AS (
  SELECT url,
         len(string_split(norm, ' ')) AS nw,
         length(replace(norm, ' ', '')) AS nsym
  FROM pages WHERE norm != ''
)
SELECT url, 0 AS level, CAST(1 AS BIGINT) AS n FROM stats
UNION ALL SELECT url, 1, 1 FROM stats
UNION ALL SELECT url, 2, 1 FROM stats
UNION ALL SELECT url, 3, nw FROM stats
UNION ALL SELECT url, 4, nsym FROM stats""",
)
def span_level_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span count per RIL level (the hierarchy integrity check: 1 block,
    1 para, 1 line per templated page; words; symbols = non-space chars)."""
    return (
        spans_long(docs_for(spark, sf_dir))
        .groupBy("url", "level")
        .agg(F.count("*").alias("n"))
    )


@query(
    "osd_script",
    oracle=f"""WITH {SQL_PAGES}, {SQL_SCRIPT.strip()}
SELECT p.url, coalesce(sw.script_name, 'Latin') AS script_name,
       0 AS orient_deg
FROM pages p LEFT JOIN script_win sw ON sw.url = p.url""",
)
def osd_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DetectOS (tesserocr/tesserocr.pyx:2615-2634): script + orientation."""
    return docs_for(spark, sf_dir).select(
        "url",
        F.col("osd.script_name").alias("script_name"),
        F.col("osd.orient_deg").alias("orient_deg"),
    )


@query(
    "word_boundaries",
    oracle=f"""WITH {SQL_WORDS}
SELECT url, pos, word,
       pos = 0 AS is_line_start,
       lead(word) OVER (PARTITION BY url ORDER BY pos) IS NULL AS is_final
FROM words""",
)
def word_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IsAtBeginningOf / IsAtFinalElement (tesserocr/tesserocr.pyx:518-568)
    as lag/lead boundary flags over the reading-order window."""
    w = word_order()
    line_key = F.struct("block_id", "para_id", "line_id")
    return (
        reading_order_words(spans_long(docs_for(spark, sf_dir)))
        .withColumn(
            "is_line_start",
            F.lag(line_key).over(w).isNull()
            | (F.lag(line_key).over(w) != line_key),
        )
        .withColumn("is_final", F.lead("word_id").over(w).isNull())
        .select("url", "pos", F.col("text").alias("word"), "is_line_start", "is_final")
    )


@query(
    "doc_metrics",
    oracle=f"""WITH {SQL_PAGES}
SELECT url,
       CAST(CASE WHEN norm = '' THEN 0 ELSE 1 END AS INT) AS n_blocks,
       CAST(CASE WHEN norm = '' THEN 0
                 ELSE len(string_split(norm, ' ')) END AS INT) AS n_words,
       CAST(length(replace(norm, ' ', '')) AS INT) AS n_symbols
FROM pages""",
)
def doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document extraction metrics struct (lineage source)."""
    d = docs_for(spark, sf_dir)
    return d.select(
        "url",
        F.col("metrics.n_blocks").alias("n_blocks"),
        F.col("metrics.n_words").alias("n_words"),
        F.col("metrics.n_symbols").alias("n_symbols"),
    )


@query(
    "tsv_word_rows",
    oracle=f"""WITH {SQL_WORDS}
SELECT url,
       5 AS tsv_level, pos, word,
       CAST(length(word) AS INT) AS width,
       CAST(1 AS INT) AS height,
       {SQL_CONF} AS conf
FROM words""",
)
def tsv_word_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetTSVText word rows (tesserocr/tesserocr.pyx:2427-2441) — spans_long
    as a flat TSV-shaped projection (level is 1-based in TSV: WORD=5)."""
    return words_for(spark, sf_dir).select(
        "url",
        (F.lit(5)).alias("tsv_level"),
        "pos",
        "word",
        (F.col("bbox.x1") - F.col("bbox.x0")).alias("width"),
        (F.col("bbox.y1") - F.col("bbox.y0")).alias("height"),
        "conf",
    )


@query(
    "fold_from_spans",
    oracle=f"WITH {SQL_PAGES} SELECT url, norm || chr(10) AS text FROM pages WHERE norm != ''",
)
def fold_from_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetUTF8Text reconstructed ENTIRELY in Spark SQL from WORD spans (the
    cross-path equivalence oracle, reference tests/test_api.py:104-117):
    blanks-joined words -> line strings -> '\\n'-joined paras + terminator ->
    blank-line-joined document. Must byte-match both the UDF text and the
    closed-form SQL oracle."""
    words = reading_order_words(spans_long(docs_for(spark, sf_dir)))
    lines = (
        words.withColumn("piece", F.concat(F.repeat(F.lit(" "), F.col("blanks")), "text"))
        .groupBy("url", "block_id", "para_id", "line_id")
        .agg(
            F.concat_ws(
                "", F.sort_array(F.collect_list(F.struct("word_id", "piece"))).getField("piece")
            ).alias("line")
        )
    )
    paras = lines.groupBy("url", "block_id", "para_id").agg(
        F.concat_ws(
            "\n", F.sort_array(F.collect_list(F.struct("line_id", "line"))).getField("line")
        ).alias("para")
    )
    return paras.groupBy("url").agg(
        F.concat(
            F.concat_ws(
                "\n\n",
                F.sort_array(F.collect_list(F.struct("block_id", "para_id", "para"))
                             ).getField("para"),
            ),
            F.lit("\n"),
        ).alias("text")
    )


@query(
    "blanks_before_word",
    oracle=f"""WITH {SQL_WORDS}
SELECT url, pos, CAST(CASE WHEN pos = 0 THEN 0 ELSE 1 END AS INT) AS blanks
FROM words""",
)
def blanks_before_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlanksBeforeWord (tesserocr/tesserocr.pyx:965-968): 0 at line start,
    1 otherwise — the law behind the byte-identity fold
    (reference fixture tests/test_api.py:217-223)."""
    return reading_order_words(spans_long(docs_for(spark, sf_dir))).select(
        "url", "pos", F.col("blanks").cast("int").alias("blanks")
    )


@query(
    "word_attributes",
    oracle=f"""WITH {SQL_WORDS}
SELECT url, pos, word,
       regexp_matches(word, '^[0-9][0-9.,:%/-]*$') AS is_numeric,
       word IN ('{_SQL_STOP}')
         AS is_from_dictionary,
       1 AS direction
FROM words""",
)
def word_attributes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordIsNumeric / WordIsFromDictionary / WordDirection
    (tesserocr/tesserocr.pyx:944-973) over the real extraction, dictionary =
    the broadcast stopword list."""
    from ..attributes import word_attribute_columns
    from .textops import STOPWORDS

    return reading_order_words(spans_long(docs_for(spark, sf_dir))).select(
        "url", "pos", *word_attribute_columns(STOPWORDS)
    )


@query(
    "charset_table",
    oracle=f"""WITH {SQL_PAGES},
glyphs AS (
  SELECT DISTINCT unnest(string_split(replace(norm, ' ', ''), '')) AS glyph
  FROM pages WHERE norm != ''
)
SELECT CAST(row_number() OVER (ORDER BY glyph) - 1 AS INT) AS unichar_id, glyph
FROM glyphs""",
)
def charset_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetUnichar's id→glyph table (tesserocr/tesserocr.pyx:2636-2642) built
    from SYMBOL spans of the real extraction."""
    from ..attributes import charset_table

    return charset_table(spans_long(docs_for(spark, sf_dir)))


@query(
    "thresholded_text",
    oracle=f"""WITH {SQL_PAGES}
SELECT url,
       CASE WHEN norm = ''
            THEN 'home about' || chr(10) || chr(10) || 'terms privacy' || chr(10)
            ELSE 'home about' || chr(10) || chr(10) || norm || chr(10) || chr(10)
                 || 'terms privacy' || chr(10) END AS thresholded_text
FROM pages""",
)
def thresholded_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetThresholdedImage analogue (tesserocr/tesserocr.pyx:1849-1862):
    PSM.SINGLE_COLUMN — all visible text normalized with boilerplate KEPT
    (nav + main + footer of the frozen template) — byte-checked end to end."""
    from ..api import extract_text_only
    from ..config import ExtractorConfig
    from ..constants import PSM
    from ..pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    cfg = ExtractorConfig(psm=PSM.SINGLE_COLUMN)
    return extract_text_only(pages, cfg).select(
        "url", F.col("extracted_text").alias("thresholded_text")
    )


@query(
    "tesseract_rect",
    oracle=f"""WITH {SQL_WORDS},
placed AS (
  SELECT url, pos, word,
         CAST(coalesce(sum(length(word) + 1) OVER (
              PARTITION BY url ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + length(word) AS INT) AS x1
  FROM words
)
SELECT p.url,
       coalesce(k.text, '') AS text
FROM pages p LEFT JOIN (
  SELECT url, string_agg(word, ' ' ORDER BY pos) || chr(10) AS text
  FROM placed WHERE x1 <= 40 GROUP BY url
) k ON k.url = p.url""",
)
def tesseract_rect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TesseractRect (tesserocr/tesserocr.pyx:1670-1712): fused one-shot
    extraction restricted to char-grid columns [0, 40) of row 0 — words whose
    boxes fit entirely inside; empty restriction yields empty text."""
    from ..api import tesseract_rect
    from ..pages import pages_from_documents

    return tesseract_rect(pages_from_documents(spark, sf_dir), 0, 0, 40, 1)


@query(
    "extract_full",
    oracle=f"""WITH {SQL_PAGES}, {SQL_SCRIPT.strip()},
stats AS (
  SELECT url, norm,
         len(string_split(norm, ' ')) AS nw,
         length(replace(norm, ' ', '')) AS nsym
  FROM pages
)
SELECT s.url,
       CASE WHEN norm = '' THEN '' ELSE norm || chr(10) END AS extracted_text,
       CAST(CASE WHEN norm = '' THEN 0 ELSE 3 + nw + nsym END AS INT) AS n_spans,
       coalesce(sw.script_name, 'Latin') AS script,
       CAST(CASE WHEN norm = '' THEN 0 ELSE nw END AS INT) AS n_words
FROM stats s LEFT JOIN script_win sw ON sw.url = s.url""",
)
def extract_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Recognize struct (text + spans + osd + metrics) flattened to
    oracle-stateable values over the frozen template corpus: every field is
    a closed form of the document text (n_spans = 1 block + 1 para + 1 line
    + words + symbols). The richer synthetic-corpus byte-level assertions
    live in pytest (test_spark_extract)."""
    docs = docs_for(spark, sf_dir)
    return docs.select(
        "url",
        "extracted_text",
        F.size("spans").alias("n_spans"),
        F.col("osd.script_name").alias("script"),
        F.col("metrics.n_words").alias("n_words"),
    )


#: 2-letter → 3-letter lang map in SQL (pages._LANG3 twin, lockstep).
_SQL_RLANG = (
    "CASE lang WHEN 'en' THEN 'eng' WHEN 'de' THEN 'deu' WHEN 'fr' THEN 'fra'"
    " WHEN 'es' THEN 'spa' WHEN 'zh' THEN 'chi_sim' WHEN 'pt' THEN 'por'"
    " WHEN 'it' THEN 'ita' WHEN 'ru' THEN 'rus' WHEN 'ja' THEN 'jpn'"
    " WHEN 'nl' THEN 'nld' ELSE 'eng' END"
)


@query(
    "word_recognition_language",
    oracle=f"""WITH pages AS (
  SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
         trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm,
         {_SQL_RLANG} AS rlang
  FROM documents
),
words AS (
  SELECT url, rlang,
         unnest(string_split(norm, ' ')) AS word,
         generate_subscripts(string_split(norm, ' '), 1) - 1 AS pos
  FROM pages WHERE norm != ''
)
SELECT url, CAST(pos AS INT) AS word_id, word, rlang AS recognition_lang
FROM words""",
)
def word_recognition_language_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordRecognitionLanguage (tesserocr/tesserocr.pyx:944-953): document
    language projected onto WORD spans — checked against the documents.lang
    column mapped through the frozen 2→3-letter law."""
    from ..attributes import word_recognition_language

    return word_recognition_language(docs_for(spark, sf_dir)).select(
        "url", F.col("word_id").cast("int").alias("word_id"),
        "word", "recognition_lang",
    )


@query(
    "word_normed_text",
    oracle=f"""WITH {SQL_WORDS}
SELECT url, CAST(pos AS INT) AS word_id, word,
       replace(replace(translate(lower(trim(word)), '¹²³', '123'),
                       '…', '...'), chr(160), ' ') AS normed_text
FROM words""",
)
def word_normed_text_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordNormedUTF8Text (tesserocr/tesserocr.pyx:1002-1006): the normalized
    per-word string — lower/trim plus the NFKC folds of the extractor's
    emittable non-ASCII set, stated identically in Spark and DuckDB."""
    from ..attributes import word_normed_text

    return word_normed_text(spans_long(docs_for(spark, sf_dir))).select(
        "url", F.col("word_id").cast("int").alias("word_id"),
        "word", "normed_text",
    )
