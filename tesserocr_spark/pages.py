"""Deterministic pages tables (FIXTURES.md §1).

The input shape is fixed by BASELINE.json ``input_hint``:
``url:string, warc_ts:timestamp, html:binary, text:string, lang:string``.

Two generators, both partition-independent (every row is a pure function of
its key — never of Spark task context):

* ``pages_from_documents`` — wraps the driver-provided ``documents.parquet``
  text in a frozen HTML template **with native JVM expressions only** (no
  Python in the loop). Because the template's extraction result is exactly
  the whitespace-normalized document text + ``"\\n"``, the full
  html→extraction pipeline gets a closed-form ANSI-SQL oracle.

* ``synthetic_pages`` — a richer seeded corpus (multi-paragraph mains,
  Zipf-skewed hosts, tables, figures, sup/sub, entities, degenerate rows)
  used by pytest fixtures and the benchmark. Content derives from
  ``md5(seed, i)`` so the table is identical at any parallelism.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import PAGES_SCHEMA

#: frozen template for pages_from_documents (keep in sync with ORACLE_*).
DOC_TEMPLATE_PREFIX = (
    '<html><head><title>doc</title></head><body>'
    '<nav><a href="/">home</a> <a href="/about">about</a></nav>'
    "<main><p>"
)
DOC_TEMPLATE_SUFFIX = (
    "</p></main>"
    '<footer><a href="/tos">terms</a> <a href="/privacy">privacy</a></footer>'
    "</body></html>"
)

_LANG3 = {"en": "eng", "de": "deu", "fr": "fra", "es": "spa", "zh": "chi_sim",
          "pt": "por", "it": "ita", "ru": "rus", "ja": "jpn", "nl": "nld"}


def spread(df: DataFrame) -> DataFrame:
    """The one input-spread policy: a keyless round-robin repartition to
    cluster parallelism when ``df`` reads fewer files than there are cores,
    else ``df`` unchanged.

    The testdata parquet is ONE file, so a heavy stage straight over its
    scan runs in a single task; a corpus table has thousands of files and
    needs no spread. Callers pass the NARROWEST frame their heavy stage
    needs (``doc_id`` for the codec kernels, ``(doc_id, text)`` for the
    dedup passes): the exchange moves those bytes and no more. One task
    per core, not more: Python-runner stages pay a serial per-task launch
    cost, so finer partitions lose at this input size (measured r06 at
    sf0.1/local[32]: spans_agg 2.14 s at 4x cores, 0.87 s at 1x). The file
    count comes from the plan's file index, with no RDD built; a frame with
    no file scan counts zero files and is spread."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < n:
        return df.repartition(n)
    return df


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> pages table, all JVM-side (zero Python per row).
    The scan goes through ``spread`` so that the downstream extraction UDF
    fans out over a single-file input."""
    docs = spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    lang_map = F.create_map(*[F.lit(x) for kv in _LANG3.items() for x in kv])
    return docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00"))
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.encode(
            F.concat(F.lit(DOC_TEMPLATE_PREFIX), F.col("text"),
                     F.lit(DOC_TEMPLATE_SUFFIX)),
            "UTF-8",
        ).alias("html"),
        F.concat(F.lit("home about "), F.col("text"),
                 F.lit(" terms privacy")).alias("text"),
        F.coalesce(lang_map[F.col("lang")], F.lit("eng")).alias("lang"),
    )


def pages_from_files(spark: SparkSession, path: str, lang: str = "eng") -> DataFrame:
    """SetImageFile / file_to_text ingestion (tesserocr/tesserocr.pyx:1803-1825,
    2735-2779): scan raw HTML files with the binaryFile source into the pages
    schema — url = file path, warc_ts = modification time."""
    raw = spark.read.format("binaryFile").load(path)
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(lang).alias("lang"),
    )


def file_to_text(spark: SparkSession, path: str, lang: str = "eng",
                 psm: int | None = None) -> DataFrame:
    """file_to_text one-shot helper (tesserocr/tesserocr.pyx:2735-2779):
    path glob -> (url, extracted_text)."""
    from .api import extract_text_only
    from .config import ExtractorConfig
    from .constants import PSM

    cfg = ExtractorConfig(lang=lang, psm=PSM.AUTO if psm is None else psm)
    return extract_text_only(pages_from_files(spark, path, lang), cfg)


# ---------------------------------------------------------------------------
# seeded synthetic corpus
# ---------------------------------------------------------------------------

_WORDS = (
    "the quick brown fox jumps over lazy dog spark engine extracts main "
    "content from web pages boilerplate nav link density text block para "
    "line word symbol reading order partition shuffle broadcast join window "
    "aggregate fold confidence hierarchy iceberg bucket salt skew resume"
).split()

_NAV_LINKS = ["home", "about", "contact", "blog", "archive", "tags", "search"]


def _rnd(seed: int, i: int, salt: str) -> int:
    h = hashlib.md5(f"{seed}:{i}:{salt}".encode()).digest()
    return int.from_bytes(h[:8], "big")


def make_page(i: int, seed: int = 42) -> tuple[str, pd.Timestamp, bytes, str, str]:
    """Pure function index -> pages row. Degenerate rows every 97th page
    (reference degenerate-input pattern, tests/test_api.py:265-281)."""
    r = _rnd(seed, i, "base")
    # Zipf-ish host skew: host 0 takes ~50% of pages, then tail
    hr = _rnd(seed, i, "host") % 100
    host = 0 if hr < 50 else (1 if hr < 70 else (2 if hr < 80 else 3 + hr % 17))
    url = f"https://host{host}.example/{i % 13}/{i}"
    ts = pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=i)
    lang = ("eng", "deu", "fra")[r % 10 % 3] if r % 10 < 3 else "eng"

    kind = i % 97
    if kind == 13:
        return url, ts, b"", "", lang
    if kind == 29:
        return url, ts, b"   \n ", " ", lang
    if kind == 47:
        html = b'<nav><a href="#">one</a> <a href="#">two</a> <a href="#">three</a></nav>'
        return url, ts, html, "one two three", lang
    if kind == 61:
        return url, ts, b"<p>unclosed <b>bold <i>nest", "unclosed bold nest", lang
    if kind == 83:
        return url, ts, b"x", "x", lang
    if kind == 91:
        # heavy-tail page (~30 KB): exercises size skew + the batch deadline
        big = "".join(
            f"<p>{' '.join(_WORDS[_rnd(seed, i, f'big:{p}:{k}') % len(_WORDS)] for k in range(40))}.</p>"
            for p in range(120)
        )
        html = f"<html><body><main>{big}</main></body></html>"
        import re as _re

        visible = _re.sub(r"\s+", " ", _re.sub(r"<[^>]+>", " ", html)).strip()
        return url, ts, html.encode(), visible, lang

    def words(n: int, salt: str) -> str:
        return " ".join(
            _WORDS[_rnd(seed, i, f"{salt}:{k}") % len(_WORDS)] for k in range(n)
        )

    parts = ["<html><body><nav>"]
    for j in range(3 + r % 4):
        parts.append(f'<a href="/{_NAV_LINKS[j % len(_NAV_LINKS)]}">'
                     f"{_NAV_LINKS[(j + r) % len(_NAV_LINKS)]}</a> ")
    parts.append("</nav><header><h1>Site header</h1></header><main>")
    if i == 0:
        # canonical first page carries the reference's exact-first-words
        # fixture: word0 "The" blanks 0, word1 "(quick)" blanks 1
        # (tests/test_api.py:209-225)
        parts.append("<p>The (quick) brown fox jumps over the lazy dog.</p>")
    n_paras = 1 + _rnd(seed, i, "np") % 4
    for p in range(n_paras):
        ns = 1 + _rnd(seed, i, f"ns:{p}") % 3
        sentences = [
            words(3 + _rnd(seed, i, f"nw:{p}:{s}") % 9, f"w:{p}:{s}") + "."
            for s in range(ns)
        ]
        parts.append("<p>" + " ".join(sentences) + "</p>")
    if r % 5 == 0:
        parts.append("<table><tr><td>cell one</td><td>cell two</td></tr></table>")
    if r % 7 == 0:
        parts.append('<figure><img src="i.png"><figcaption>caption '
                     "2<sup>8</sup> &amp; H<sub>2</sub>O&#x2026;</figcaption></figure>")
    parts.append("</main><footer>&copy; 2026 example "
                 '<a href="/tos">terms</a></footer></body></html>')
    html = "".join(parts)
    # visible-text dump (pre-extraction, boilerplate included)
    import re
    visible = re.sub(r"\s+", " ", re.sub(r"<[^>]+>", " ", html)).strip()
    return url, ts, html.encode("utf-8"), visible, lang


def synthetic_pages(spark: SparkSession, n: int, seed: int = 42,
                    partitions: int | None = None) -> DataFrame:
    """Distributed build of the seeded corpus: spark.range → mapInPandas."""
    rng = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            rows = [make_page(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return rng.mapInPandas(gen, PAGES_SCHEMA)
