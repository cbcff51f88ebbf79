"""Query registry: every operator exposed to the driver harness.

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame`` with
an equivalent ANSI-SQL oracle string (DuckDB, over the pre-registered views
``region nation customer supplier part orders lineitem events documents
embeddings``). Column names/aliases are identical on both sides — the driver
sorts columns by name and hashes values (order-insensitive).

Cross-engine determinism rules used throughout:

* float aggregates rounded (2-6 dp) — FP addition order differs between
  engines;
* int truncation made explicit with ``floor`` (DuckDB casts round,
  Spark casts truncate);
* md5-hex → int64 via the verified-equivalent pair
  Spark ``conv(substr(md5(x),1,15),16,10)::bigint`` ↔
  DuckDB ``('0x'||substr(md5(x),1,15))::BIGINT``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: the frozen md5-hex→int64 law as a Spark-SQL expr template (its DuckDB
#: twin is ``('0x'||substr(md5(x),1,15))::BIGINT`` — module docstring).
#: Format with ``HASH_SQL.format(x=<expr>)``; ONE definition for every
#: operator that hashes content.
HASH_SQL = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"


def query(name: str, oracle: str | None = None):
    """Register a driver query; ``oracle=None`` → rows-only check."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone for oracle comparability (DuckDB timestamps
    are UTC-naive). Runtime-mutable conf, safe to set from query builders."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


#: memoized extraction results per sf_dir (the multi-query persist tactic).
_DOCS_CACHE: dict[tuple, DataFrame] = {}

#: every query-level persisted frame (signature/shingle side-tables), so a
#: long-lived driver can release executor storage explicitly instead of
#: relying on session teardown (ADVICE r03: unbounded storage accrual).
_PERSISTED: list[DataFrame] = []


def track_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` registered for ``release_cache()``. Spark's cache
    manager dedupes by canonical plan, so re-invocations of the same query
    share one materialization and the extra registry entries are no-ops on
    unpersist."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_cache() -> int:
    """Unpersist every tracked query-level frame plus the ``docs_for``
    memo. Call from job drivers after the terminal action (a no-op for the
    driver harness, which compares then stops its session). Returns the
    number of frames released."""
    n = 0
    for df in _PERSISTED:
        df.unpersist()
        n += 1
    _PERSISTED.clear()
    for df in _DOCS_CACHE.values():
        df.unpersist()
        n += 1
    _DOCS_CACHE.clear()
    return n


def docs_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages_from_documents -> extract, persisted once per (app, sf_dir).

    Keyed on ``sparkContext.applicationId`` — NOT ``id(spark)``, which a
    long-lived driver can recycle after session teardown and serve a stale
    persisted frame from a dead context (VERDICT r02 §wrong #3)."""
    from ..api import extract_pages
    from ..pages import pages_from_documents

    key = (spark.sparkContext.applicationId, sf_dir)
    df = _DOCS_CACHE.get(key)
    if df is None:
        df = extract_pages(pages_from_documents(ensure_utc(spark), sf_dir)).persist()
        _DOCS_CACHE[key] = df
    return df


def words_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORD-level spans with reading-order pos (AllWords base view)."""
    from pyspark.sql import functions as F

    from ..api import reading_order_words, spans_long

    return reading_order_words(spans_long(docs_for(spark, sf_dir))).select(
        "url", "pos", F.col("text").alias("word"), "conf", "bbox"
    )


#: shared oracle prologue: the pages/words views in SQL (keep in sync with
#: pages.pages_from_documents + the extraction whitespace law).
SQL_PAGES = """
pages AS (
  SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
         trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
  FROM documents
)
"""

SQL_WORDS = SQL_PAGES + """,
words AS (
  SELECT url,
         unnest(string_split(norm, ' ')) AS word,
         generate_subscripts(string_split(norm, ' '), 1) - 1 AS pos
  FROM pages WHERE norm != ''
)
"""

#: frozen confidence formula in SQL (extractor.word_conf mirror).
SQL_CONF = "CAST(95.0 - ((3 * length(word)) % 11) AS DOUBLE)"

def _script_case_whens() -> str:
    """Generate the script-classification CASE arms from core/osd._RANGES —
    the SAME table the engine classifies with — as contiguous runs of
    ``isalpha()`` codepoints per range (~40 runs total). Generating from
    one source makes the SQL law EXACTLY "alpha chars within the block",
    matching classify_char's ``isalpha`` gate; the earlier hand-written
    whole-block conditions miscounted combining marks / block-internal
    digits and punctuation (r04 code-review finding: Devanagari matras or
    Thai digits could flip the SQL winner on mixed-script text). Both
    engines run on this interpreter's Unicode tables by construction."""
    from ..core.osd import _RANGES

    whens = []
    for lo, hi, name in _RANGES:
        runs: list[list[int]] = []
        for cp in range(lo, hi + 1):
            if chr(cp).isalpha():
                if runs and runs[-1][1] == cp - 1:
                    runs[-1][1] = cp
                else:
                    runs.append([cp, cp])
        cond = " OR ".join(
            f"cp = {a}" if a == b else f"cp BETWEEN {a} AND {b}" for a, b in runs
        )
        whens.append(f"WHEN {cond} THEN '{name}'")
    return "\n           ".join(whens)


#: OSD script-classification law in SQL (core/osd.py detect_os twin,
#: lockstep — r04, after the non-ASCII edge corpus exposed the old
#: hardcoded 'Latin'). Per-codepoint counts of alpha chars per script
#: block (CASE arms generated from osd._RANGES — see _script_case_whens);
#: winner = max count, ties broken alphabetically (Python's
#: ``max(sorted(counts), key=counts.get)``). Oracles emit
#: ``coalesce(script_win.script_name, 'Latin')`` — the fallback for
#: documents with no classifiable letter is the script implied by the
#: extraction config's lang hint, which is 'eng' → 'Latin' for every
#: registry query (per-config variation is pytest territory).
SQL_SCRIPT = f"""
script_cp AS (
  SELECT url, unicode(substr(norm, i, 1)) AS cp
  FROM (SELECT url, norm, unnest(range(1, length(norm) + 1)) AS i FROM pages)
),
script_counts AS (
  SELECT url,
         CASE
           {_script_case_whens()}
         END AS script
  FROM script_cp
),
script_win AS (
  SELECT url, script AS script_name FROM (
    SELECT url, script, row_number() OVER (
             PARTITION BY url ORDER BY count(*) DESC, script ASC) AS rn
    FROM script_counts WHERE script IS NOT NULL GROUP BY url, script
  ) WHERE rn = 1
)
"""
