"""Corpus-scale job layer: partitioning, skew defusal, lineage, resume.

This is the ProcessPages ETL driver (tesserocr/tesserocr.pyx:2253-2315)
rebuilt for a 10^12-row table (north_rule):

* **bucketing** — ``bucket = pmod(xxhash64(url), n_buckets)`` stands in for
  Iceberg ``bucket(N, url)`` partitioning (no Iceberg runtime is assumed;
  ``write_bucketed_table`` writes Spark's own bucketed layout). Work,
  lineage and resume are all keyed by this content-derived bucket.
* **salted repartition** — web corpora are host-skewed (one host can fill a
  partition); hashing the full url (not the host) plus an optional salt of
  the byte size spreads giant hosts and giant documents.
* **lineage** — after each bucket's extraction lands, one lineage row
  (bucket, n_docs, n_words, n_errors, completed_at) is appended; the
  ``retry_config`` analogue.
* **resume** — remaining work = pages anti-joined against completed lineage
  buckets; re-running the job only touches unfinished buckets, "without
  recomputation" per the north rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, ExtractorConfig

DEFAULT_BUCKETS = 64


def with_bucket(pages: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Content-derived bucket column (Iceberg bucket(N, url) stand-in)."""
    return pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def salted_repartition(
    pages: DataFrame, n_partitions: int, salt: int = 16
) -> DataFrame:
    """Defuse host/document skew: repartition by (url-hash, size-salt).

    Hashing the full url already splits a hot host across partitions; the
    additional salt term spreads ties between identical urls (re-crawls) and
    keeps partition byte-sizes even when document sizes are heavy-tailed.
    """
    salt_col = F.pmod(
        F.xxhash64("url", F.coalesce(F.length("html"), F.lit(0))), F.lit(salt)
    )
    return pages.repartition(n_partitions, F.xxhash64("url"), salt_col)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    n_buckets: int = DEFAULT_BUCKETS,
    key: str = "url",
) -> None:
    """Write a Spark BUCKETED table (``bucketBy`` + ``sortBy`` on the join
    key) — the co-located-join layout for the 100 TB corpus: two tables
    bucketed the same way join with a SortMergeJoin and ZERO Exchange (no
    shuffle, no sort). Use it for the docs↔pages / docs↔fixtures joins that
    recur every round (the shuffle is paid once at write time)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def lineage_rows(docs_with_bucket: DataFrame) -> DataFrame:
    """Per-bucket lineage/metrics aggregation (LINEAGE_SCHEMA)."""
    return docs_with_bucket.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("metrics.n_words").cast("long")).alias("n_words"),
        F.sum(F.when(F.col("extracted_text").isNull(), 1).otherwise(0)).alias("n_errors"),
        F.current_timestamp().alias("completed_at"),
    )


def completed_buckets(spark: SparkSession, lineage_path: str) -> list[int]:
    """Bucket ids already recorded in the lineage table (empty if none
    yet), collected on the driver: at most ``n_buckets`` ints. A list, not
    a frame over the lineage path: once the job appends to that path,
    Spark recomputes cached plans that read it, and a resumed run's
    persisted docs would come out empty."""
    try:
        rows = spark.read.parquet(lineage_path).select("bucket").distinct().collect()
    except Exception:  # noqa: BLE001 — first run: no lineage yet
        return []
    return sorted(r.bucket for r in rows)


def _pending(pages: DataFrame, n_buckets: int, done: list[int]) -> DataFrame:
    """``pages`` with their bucket, minus the buckets in ``done``."""
    todo = with_bucket(pages, n_buckets)
    return todo.filter(~F.col("bucket").isin(done)) if done else todo


def remaining_pages(
    pages: DataFrame, lineage_path: str, n_buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """Checkpoint resume: pages whose bucket has no completed lineage row."""
    return _pending(pages, n_buckets, completed_buckets(pages.sparkSession, lineage_path))


def process_pages(
    pages: DataFrame,
    outputbase: str,
    config: ExtractorConfig | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    timeout_ms_per_doc: int = 0,
    resume: bool = True,
) -> dict:
    """The spark-submit job (ProcessPages, tesserocr/tesserocr.pyx:2253-2315):

    read → (resume filter) → salted repartition → extract → write docs
    parquet partitioned by bucket → append lineage → multi-format renderers.

    Returns {"docs": path, "lineage": path, "renderers": {...},
    "n_docs": int, "skipped_buckets": int}.
    """
    from .api import extract_pages
    from .sinks import write_renderers

    spark = pages.sparkSession
    cfg = config or DEFAULT_CONFIG
    docs_path = f"{outputbase}.docs"
    lineage_path = f"{outputbase}.lineage"

    done = completed_buckets(spark, lineage_path) if resume else []
    todo = _pending(pages, n_buckets, done)
    n_skipped = len(done)

    n_part = max(spark.sparkContext.defaultParallelism, 1)
    todo = salted_repartition(todo, n_part)

    docs = extract_pages(todo, cfg, timeout_ms_per_doc).persist()
    try:
        n_docs = docs.count()
        renderers: dict[str, str] = {}
        if n_docs:
            docs.write.mode("append").partitionBy("bucket").parquet(docs_path)
            lineage_rows(docs).write.mode("append").parquet(lineage_path)
            renderers = write_renderers(docs, outputbase, cfg)
        # n_docs == 0: fully resumed — leave prior sinks untouched (a rerun
        # with no remaining work must not clobber renderer output)
    finally:
        docs.unpersist()
    return {
        "docs": docs_path,
        "lineage": lineage_path,
        "renderers": renderers,
        "n_docs": n_docs,
        "skipped_buckets": n_skipped,
    }
