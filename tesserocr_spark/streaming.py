"""Structured Streaming ingest (SURVEY.md §2.10).

The reference is batch-only; its nearest streaming analogue is ProcessPages
consuming a multi-page input with a per-page timeout
(tesserocr/tesserocr.pyx:2280-2290). The graft policy: the engine is
batch-first and the streaming path REUSES the identical batch operators —
``readStream`` on new page files, a watermark on ``warc_ts`` for late WARC
arrivals, the same extraction UDF inside ``foreachBatch``, the same sinks.
No separate streaming operator set exists, by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .config import DEFAULT_CONFIG, ExtractorConfig
from .schemas import PAGES_SCHEMA


def read_page_stream(
    spark: SparkSession, input_path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of new page parquet files (new-snapshot analogue)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def extract_stream(
    pages: DataFrame,
    config: ExtractorConfig | None = None,
) -> DataFrame:
    """Streaming extraction: literally the batch operator on a streaming frame."""
    from .api import extract_pages as _extract

    return _extract(pages, config or DEFAULT_CONFIG)


def start_extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
    config: ExtractorConfig | None = None,
) -> StreamingQuery:
    """readStream → extract → foreachBatch multi-sink (docs + lineage).

    foreachBatch reuses the batch writers so the streaming sink set is
    byte-identical to the batch one (exactly-once per epoch via checkpoint).
    """
    from .jobs import lineage_rows, with_bucket

    docs = extract_stream(read_page_stream(spark, input_path), config)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        b = with_bucket(batch_df).persist()
        try:
            b.write.mode("append").partitionBy("bucket").parquet(f"{output_path}/docs")
            lineage_rows(b).withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(f"{output_path}/lineage")
        finally:
            b.unpersist()

    return (
        docs.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink)
        .start()
    )


#: dedup state-law version. v2 = md5-hex→int64 url hashing (portable).
#: v1 (pre-r02 ``pd.util.hash_array``) produced different hashes, so a
#: checkpoint resumed across the law change would silently re-emit
#: previously-seen urls — better to fail loudly (VERDICT r02 task #7).
#: NOTE: actual v1 checkpoints also differ in state SHAPE (no ``ver``
#: field), so Spark's state-store schema check rejects them before fn()
#: runs — loud, but with a generic schema error. The version field's job
#: is the FUTURE case: a hash-law change that keeps this same state shape
#: would otherwise resume silently; bump the constant and the validator
#: turns that into this module's actionable error instead.
DEDUP_STATE_VERSION = 2


def _validate_dedup_state(tup: tuple) -> list:
    """Return the seen-hash list from a checkpointed state tuple, or raise
    if the tuple was written under an older state law."""
    if len(tup) != 2 or tup[0] != DEDUP_STATE_VERSION:
        raise ValueError(
            "dedup_page_stream: checkpoint state has version "
            f"{tup[0] if len(tup) == 2 else '<pre-versioning>'!r}, expected "
            f"{DEDUP_STATE_VERSION} (md5->int64 url-hash law). Resuming "
            "would silently re-emit previously-seen urls; discard the "
            "checkpoint directory and re-run from the source."
        )
    return tup[1]


def dedup_page_stream(pages: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): drop
    re-crawled urls across micro-batches — the streaming twin of the batch
    checkpoint-resume anti-join. State per url-hash bucket is the set of
    url hashes already extracted; only first-seen pages pass through.

    At corpus scale the state is bounded per bucket and keyed exactly like
    the batch lineage (``jobs.with_bucket``), so a streaming
    ingest and a batch backfill share one dedup law.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .jobs import with_bucket

    out_schema = (
        "bucket int, url string, warc_ts timestamp, html binary, "
        "text string, lang string"
    )
    state_schema = "ver int, seen array<long>"

    def url_hash(u: str) -> int:
        # the batch-lineage md5→int64 law (queries/registry.py docstring):
        # stable across pandas/python upgrades, so checkpointed state is
        # portable — unlike pd.util.hash_array (implementation-defined).
        # Checkpoints written under the pre-r02 hash_array law carry no/a
        # lower DEDUP_STATE_VERSION and are rejected loudly on resume.
        return int(hashlib.md5(u.encode("utf-8")).hexdigest()[:15], 16)

    def fn(key, pdfs, state: GroupState):
        seen = set(_validate_dedup_state(state.get)) if state.exists else set()
        bucket = key[0]
        for pdf in pdfs:
            pdf = pdf.drop_duplicates(subset=["url"])  # within-batch re-crawls
            h = [url_hash(u) for u in pdf["url"]]
            fresh = ~pd.Series(h, index=pdf.index).isin(seen).to_numpy()
            seen.update(h)
            out = pdf.loc[fresh, ["url", "warc_ts", "html", "text", "lang"]].copy()
            if len(out):
                out.insert(0, "bucket", bucket)
                yield out
        state.update((DEDUP_STATE_VERSION, list(seen)))

    return with_bucket(pages, n_buckets).groupBy("bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def windowed_page_counts(
    pages: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Late-data-tolerant windowed aggregation over crawl time: counts per
    (warc_ts window, lang). Works on both batch and streaming frames — the
    batch run is the correctness oracle for the streaming one."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "lang")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "lang", "n")
    )
