"""Structured Streaming ingest: stream == batch on the same input."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from tesserocr_spark.api import extract_pages
from tesserocr_spark.pages import synthetic_pages
from tesserocr_spark.streaming import (
    extract_stream,
    read_page_stream,
    start_extraction_stream,
    windowed_page_counts,
)


def test_stream_extraction_equals_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    pages = synthetic_pages(spark, 40)
    pages.repartition(5).write.parquet(src)  # 5 files -> >1 micro-batch

    stream = extract_stream(read_page_stream(spark, src))
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_docs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        r.url: r.extracted_text
        for r in spark.sql("SELECT url, extracted_text FROM stream_docs").collect()
    }
    exp = {
        r.url: r.extracted_text
        for r in extract_pages(pages).select("url", "extracted_text").collect()
    }
    assert got == exp


def test_foreachbatch_sink_with_lineage(spark, tmp_path):
    src = str(tmp_path / "src2")
    out = str(tmp_path / "out2")
    synthetic_pages(spark, 30).repartition(3).write.parquet(src)

    q = start_extraction_stream(spark, src, out, str(tmp_path / "ckpt2"))
    q.processAllAvailable()
    q.stop()

    docs = spark.read.parquet(f"{out}/docs")
    assert docs.count() == 30
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.agg(F.sum("n_docs")).collect()[0][0] == 30
    assert "epoch" in lineage.columns


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    src = str(tmp_path / "src3")
    pages = synthetic_pages(spark, 200)
    pages.repartition(4).write.parquet(src)

    batch = {
        (str(r.win_start), r.lang): r.n
        for r in windowed_page_counts(spark.read.parquet(src)).collect()
    }

    stream = windowed_page_counts(read_page_stream(spark, src))
    q = (
        stream.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (str(r.win_start), r.lang): r.n
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == batch


def test_late_data_watermark_in_stream_plan(spark, tmp_path):
    """Watermark node present in the streaming plan (it is a no-op on batch
    frames, so assert on the readStream path)."""
    src = str(tmp_path / "src4")
    synthetic_pages(spark, 5).write.parquet(src)
    stream = windowed_page_counts(read_page_stream(spark, src))
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_dedup_state_version_rejects_old_law():
    """Checkpoints written under the pre-r02 hash_array state law must be
    rejected loudly on resume instead of silently re-emitting seen urls."""
    import pytest

    from tesserocr_spark.streaming import DEDUP_STATE_VERSION, _validate_dedup_state

    with pytest.raises(ValueError, match="checkpoint state"):
        _validate_dedup_state(([1, 2, 3],))  # v0: unversioned (seen,) tuple
    with pytest.raises(ValueError, match="checkpoint state"):
        _validate_dedup_state((1, [1, 2, 3]))  # explicit older version
    assert _validate_dedup_state((DEDUP_STATE_VERSION, [7, 8])) == [7, 8]


def test_stateful_stream_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState: urls seen in an earlier micro-batch are
    dropped when re-crawled in a later one."""
    from tesserocr_spark.streaming import dedup_page_stream

    src = str(tmp_path / "dedup_src")
    base = synthetic_pages(spark, 30)
    # batch 1: pages 0-29; batch 2 (separate file): pages 15-44 (15 repeats)
    base.coalesce(1).write.mode("append").parquet(src)
    part2 = synthetic_pages(spark, 45).filter(F.col("url").isin(
        [r.url for r in synthetic_pages(spark, 45).collect()[15:]]
    ))
    part2.coalesce(1).write.mode("append").parquet(src)

    # one file per trigger -> the repeats arrive in a LATER micro-batch and
    # must be dropped by persisted group state, not by within-batch dedup
    stream = dedup_page_stream(read_page_stream(spark, src, max_files_per_trigger=1))
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT url FROM dedup_stream").collect()
    urls = [r.url for r in got]
    assert len(urls) == len(set(urls))  # no url emitted twice
    assert len(set(urls)) == 45  # union of both crawls exactly once


def test_stream_dedup_buckets_like_the_batch_lineage(spark, tmp_path):
    """dedup_page_stream keys its state by the batch bucket law:
    each emitted url's ``bucket`` equals ``jobs.with_bucket``'s."""
    from tesserocr_spark.jobs import with_bucket
    from tesserocr_spark.streaming import dedup_page_stream

    src = str(tmp_path / "bucket_src")
    pages = synthetic_pages(spark, 40)
    pages.repartition(2).write.parquet(src)
    q = (
        dedup_page_stream(read_page_stream(spark, src))
        .writeStream.format("memory")
        .queryName("dedup_buckets")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_buckets"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r.url: r.bucket for r in spark.sql("SELECT url, bucket FROM dedup_buckets").collect()}
    exp = {r.url: r.bucket for r in with_bucket(pages).select("url", "bucket").collect()}
    assert got == exp
    assert len(set(exp.values())) > 1


def test_stream_quality_gates_equal_batch(spark, tmp_path):
    """The LLM-pipeline operators are stateless JVM projections, so the
    SAME operator runs on a streaming frame — locked for the quality
    gates: stream output == batch output on identical documents."""
    from tesserocr_spark.queries.textops import quality_gate_columns

    src = str(tmp_path / "qsrc")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    docs.repartition(4).write.parquet(src)

    stream_in = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        quality_gate_columns(stream_in)
        .writeStream.format("memory")
        .queryName("stream_gates")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "qckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {r.doc_id: r for r in spark.sql("SELECT * FROM stream_gates").collect()}
    exp = {r.doc_id: r for r in quality_gate_columns(docs).collect()}
    assert got.keys() == exp.keys()
    for i in exp:
        assert got[i] == exp[i], i
