"""``corpus_ops``: a fixed mix of registry queries over fixed single-file tables.

Many short Spark jobs: the input-spread policy, dedup joins and
connected-components iterations, the codec kernels and per-job/per-task
overhead dominate, while the extraction kernel does little (short
documents, extracted once per repetition). The corpus is fixed, so the
seed only selects the small crawl the traced run drives the batch job and
the stream with. ``queries.registry.release_cache()`` runs after every
repetition so each one pays for the cached extraction the same way.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import corpus
import crawl
import session
from common import check, digest, law_digest, measure_passes, median, noop, timed
from tracing import SparkCounters, Tracer, plan_shape, serial_task_ms

#: one query per concern: extraction over a spread single-file scan,
#: connected components, the substring scan spread, a codec, a broadcast
#: similarity join and a relational aggregate. The rest of the registry is
#: left out to fit a run's time budget.
MIX = ("spans_agg", "dedup_campaign_keep_lsh", "dedup_substrings",
       "multimodal_jpeg", "ann_bruteforce_topk", "q1_flagship_agg")
#: pages in the small crawl the traced run's batch job and stream read, in
#: several files per core so the stream drains it over several epochs
JOB_PAGES = 240
FILES_PER_CORE = 4
#: payloads per codec in the single-threaded codec probe
CODEC_PAYLOADS = 400


#: the corpus' row counts as a share of sf0.1's (1,000 documents)
SCALE = 0.2
#: the same for the small copy whose pass compiles every plan
WARM_SCALE = 0.02


def _write_once(path: str, write) -> str:
    if not os.path.isdir(path):
        shutil.rmtree(path + ".partial", ignore_errors=True)
        write(path + ".partial")
        os.rename(path + ".partial", path)
    return path


def prepare(work: str, seed: int) -> dict:
    sf, warm_sf = (_write_once(os.path.join(work, f"corpus-{corpus.SEED}-x{scale}"),
                               lambda p, scale=scale: corpus.write_corpus(p, scale))
                   for scale in (SCALE, WARM_SCALE))
    job_crawl = _write_once(os.path.join(work, f"crawl-{seed}-{JOB_PAGES}"), lambda p: (
        crawl.write_crawl(p, seed, JOB_PAGES, FILES_PER_CORE * session.host_cores())))
    return {"work": work, "seed": seed, "sf": sf, "warm_sf": warm_sf, "job_crawl": job_crawl,
            "warm_path": os.path.join(sf, "documents.parquet")}


def spans_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Span counts per (url, level) over the documents' pages."""
    from tesserocr_spark.api import extract_spans_long
    from tesserocr_spark.pages import pages_from_documents

    return extract_spans_long(pages_from_documents(spark, sf)).groupBy("url", "level").count()


def _builder(name: str):
    from tesserocr_spark.queries import QUERIES

    return spans_agg if name == "spans_agg" else QUERIES[name]


def one_pass(spark: SparkSession, sf: str, tracer: Tracer | None = None,
             counters: SparkCounters | None = None) -> dict:
    """Run the mix once, collecting each result; returns per-query wall
    times, results and (traced) Spark counts, plus the pass's wall time."""
    from tesserocr_spark.queries import registry

    out: dict = {"queries": {}}
    t0 = time.perf_counter()
    for name in MIX:
        def action(build=_builder(name)):
            return build(spark, sf).toPandas()

        if tracer is None:
            pdf, dt = timed(action)
            out["queries"][name] = {"s": dt, "pdf": pdf}
            continue
        with tracer.span(f"queries.{name}") as attrs, counters.group(name) as spark_counts:
            pdf, dt = timed(action)
        attrs.update(spark_counts)
        out["queries"][name] = {"s": dt, "pdf": pdf, "attrs": attrs}
    registry.release_cache()
    out["s"] = time.perf_counter() - t0
    return out


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    """Widen numeric columns so Spark and DuckDB results hash alike."""
    out = pdf.copy()
    for c in out.columns:
        kind = out[c].dtype.kind
        if kind in "iu":
            out[c] = out[c].astype("int64")
        elif kind == "f":
            out[c] = out[c].astype("float64")
    return out


def _value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result, columns sorted by name."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(repr(v) for v in row) for row in pdf[cols].itertuples(index=False))
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def _expected_spans_agg(sf: str) -> pd.DataFrame:
    """spans_agg computed by one local Extractor over the same pages."""
    from tesserocr_spark.core.extractor import Extractor
    from tesserocr_spark.pages import DOC_TEMPLATE_PREFIX, DOC_TEMPLATE_SUFFIX

    docs = pd.read_parquet(os.path.join(sf, "documents.parquet"))
    ex = Extractor()
    counts: dict[tuple, int] = {}
    for doc_id, source, text in zip(docs["doc_id"], docs["source"], docs["text"]):
        url = f"https://{source}.example.com/doc/{doc_id}"
        html = (DOC_TEMPLATE_PREFIX + text + DOC_TEMPLATE_SUFFIX).encode()
        for span in ex.extract(html).raw_spans:
            counts[(url, span[0])] = counts.get((url, span[0]), 0) + 1
    return pd.DataFrame([(u, lv, n) for (u, lv), n in counts.items()],
                        columns=["url", "level", "count"])


def verify(res: dict, sf: str) -> None:
    import duckdb

    from tesserocr_spark.queries import ORACLES

    con = duckdb.connect()
    for t in corpus.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for name in MIX:
        got = _norm(res["queries"][name]["pdf"])
        if name == "spans_agg":
            want = _norm(_expected_spans_agg(sf))
        else:
            want = _norm(con.sql(ORACLES[name]).df())
        check(len(got) == len(want), f"{name}: {len(got)} rows, oracle {len(want)}")
        check(sorted(got.columns) == sorted(want.columns),
              f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}")
        check(_value_hash(got) == _value_hash(want), f"{name}: values differ from its oracle")
    con.close()


def run(spark: SparkSession, inputs: dict, seconds: float, trace: bool) -> dict:
    # A pass over a small copy of the corpus plans and compiles every query
    # before the timed passes. It is left out of setup_s: JIT compilation
    # makes it swing too much to bound; the traced run reports it as
    # queries.compile_pass_s.
    _, compile_s = timed(lambda: one_pass(spark, inputs["warm_sf"]))
    if trace:
        result = _traced(spark, inputs)
        result["metrics"]["queries.compile_pass_s"] = compile_s
        return result
    passes = measure_passes(lambda: one_pass(spark, inputs["sf"]), seconds)
    verify(passes[-1], inputs["sf"])
    return {"attempted": len(MIX) * len(passes), "failed": 0,
            "metrics": {"pass_s": median([p["s"] for p in passes])}}


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------


def _codec_probe() -> dict:
    """Single-threaded synth + stats kernels per payload (µs)."""
    from tesserocr_spark import multimodal as mm

    ids = pd.DataFrame({"doc_id": pd.Series(range(CODEC_PAYLOADS), dtype="int64")})
    out = {}
    for codec, synth, stats in (("jpeg", mm.synth_jpeg_full_map, mm.jpeg_stats_map),
                                ("gif", mm.synth_gif_map, mm.gif_stats_map),
                                ("tiff", mm.synth_tiff_map, mm.tiff_stats_map)):
        def kernel(synth=synth, stats=stats):
            payloads = pd.concat(list(synth(iter([ids]))))
            return pd.concat(list(stats(iter([payloads]))))

        _, dt = timed(kernel)
        out[f"multimodal.{codec}_us_per_payload"] = dt / CODEC_PAYLOADS * 1e6
    return out


def _tree(paths: list[str]) -> dict[str, str]:
    """File path -> sha1 of every file under ``paths``."""
    out = {}
    for root in paths:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[p] = hashlib.sha1(fh.read()).hexdigest()
    return out


def _bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for root in paths for d, _, files in os.walk(root) for f in files)


def _job_config(**only):
    from tesserocr_spark.config import ExtractorConfig
    from tesserocr_spark.sinks import RENDERERS

    renderers = {var: "1" if not only or var in only else "0" for var in RENDERERS}
    return ExtractorConfig(variables={**renderers, "emit_symbols": "0",
                                      "max_html_bytes": str(crawl.MAX_HTML_BYTES)})


def _job_layers(spark: SparkSession, inputs: dict, tracer: Tracer) -> dict:
    """The batch job, its resume and the stream on the small crawl, each
    through its public function, plus the job's steps called one by one."""
    from tesserocr_spark import jobs, sinks
    from tesserocr_spark.api import extract_pages, extract_text_only
    from tesserocr_spark.streaming import start_extraction_stream

    out_dir = os.path.join(inputs["work"], "job")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    base = os.path.join(out_dir, "out")
    src = inputs["job_crawl"]
    cfg = _job_config()
    m: dict[str, float] = {}
    pages = spark.read.parquet(src)
    input_bytes = pages.agg(F.sum(F.length("html"))).first()[0]
    want = digest(extract_text_only(pages, cfg).agg(*law_digest()).first())

    with tracer.span("jobs.process_pages"):
        fresh, m["jobs.job_s"] = timed(lambda: jobs.process_pages(pages, base, cfg))
    outputs = [fresh["docs"], fresh["lineage"], *fresh["renderers"].values()]
    check(fresh["n_docs"] == JOB_PAGES, f"job wrote {fresh['n_docs']} docs of {JOB_PAGES}")
    check(len(fresh["renderers"]) == len(sinks.RENDERERS), "job skipped a renderer")
    got = digest(spark.read.parquet(fresh["docs"]).agg(*law_digest()).first())
    check(got == want, f"job docs digest {got} != input digest {want}")
    m["jobs.bytes_written_per_input_byte"] = _bytes(outputs) / input_bytes
    m["sinks.bytes_written"] = _bytes(list(fresh["renderers"].values()))

    before = _tree(outputs)
    with tracer.span("jobs.resume"):
        again, m["jobs.resume_s"] = timed(lambda: jobs.process_pages(pages, base, cfg))
    check(again["n_docs"] == 0, f"resume re-extracted {again['n_docs']} docs")
    check(_tree(outputs) == before, "resume changed the job's output files")

    # the job's steps, one public call each
    steps = os.path.join(out_dir, "steps")
    n_part = spark.sparkContext.defaultParallelism
    with tracer.span("jobs.shuffle"):
        spread = jobs.salted_repartition(jobs.with_bucket(pages), n_part)
        m["jobs.shuffle_s"] = timed(lambda: noop(spread))[1]
    with tracer.span("jobs.extract_persist"):
        docs = extract_pages(spread, cfg).persist()
        m["jobs.extract_persist_s"] = timed(docs.count)[1]
    with tracer.span("jobs.docs_write"):
        m["jobs.docs_write_s"] = timed(lambda: docs.write.mode("overwrite").partitionBy(
            "bucket").parquet(steps + ".docs"))[1]
    with tracer.span("jobs.lineage_write"):
        m["jobs.lineage_write_s"] = timed(lambda: jobs.lineage_rows(docs).write.mode(
            "overwrite").parquet(steps + ".lineage"))[1]
    for var, (suffix, _, _) in sinks.RENDERERS.items():
        with tracer.span(f"sinks.{suffix}"):
            m[f"sinks.{suffix}_s"] = timed(lambda: sinks.write_renderers(
                docs, steps, _job_config(**{var: "1"})))[1]
    docs.unpersist()

    # available-now drain of the same files through the stream
    with tracer.span("streaming.start_extraction_stream"):
        def drain():
            q = start_extraction_stream(spark, src, os.path.join(out_dir, "stream"),
                                        os.path.join(out_dir, "ckpt"), cfg)
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            return q.recentProgress

        progress, wall = timed(drain)
    stream_docs = spark.read.parquet(os.path.join(out_dir, "stream", "docs"))
    n_rows, n_urls = stream_docs.agg(F.count(F.lit(1)), F.countDistinct("url")).first()
    check(n_rows == JOB_PAGES and n_urls == JOB_PAGES,
          f"stream wrote {n_rows} rows for {n_urls} urls of {JOB_PAGES}")
    epochs = [p for p in (json.loads(p.json) if hasattr(p, "json") else p for p in progress)
              if p.get("numInputRows", 0) > 0]
    trigger = sorted(p["durationMs"]["triggerExecution"] / 1000.0 for p in epochs)
    m["streaming.docs_per_s"] = JOB_PAGES / wall
    m["streaming.epochs"] = len(epochs)
    m["streaming.epoch_p50_s"] = median(trigger)
    m["streaming.epoch_max_s"] = trigger[-1]
    m["streaming.add_batch_s"] = sum(p["durationMs"].get("addBatch", 0) for p in epochs) / 1000.0
    shutil.rmtree(out_dir, ignore_errors=True)
    return m


def _traced(spark: SparkSession, inputs: dict) -> dict:
    from tesserocr_spark.pages import pages_from_documents

    sf = inputs["sf"]
    tracer = Tracer(f"corpus_ops-{inputs['seed']}")
    counters = SparkCounters(spark)
    m: dict[str, float] = {}

    # the tracing overhead is the traced pass (the summed queries.*_s)
    # minus an untraced run's pass_s; a second pass here would not fit the
    # run's time limit
    with tracer.span("bench.pass"):
        traced = one_pass(spark, sf, tracer, counters)
    verify(traced, sf)
    for name, q in traced["queries"].items():
        m[f"queries.{name}_s"] = q["s"]
    m["queries.dedup_campaign_keep_lsh.jobs"] = traced["queries"]["dedup_campaign_keep_lsh"][
        "attrs"]["jobs"]
    for k in ("jobs", "stages", "tasks", "shuffle_bytes"):
        m[f"spark.{k}"] = sum(q["attrs"][k] for q in traced["queries"].values())

    with tracer.span("pages.pages_from_documents"):
        pages = pages_from_documents(spark, sf)
        m["pages.from_documents_s"] = timed(lambda: noop(pages))[1]
    m["pages.exchanges"] = plan_shape(pages)["exchanges"]
    with tracer.span("multimodal.probe"):
        m.update(_codec_probe())
    with tracer.span("spark.serial_task"):
        m["spark.serial_task_ms"] = serial_task_ms(spark)
    m.update(_job_layers(spark, inputs, tracer))

    for layer, s in tracer.self_times().items():
        m[f"self.{layer}_s"] = s
    tracer.dump(os.path.join(inputs["work"], f"trace-corpus_ops-{inputs['seed']}.json"))
    return {"attempted": len(MIX), "failed": 0, "metrics": m}
