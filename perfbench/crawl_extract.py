"""``crawl_extract``: three read-only extraction leaves over the seeded crawl.

* ``text`` — ``api.extract_text_only``;
* ``full`` — ``api.extract_pages`` with ``emit_symbols=0``;
* ``flat`` — ``api.extract_spans_long`` then ``groupBy("level").count()``.

Each leaf ends in a small aggregate that the client collects: the
order-independent digest of ``(url, extracted_text)`` the checks compare,
and, for ``full``, the total size of the re-zipped ``spans`` column so the
re-zip runs.
The input is multi-file parquet (several files per core), so jobs and
sinks do no work here. Spark packs the small files into about one scan task
per core, so the leaves also pay for the cores idle while the slowest task
finishes; the traced run reports that as ``leaf.<leaf>_imbalance_s``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import crawl
import session
from common import check, digest, law_digest, measure_passes, median, noop, timed
from tracing import (SparkCounters, Tracer, identity_udf, plan_shape, python_metrics,
                     serial_task_ms)

N_PAGES = 1200
FILES_PER_CORE = 4
#: every 4th page: the single-process kernel sample
SAMPLE_STEP = 4
#: every 50th page: the per-url cross-check against a local Extractor
CHECK_STEP = 50
#: rounds of the traced run's layer probes
PROBE_REPS = 3

HERE = os.path.dirname(os.path.abspath(__file__))


def _config():
    from tesserocr_spark.config import ExtractorConfig

    return ExtractorConfig(variables={"emit_symbols": "0",
                                      "max_html_bytes": str(crawl.MAX_HTML_BYTES)})


def prepare(work: str, seed: int) -> dict:
    """Generate (or reuse) the crawl for ``seed``."""
    path = os.path.join(work, f"crawl-{seed}-{N_PAGES}")
    if not os.path.isdir(path):
        tmp = path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        crawl.write_crawl(tmp, seed, N_PAGES, FILES_PER_CORE * session.host_cores())
        os.rename(tmp, path)
    return {"work": work, "seed": seed, "path": path, "warm_path": path}


def leaves(pages: DataFrame) -> dict:
    """The three leaves as DataFrames whose ``collect()`` is the action."""
    from tesserocr_spark.api import extract_pages, extract_spans_long, extract_text_only

    cfg = _config()
    full = extract_pages(pages, cfg).agg(*law_digest(), F.sum(F.size("spans")).alias("spans"))
    return {
        "text": extract_text_only(pages, cfg).agg(*law_digest()),
        "full": full,
        "flat": extract_spans_long(pages, cfg).groupBy("level").count(),
    }


def one_pass(spark: SparkSession, path: str, tracer: Tracer | None = None,
             counters: SparkCounters | None = None) -> dict:
    """Run the three leaves once; returns wall times and collected rows."""
    out = {}
    for name, df in leaves(spark.read.parquet(path)).items():
        if tracer is None:
            rows, dt = timed(df.collect)
            out[name] = {"s": dt, "rows": rows}
            continue
        with tracer.span(f"leaf.{name}") as attrs, counters.group(f"leaf.{name}") as spark_counts:
            rows, dt = timed(df.collect)
        attrs.update(spark_counts)
        attrs.update(python_metrics(df))
        attrs.update(plan_shape(df))
        out[name] = {"s": dt, "rows": rows, "attrs": attrs}
    return out


def verify(spark: SparkSession, inputs: dict, res: dict) -> None:
    """Output checks on one pass's results."""
    from tesserocr_spark.api import extract_pages, extract_text_only
    from tesserocr_spark.core.extractor import Extractor

    text, full = res["text"]["rows"][0], res["full"]["rows"][0]
    check(text["n"] == N_PAGES and full["n"] == N_PAGES,
          f"rows in {N_PAGES} != rows out (text {text['n']}, full {full['n']})")
    check(digest(text) == digest(full), "text leaf digest != full leaf digest")
    flat_rows = sum(r["count"] for r in res["flat"]["rows"])
    check(flat_rows == full["spans"], f"flat span rows {flat_rows} != full spans {full['spans']}")

    # per-url cross-check against one local Extractor
    pdf = pq.read_table(inputs["path"], columns=["url", "html"]).to_pandas()
    sample = pdf.iloc[::CHECK_STEP]
    cfg = _config()
    ex = Extractor(cfg)
    want = {}
    for u, h in zip(sample["url"], sample["html"]):
        doc = ex.extract(h)
        check(doc.text == ex.extract_text(h), f"Extractor.extract().text != extract_text() for {u}")
        want[u] = (doc.text, len(doc.raw_spans))
    pages = spark.read.parquet(inputs["path"]).where(F.col("url").isin(list(want)))
    got_text = {r["url"]: r["extracted_text"] for r in extract_text_only(pages, cfg).collect()}
    got_full = {r["url"]: (r["extracted_text"], r["n"]) for r in
                extract_pages(pages, cfg).select("url", "extracted_text",
                                                 F.size("spans").alias("n")).collect()}
    check(got_text == {u: t for u, (t, _) in want.items()},
          "text leaf differs from a local Extractor on the url sample")
    check(got_full == want, "full leaf differs from a local Extractor on the url sample")

    with open(os.path.join(HERE, "golden.json")) as f:
        recorded = json.load(f)["crawl_extract"]
    golden = recorded["text_digest"].get(str(inputs["seed"]))
    if golden is not None and recorded["pages"] == N_PAGES:
        check(golden == digest(text),
              f"text digest {digest(text)} != recorded {golden} for seed {inputs['seed']}")


def run(spark: SparkSession, inputs: dict, seconds: float, trace: bool) -> dict:
    path = inputs["path"]
    # set-up (counted in setup_s): one untimed pass warms the JIT, so every
    # timed pass runs warm whatever their number
    _, warm_up_s = timed(lambda: one_pass(spark, path))

    if trace:
        return {**_traced(spark, inputs), "warm_up_s": warm_up_s}
    passes = measure_passes(lambda: one_pass(spark, path), seconds)
    verify(spark, inputs, passes[-1])
    # a failed document is a NULL extracted_text (the per-batch deadline)
    failed = sum(p[k]["rows"][0]["nulls"] for p in passes for k in ("text", "full"))
    pass_s = median([sum(p[k]["s"] for k in p) for p in passes])
    return {"attempted": 3 * N_PAGES * len(passes), "failed": failed, "warm_up_s": warm_up_s,
            "metrics": {"pass_s": pass_s}}


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------


def _udf_bodies():
    """The engine's extract-columns and text UDF bodies, each with the
    pandas -> Arrow conversion the Python worker applies to its result.
    Building them needs a live SparkContext."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from tesserocr_spark.schemas import EXTRACT_COLUMNS_SCHEMA
    from tesserocr_spark.udf import make_extract_columns_udf, make_extract_text_udf

    cols_schema = to_arrow_schema(EXTRACT_COLUMNS_SCHEMA)
    return {
        "full": (make_extract_columns_udf(_config()).func,
                 lambda out: pa.Table.from_pandas(out, schema=cols_schema, preserve_index=False)),
        "text": (make_extract_text_udf(_config()).func,
                 lambda out: pa.Array.from_pandas(out, type=pa.string())),
    }


def kernel_costs(path: str, reps: int = 3) -> dict[str, float]:
    """Single-threaded Extractor kernel and UDF-body costs (µs per document)
    on every SAMPLE_STEP-th page, outside Spark: the median of ``reps``
    interleaved rounds, after one pass that warms the engine's per-word
    caches as reused Spark workers have them."""
    import gc

    from tesserocr_spark.core.extractor import Extractor

    html = pq.read_table(path, columns=["html"]).column("html").to_pylist()[::SAMPLE_STEP]
    ex = Extractor(_config())
    docs = [ex.extract(h) for h in html]
    out = {"spans": sum(len(d.raw_spans) for d in docs) / len(docs),
           "bytes": sum(len(h) for h in html if h is not None) / len(html)}
    del docs

    def consume(fn):
        def go():
            for h in html:
                fn(h)
        return go

    batch = pd.Series(html, dtype="object")
    bodies = {"extract": consume(ex.extract), "text": consume(ex.extract_text)}
    for name, (fn, to_arrow) in _udf_bodies().items():
        result = fn(batch)
        bodies[f"{name}_fn"] = lambda fn=fn: fn(batch)
        bodies[f"{name}_arrow"] = lambda to_arrow=to_arrow, result=result: to_arrow(result)
    samples: dict[str, list[float]] = {k: [] for k in bodies}
    for _ in range(reps):
        for k, fn in bodies.items():
            gc.collect()
            t0 = time.perf_counter()
            fn()
            samples[k].append((time.perf_counter() - t0) / len(html) * 1e6)
    us = {k: median(v) for k, v in samples.items()}
    return {
        "core.extractor.extract_us_per_doc": us["extract"],
        "core.extractor.extract_text_us_per_doc": us["text"],
        "core.extractor.spans_per_doc": out["spans"],
        "core.extractor.bytes_per_doc": out["bytes"],
        "udf.columns_us_per_doc": us["full_fn"] - us["extract"],
        "udf.text_us_per_doc": us["text_fn"] - us["text"],
        "udf.arrow_out_us_per_doc": us["full_arrow"],
        "udf.text_arrow_out_us_per_doc": us["text_arrow"],
    }


def timed_body_udf(fn, to_arrow):
    """A pandas UDF that runs a UDF body and its Arrow conversion on each
    batch inside Spark's Python workers and returns the seconds they took
    on the batch's first row (0 on the others)."""
    @F.pandas_udf("double")
    def timed(html: pd.Series) -> pd.Series:
        t0 = time.perf_counter()
        to_arrow(fn(html))
        out = pd.Series(0.0, index=html.index)
        if len(out):
            out.iloc[0] = time.perf_counter() - t0
        return out

    return timed


def _traced(spark: SparkSession, inputs: dict) -> dict:
    from tesserocr_spark.api import extract_pages, extract_spans_long
    from tesserocr_spark.udf import make_extract_columns_udf

    path = inputs["path"]
    cores = session.host_cores()
    tracer = Tracer(f"crawl_extract-{inputs['seed']}")
    counters = SparkCounters(spark)
    m: dict[str, float] = {}

    first = one_pass(spark, path)
    with tracer.span("bench.pass"):
        traced = one_pass(spark, path, tracer, counters)
    last = one_pass(spark, path)
    verify(spark, inputs, traced)
    total = {k: sum(v["s"] for v in p.values()) for k, p in
             (("first", first), ("traced", traced), ("last", last))}
    m["trace.overhead_s"] = total["traced"] - (total["first"] + total["last"]) / 2
    wall = {name: median([p[name]["s"] for p in (first, traced, last)]) for name in traced}
    for name, s in wall.items():
        m[f"leaf.{name}_docs_per_s"] = N_PAGES / s
    full_attrs = traced["full"]["attrs"]
    for k in ("arrow_bytes_in", "arrow_bytes_out", "arrow_rows_out"):
        m[f"udf.{k}"] = full_attrs[k]
    m["api.python_nodes"] = full_attrs["python_nodes"]
    for k in ("jobs", "stages", "tasks", "shuffle_bytes"):
        m[f"spark.{k}"] = sum(leaf["attrs"][k] for leaf in traced.values())

    # layer probes, PROBE_REPS interleaved rounds, medians: noop sinks, and
    # the UDF bodies timed inside the Python workers (summed over batches)
    pages = spark.read.parquet(path)
    bodies = _udf_bodies()

    def body_seconds(name):
        df = pages.select(timed_body_udf(*bodies[name])("html").alias("t")).agg(F.sum("t"))
        return lambda: df.first()[0]

    probes = {name: (lambda df=df: noop(df)) for name, df in {
        "pages.scan": pages.select("url", "html"),
        "udf.identity": pages.select("url", identity_udf()("html")),
        "udf.select": pages.select("url", make_extract_columns_udf(_config())("html").alias("r")),
        "api.extract_pages": extract_pages(pages, _config()),
        "api.extract_spans_long": extract_spans_long(pages, _config()),
    }.items()}
    probes["udf.text_body"], probes["udf.columns_body"] = body_seconds("text"), body_seconds("full")
    samples: dict[str, list[dict]] = {k: [] for k in probes}
    for _ in range(PROBE_REPS):
        for name, action in probes.items():
            with tracer.span(name) as attrs, counters.group(name) as spark_counts:
                attrs["value"], attrs["s"] = timed(action)
            attrs.update(spark_counts)
            samples[name].append(attrs)
    t = {k: median([a["s"] for a in v]) for k, v in samples.items()}
    busy = {k: median([a["run_s"] for a in v]) / cores for k, v in samples.items()}
    m.update({"pages.scan_s": t["pages.scan"], "udf.identity_s": t["udf.identity"],
              "udf.select_s": t["udf.select"],
              # task time per core the re-zip / explode add over the UDF select
              "api.rezip_s": busy["api.extract_pages"] - busy["udf.select"],
              "api.explode_s": busy["api.extract_spans_long"] - busy["udf.select"],
              # scan, Arrow both ways and Python task start: the identity
              # UDF's task time per core
              "leaf.transport_s": busy["udf.identity"]})
    # kernel, transpose and pandas -> Arrow conversion inside the workers,
    # per core
    for leaf, probe in (("text", "udf.text_body"), ("full", "udf.columns_body")):
        m[f"leaf.{leaf}_kernel_s"] = median([a["value"] for a in samples[probe]]) / cores
    with tracer.span("core.extractor.probe"):
        m.update(kernel_costs(path))
    with tracer.span("spark.serial_task"):
        m["spark.serial_task_ms"] = serial_task_ms(spark)

    # Attribution of each leaf's wall time in the traced pass, by the
    # formula unattributed = wall - transport - kernel - re-zip/explode,
    # with transport, kernel and re-zip/explode as measured above (the flat
    # leaf runs the full leaf's UDF). Of the unattributed rest, two parts
    # are measured from the leaf's own stages:
    #   overhead   wall - summed stage time (driver, job start)
    #   imbalance  stage time - task time / cores (cores idle while the
    #              slowest scan task finishes)
    # and the residual is what neither explains.
    kernel = {"text": m["leaf.text_kernel_s"], "full": m["leaf.full_kernel_s"],
              "flat": m["leaf.full_kernel_s"]}
    post = {"text": 0.0, "full": m["api.rezip_s"], "flat": m["api.explode_s"]}
    for name in traced:
        leaf_s, counts = traced[name]["s"], traced[name]["attrs"]
        rest = leaf_s - m["leaf.transport_s"] - kernel[name] - post[name]
        overhead = leaf_s - counts["stage_s"]
        imbalance = counts["stage_s"] - counts["run_s"] / cores
        m[f"leaf.{name}_unattributed_s"] = rest
        m[f"leaf.{name}_overhead_s"] = overhead
        m[f"leaf.{name}_imbalance_s"] = imbalance
        m[f"leaf.{name}_residual_s"] = rest - overhead - imbalance
    full_s = traced["full"]["s"]
    m["leaf.full_attributed_frac"] = 1.0 - m["leaf.full_unattributed_s"] / full_s
    m["leaf.full_explained_frac"] = 1.0 - m["leaf.full_residual_s"] / full_s

    for layer, s in tracer.self_times().items():
        m[f"self.{layer}_s"] = s
    tracer.dump(os.path.join(inputs["work"], f"trace-crawl_extract-{inputs['seed']}.json"))
    return {"attempted": 3 * N_PAGES, "failed": 0, "metrics": m}
