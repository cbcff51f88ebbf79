"""Dump .explain('formatted') for the headline queries -> BENCH/PLANS.md.

The plan-shape assertions live in tests/test_plans.py; this file is the
human-readable evidence (pushdown, pruning, broadcast, single Python stage).

``--codegen SF_DIR [QUERY ...]`` instead probes the codegen cache: in a
session whose cache holds 1000 classes (Spark's default is 100) it runs
each query twice and prints, per query, the Spark jobs and stages of the
first run and the classes each run compiled. The first run's compiles are
the cache entries the query adds; the second run's must be 0. QUERY names
a registry query or ``spans_agg`` (the benchmark's span-count shape); the
default is the benchmark's corpus_ops mix, in its order.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(1, os.path.join(REPO, "perfbench"))


def codegen_probe(sf: str, names: list[str]) -> None:
    """Print jobs, stages and codegen compiles per query (module docstring)."""
    from pyspark.sql import SparkSession

    import session
    from corpus_ops import MIX, spans_agg
    from tesserocr_spark.queries import QUERIES, registry
    from tracing import SparkCounters

    cores = session.host_cores()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    counters = SparkCounters(spark)
    total = [0, 0, 0, 0]
    print(f"{'query':28} {'jobs':>5} {'stages':>6} {'new':>5} {'again':>5}")
    for name in names or MIX:
        build = spans_agg if name == "spans_agg" else QUERIES[name]
        runs = []
        for _ in range(2):
            before = compiles.METRIC_COMPILATION_TIME().getCount()
            with counters.group(name) as counts:
                build(spark, sf).toPandas()
            registry.release_cache()
            runs.append((counts, compiles.METRIC_COMPILATION_TIME().getCount() - before))
        (first, new), (_, again) = runs
        row = (first["jobs"], first["stages"], new, again)
        total = [t + x for t, x in zip(total, row)]
        print(f"{name:28} {row[0]:5d} {row[1]:6d} {row[2]:5d} {row[3]:5d}")
    print(f"{'total':28} {total[0]:5d} {total[1]:6d} {total[2]:5d} {total[3]:5d}")
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--codegen", metavar="SF_DIR",
                    help="probe the codegen cache over SF_DIR instead of dumping plans")
    ap.add_argument("queries", nargs="*", metavar="QUERY")
    args = ap.parse_args()
    if args.codegen:
        codegen_probe(args.codegen, args.queries)
        return
    if args.queries:
        ap.error("QUERY names need --codegen")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf = "/root/testdata/sf0.001"
    from tesserocr_spark.api import extract_pages, extract_text_only
    from tesserocr_spark.pages import pages_from_documents
    from tesserocr_spark.queries import QUERIES

    from tesserocr_spark.api import extract_spans_long
    from tesserocr_spark.sinks import hocr_sink

    pages = pages_from_documents(spark, sf)
    targets = [
        ("extract_text_only (flagship: scan -> ArrowEvalPython -> project)",
         extract_text_only(pages)),
        ("extract_pages (columnar transport + arrays_zip rebuild)",
         extract_pages(pages)),
        ("extract_spans_long (flat arrays_zip -> posexplode, no nested rebuild)",
         extract_spans_long(pages)),
        ("hocr_sink (pure Catalyst expression, zero Python past extraction)",
         hocr_sink(extract_pages(pages))),
        ("dedup_minhash_lsh (persisted mh-array -> banded b=4 x r=2 bucket equi-join -> verify)",
         QUERIES["dedup_minhash_lsh"](spark, sf)),
        ("multimodal_decode (pruned scan -> two chained MapInPandas, zero Exchange)",
         QUERIES["multimodal_decode"](spark, sf)),
        ("region_filter (SetRectangle -> PushedFilters)",
         QUERIES["region_filter"](spark, sf)),
        ("q1_flagship_agg (partial agg + AQE-coalesced shuffle)",
         QUERIES["q1_flagship_agg"](spark, sf)),
        ("revenue_by_nation (broadcast dim joins)",
         QUERIES["revenue_by_nation"](spark, sf)),
        ("ann_bruteforce_topk (broadcast queries + WindowGroupLimit)",
         QUERIES["ann_bruteforce_topk"](spark, sf)),
        ("dedup_exact (single hash-agg shuffle)",
         QUERIES["dedup_exact"](spark, sf)),
        ("events_asof_view (as-of join = one window pass, zero Join operators)",
         QUERIES["events_asof_view"](spark, sf)),
        ("events_range_join (band bucketing -> equi hash join, no BNLJ)",
         QUERIES["events_range_join"](spark, sf)),
    ]
    out = ["# BENCH/PLANS — physical plans of the headline operators",
           "",
           "Generated by `scripts/dump_plans.py` (`.explain('formatted')`).",
           "Shape guards asserted in tests/test_plans.py.", ""]
    for title, df in targets:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {title}", "", "```", buf.getvalue().rstrip(), "```", ""]
    path = os.path.join(REPO, "BENCH", "PLANS.md")
    # preserve the hand-written measured-results appendix across regeneration
    appendix = ""
    marker = "## Measured negative results"
    if os.path.exists(path):
        prior = open(path).read()
        if marker in prior:
            appendix = prior[prior.index(marker) :]
    with open(path, "w") as fh:
        fh.write("\n".join(out))
        if appendix:
            fh.write("\n" + appendix)
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
