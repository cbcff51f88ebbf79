"""spark-submit job entry point (north_rule: ships via --py-files).

Usage:
  spark-submit --py-files tesserocr_spark.zip -m tesserocr_spark \\
      --input <pages parquet/glob> --output <outputbase> \\
      [--synthetic N] [--psm 3] [--lang eng] [--formats txt,tsv] \\
      [--buckets 64] [--no-resume] [--timeout-ms 0]

Reads the pages table (or generates the seeded synthetic corpus with
--synthetic), runs the extraction pipeline with checkpoint resume, writes
docs + lineage + enabled renderer sinks.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="tesserocr_spark")
    ap.add_argument("--input", help="pages parquet path/glob")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N seeded synthetic pages instead of --input")
    ap.add_argument("--output", required=True, help="outputbase for docs/lineage/sinks")
    ap.add_argument("--psm", type=int, default=3)
    ap.add_argument("--lang", default="eng")
    ap.add_argument("--formats", default="txt",
                    help="comma list: txt,tsv,hocr,alto,pdf,box,unlv")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--timeout-ms", type=int, default=0,
                    help="per-document extraction budget (0 = unbounded)")
    ap.add_argument("--variables", default="",
                    help="comma list of name=value extractor variables")
    ap.add_argument("--dedup-campaign", choices=("jaccard", "minhash_lsh"),
                    help="instead of extraction: run the near-dup campaign "
                         "over --input (a (doc_id, text) documents parquet) "
                         "and write surviving doc_ids to <output>.keep. "
                         "minhash_lsh uses b=4 x r=2 banding: candidate "
                         "recall is 1-(1-j^2)^4 — >=0.9997 at jaccard "
                         ">=0.85 (the near-dup regime it is tuned for) but "
                         "only ~0.68 at the verify floor j=0.5, so "
                         "moderate near-dups (j 0.5-0.8) are retained "
                         "30-70%% of the time; use jaccard (bottom-2 "
                         "blocked, exact verify) when that tail matters")
    ap.add_argument("--sentence-dedup", action="store_true",
                    help="instead of extraction: C4-style cross-corpus "
                         "sentence dedup over --input; writes cleaned "
                         "(doc_id, text) to <output>.clean")
    ap.add_argument("--substring-dedup", action="store_true",
                    help="instead of extraction: exact-substring dedup "
                         "(Lee et al. 2022 ExactSubstr, 8-word windows) "
                         "over --input; every duplicated window is removed "
                         "from all but its corpus-order-first occurrence; "
                         "writes cleaned (doc_id, text) to <output>.clean")
    args = ap.parse_args(argv)
    dedup_mode = args.dedup_campaign or args.sentence_dedup or args.substring_dedup
    if dedup_mode and not args.input:
        ap.error("--dedup-campaign/--sentence-dedup/--substring-dedup "
                 "require --input (documents parquet)")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("tesserocr_spark_job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    if dedup_mode:
        from tesserocr_spark.pages import spread
        from tesserocr_spark.queries import dedup
        from tesserocr_spark.queries.registry import release_cache

        docs = spread(spark.read.parquet(args.input).select("doc_id", "text"))
        if args.sentence_dedup or args.substring_dedup:
            out = f"{args.output}.clean"
            clean = (dedup.sentence_dedup_frame if args.sentence_dedup
                     else dedup.substring_dedup_frame)
            clean(docs).write.mode("overwrite").parquet(out)
            report = {"clean": out, "n_docs": spark.read.parquet(out).count()}
        else:
            out = f"{args.output}.keep"
            keep = dedup.campaign_keep_frame(docs, pair_source=args.dedup_campaign)
            keep.write.mode("overwrite").parquet(out)
            n_docs, n_kept = docs.count(), spark.read.parquet(out).count()
            report = {
                "keep": out,
                "pair_source": args.dedup_campaign,
                "n_docs": n_docs,
                "n_kept": n_kept,
                "n_dropped": n_docs - n_kept,
            }
        release_cache()  # free the persisted side-tables (terminal action)
        print(json.dumps(report))
        spark.stop()
        return 0

    from tesserocr_spark.config import ExtractorConfig
    from tesserocr_spark.jobs import process_pages
    from tesserocr_spark.pages import synthetic_pages

    variables = {"tessedit_create_txt": "0"}
    for fmt in args.formats.split(","):
        fmt = fmt.strip()
        if fmt:
            key = "tessedit_write_unlv" if fmt == "unlv" else f"tessedit_create_{fmt}"
            if fmt == "box":
                key = "tessedit_create_boxfile"
            variables[key] = "1"
    for kv in args.variables.split(","):
        if kv.strip():
            k, _, v = kv.partition("=")
            variables[k.strip()] = v
    cfg = ExtractorConfig(lang=args.lang, psm=args.psm, variables=variables)

    if args.synthetic:
        pages = synthetic_pages(spark, args.synthetic)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synthetic is required")

    result = process_pages(
        pages,
        args.output,
        cfg,
        n_buckets=args.buckets,
        timeout_ms_per_doc=args.timeout_ms,
        resume=not args.no_resume,
    )
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
