"""Renderer-chain sinks, ProcessPages job, lineage + checkpoint resume."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from tesserocr_spark.api import extract_pages
from tesserocr_spark.config import ExtractorConfig
from tesserocr_spark.jobs import (
    process_pages,
    remaining_pages,
    salted_repartition,
    with_bucket,
)
from tesserocr_spark.pages import synthetic_pages
from tesserocr_spark.sinks import (
    alto_sink,
    box_sink,
    hocr_sink,
    osd_sink,
    pdf_sink,
    tsv_sink,
    txt_sink,
    unlv_sink,
    write_renderers,
)


def _docs(spark, n=40):
    return extract_pages(synthetic_pages(spark, n)).cache()


class TestSinks:
    def test_txt_sink_roundtrip(self, spark):
        docs = _docs(spark)
        rows = txt_sink(docs).collect()
        assert len(rows) == 40
        url, payload = rows[0].value.split("\t", 1)
        assert url.startswith("https://")
        assert "extracted_text" in json.loads(payload)

    def test_tsv_sink_hierarchy(self, spark):
        docs = _docs(spark)
        tsv = tsv_sink(docs)
        levels = {r.tsv_level for r in tsv.select("tsv_level").distinct().collect()}
        assert levels == {1, 2, 3, 4}  # block..word, 1-based like reference TSV
        assert tsv.filter(F.col("width") < 0).count() == 0

    def test_hocr_box_unlv(self, spark):
        docs = _docs(spark, 10)
        h = hocr_sink(docs).collect()
        assert all("ocr_page" in r.hocr for r in h)
        assert any("ocrx_word" in r.hocr for r in h)
        b = box_sink(docs).collect()
        assert any(r.box for r in b)
        # box line: "<ch> x0 y0 x1 y1 0"
        line = next(r.box for r in b if r.box).split("\n")[0]
        assert len(line.split(" ")) == 6
        u = unlv_sink(docs).collect()
        assert any("^" in r.unlv for r in u)  # suspect markers exist

    def test_hocr_expression_matches_python_serializer(self, spark):
        # the production hOCR sink is a pure Catalyst expression; the Python
        # serializer in core.fold is its byte-law twin — lock both modes
        from tesserocr_spark.core.extractor import Extractor
        from tesserocr_spark.core.fold import hocr_text
        from tesserocr_spark.pages import make_page

        docs = _docs(spark, 60)
        ex = Extractor()
        for fi in (False, True):
            got = {r.url: r.hocr for r in hocr_sink(docs, font_info=fi).collect()}
            for i in range(60):
                url, _ts, html, _t, _l = make_page(i)
                assert got[url] == hocr_text(
                    url, ex.extract(html).spans, font_info=fi
                ), f"hOCR mismatch page {i} font_info={fi}"

    def test_hocr_sink_plan_has_no_python(self, spark):
        # the sink stage must stay JVM-side: no ArrowEvalPython/BatchEvalPython
        df = hocr_sink(_docs(spark, 3))
        s = df._jdf.queryExecution().optimizedPlan().toString()
        # extraction upstream is the one allowed Python boundary
        assert s.count("ArrowEvalPython") + s.count("BatchEvalPython") <= 1

    def test_alto_expression_matches_python_serializer(self, spark):
        # expression ALTO sink == core.fold.alto_text, byte for byte
        from tesserocr_spark.core.extractor import Extractor
        from tesserocr_spark.core.fold import alto_text
        from tesserocr_spark.pages import make_page

        docs = _docs(spark, 60)
        got = {r.url: r.alto for r in alto_sink(docs).collect()}
        ex = Extractor()
        for i in range(60):
            url, _ts, html, _t, _l = make_page(i)
            assert got[url] == alto_text(url, ex.extract(html).spans), \
                f"ALTO mismatch page {i}"

    def test_alto_sink_plan_has_no_python(self, spark):
        df = alto_sink(_docs(spark, 3))
        s = df._jdf.queryExecution().optimizedPlan().toString()
        assert s.count("ArrowEvalPython") + s.count("BatchEvalPython") <= 1

    def test_null_spans_render_empty_document_skeletons(self, spark):
        # a NULL spans column (nullable field from storage) must render the
        # same empty-document output the Python twins produce for [] —
        # not '' / NULL (size(NULL) = -1 must not defeat the guards)
        from tesserocr_spark.core.fold import alto_text, box_rows, hocr_text, unlv_text

        docs = _docs(spark, 2).withColumn(
            "spans", F.when(F.length("url") < 0, F.col("spans"))
        )
        row = hocr_sink(docs).collect()[0]
        assert row.hocr == hocr_text(row.url, [])
        row = alto_sink(docs).collect()[0]
        assert row.alto == alto_text(row.url, [])
        assert box_sink(docs).collect()[0].box == "\n".join(box_rows([]))
        assert unlv_sink(docs).collect()[0].unlv == unlv_text([])

    def test_osd_expression_matches_python_serializer(self, spark):
        from tesserocr_spark.core.extractor import Extractor
        from tesserocr_spark.core.fold import osd_text
        from tesserocr_spark.pages import make_page

        docs = _docs(spark, 60)
        got = {r.url: r.osd for r in osd_sink(docs).collect()}
        ex = Extractor()
        for i in range(60):
            url, _ts, html, _t, _l = make_page(i)
            assert got[url] == osd_text(ex.extract(html).osd), f"page {i}"

    def test_box_unlv_expressions_match_python_serializers(self, spark):
        # box and unlv sinks are pure expressions; core.fold twins lock them
        from tesserocr_spark.core.extractor import Extractor
        from tesserocr_spark.core.fold import box_rows, unlv_text
        from tesserocr_spark.pages import make_page

        docs = _docs(spark, 60)
        gb = {r.url: r.box for r in box_sink(docs).collect()}
        gu = {r.url: r.unlv for r in unlv_sink(docs).collect()}
        ex = Extractor()
        for i in range(60):
            url, _ts, html, _t, _l = make_page(i)
            sp = ex.extract(html).spans
            assert gb[url] == "\n".join(box_rows(sp)), f"box mismatch page {i}"
            assert gu[url] == unlv_text(sp), f"unlv mismatch page {i}"
        for df in (box_sink(_docs(spark, 3)), unlv_sink(_docs(spark, 3))):
            s = df._jdf.queryExecution().optimizedPlan().toString()
            assert s.count("ArrowEvalPython") + s.count("BatchEvalPython") <= 1

    def test_alto_sink_well_formed(self, spark):
        import xml.etree.ElementTree as ET

        docs = _docs(spark, 10)
        rows = alto_sink(docs).collect()
        assert len(rows) == 10
        ns = "{http://www.loc.gov/standards/alto/ns-v3#}"
        doc = next(r for r in rows if "<String " in r.alto)
        root = ET.fromstring(doc.alto)
        strings = root.findall(f".//{ns}String")
        n_words = docs.filter(F.col("url") == doc.url).select(
            F.size(F.filter("spans", lambda s: s.level == 3))).first()[0]
        assert len(strings) == n_words
        assert all("CONTENT" in s.attrib and "WC" in s.attrib for s in strings)
        assert root.findall(f".//{ns}SP")  # inter-word gaps present

    def test_osd_sink_format(self, spark):
        docs = _docs(spark, 5)
        rows = osd_sink(docs).collect()
        assert len(rows) == 5
        assert all(r.osd.startswith("Page 0: 0\n") for r in rows)
        assert all("Script: " in r.osd for r in rows)

    def test_osd_sink_null_struct_defaults(self, spark):
        """A NULL osd struct (NaN-filled through Arrow) must render the
        documented defaults, never 'nan' (ADVICE r01)."""
        base = _docs(spark, 3)
        docs = base.withColumn("osd", F.lit(None).cast(base.schema["osd"].dataType))
        rows = osd_sink(docs).collect()
        assert len(rows) == 3
        for r in rows:
            assert "nan" not in r.osd
            assert "Orientation in degrees: 0\n" in r.osd
            assert "Script: \n" in r.osd

    def test_pdf_sink_textonly(self, spark):
        docs = _docs(spark, 5)
        rows = pdf_sink(docs).collect()
        assert all(bytes(r.pdf).startswith(b"%PDF-1.4") for r in rows)
        assert all(bytes(r.pdf).rstrip().endswith(b"%%EOF") for r in rows)
        # deterministic: same doc -> same bytes
        again = {r.url: bytes(r.pdf) for r in pdf_sink(docs).collect()}
        assert all(bytes(r.pdf) == again[r.url] for r in rows)

    @staticmethod
    def _check_pdf_structure(pdf: bytes, n_objs: int) -> None:
        """xref offsets byte-accurate, startxref points at the xref table."""
        import re

        for m in re.finditer(rb"(\d{10}) 00000 n \n", pdf):
            pass
        offsets = [int(m) for m in re.findall(rb"(\d{10}) 00000 n \n", pdf)]
        assert len(offsets) == n_objs
        for i, off in enumerate(offsets, start=1):
            assert pdf[off:].startswith(f"{i} 0 obj\n".encode()), i
        xref_at = int(re.search(rb"startxref\n(\d+)\n", pdf).group(1))
        assert pdf[xref_at:].startswith(b"xref\n")

    def test_pdf_image_underlay_embeds_real_jpeg(self, spark):
        """textonly_pdf=0: the underlay is a REAL baseline JPEG (our ITU
        T.81 encoder) in a /DCTDecode XObject — decode it back with our
        own decoder and it must equal the content-derived page raster
        bit-exactly; the text layer is present and invisible (3 Tr)."""
        import re

        from tesserocr_spark.sinks import (
            PDF_IMAGE_H,
            PDF_IMAGE_W,
            _page_raster,
            pdf_bytes_image,
        )
        from tesserocr_spark.multimodal import decode_jpeg_pixels, parse_jpeg

        for text in ("hello\nworld", "", "par(en)s \\ slash", "é…　cjk 漢"):
            pdf = pdf_bytes_image("u", text)
            assert pdf.startswith(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
            self._check_pdf_structure(pdf, 6)
            m = re.search(
                rb"/Filter /DCTDecode /Length (\d+) >>\nstream\n", pdf
            )
            assert m is not None
            jpeg = pdf[m.end() : m.end() + int(m.group(1))]
            meta = parse_jpeg(jpeg)
            assert meta and (meta["width"], meta["height"]) == (
                PDF_IMAGE_W, PDF_IMAGE_H,
            )
            assert decode_jpeg_pixels(jpeg) == _page_raster(text)
            assert b"3 Tr" in pdf  # invisible text render mode
            assert b"/Im1 Do" in pdf

    def test_pdf_image_sink_matches_python_builder(self, spark):
        from tesserocr_spark.core.extractor import Extractor
        from tesserocr_spark.sinks import pdf_bytes_image
        from tesserocr_spark.pages import make_page

        docs = _docs(spark, 12)
        got = {
            r.url: bytes(r.pdf)
            for r in pdf_sink(docs, textonly=False).collect()
        }
        ex = Extractor()
        for i in range(12):
            url, _ts, html, _t, _l = make_page(i)
            assert got[url] == pdf_bytes_image(url, ex.extract(html).text), \
                f"image-PDF mismatch page {i}"

    def test_pdf_expression_matches_python_serializer(self, spark):
        # expression PDF sink == core.fold.pdf_bytes, byte for byte — the
        # same lock the other five pure-expression renderers carry. The
        # corpus includes non-latin1 chars (…), latin-1 chars (é), parens
        # and backslashes via the degenerate pages.
        from tesserocr_spark.core.extractor import Extractor
        from tesserocr_spark.core.fold import pdf_bytes
        from tesserocr_spark.pages import make_page

        docs = _docs(spark, 60)
        got = {r.url: bytes(r.pdf) for r in pdf_sink(docs).collect()}
        ex = Extractor()
        for i in range(60):
            url, _ts, html, _t, _l = make_page(i)
            assert got[url] == pdf_bytes(url, ex.extract(html).text), \
                f"PDF mismatch page {i}"

    def test_pdf_sink_plan_has_no_python(self, spark):
        df = pdf_sink(_docs(spark, 3))
        s = df._jdf.queryExecution().optimizedPlan().toString()
        # extraction upstream is the one allowed Python boundary
        assert s.count("ArrowEvalPython") + s.count("BatchEvalPython") <= 1

    def test_hocr_font_info_flag(self, spark):
        docs = _docs(spark, 10)
        plain = {r.url: r.hocr for r in hocr_sink(docs).collect()}
        with_font = {r.url: r.hocr for r in
                     hocr_sink(docs, font_info=True).collect()}
        assert all("x_font" not in h for h in plain.values())
        assert all("x_font" in h or "ocrx_word" not in h
                   for h in with_font.values())

    def test_write_renderers_osd_only_short_circuit(self, spark, tmp_path):
        from tesserocr_spark.constants import PSM

        docs = _docs(spark, 5)
        cfg = ExtractorConfig(psm=PSM.OSD_ONLY, variables={
            "tessedit_create_txt": "1", "tessedit_create_hocr": "1"})
        out = write_renderers(docs, str(tmp_path / "osd"), cfg)
        assert set(out) == {"osd"}  # tesserocr.pyx:2196-2198 short-circuit
        assert spark.read.json(out["osd"]).count() == 5

    def test_write_renderers_multi_sink(self, spark, tmp_path):
        docs = _docs(spark, 15)
        cfg = ExtractorConfig(variables={
            "tessedit_create_txt": "1",
            "tessedit_create_tsv": "1",
            "tessedit_create_hocr": "1",
            "tessedit_create_alto": "1",
            "tessedit_create_pdf": "1",
        })
        out = write_renderers(docs, str(tmp_path / "out"), cfg)
        assert set(out) == {"txt", "tsv", "hocr", "alto", "pdf"}
        txt = spark.read.text(out["txt"])
        assert txt.count() == 15
        tsv = spark.read.option("sep", "\t").option("header", True).csv(out["tsv"])
        assert tsv.count() > 15
        pdf = spark.read.parquet(out["pdf"])
        assert pdf.count() == 15
        assert bytes(pdf.first().pdf).startswith(b"%PDF")


class TestJobs:
    def test_bucket_deterministic(self, spark):
        p = synthetic_pages(spark, 50)
        b1 = {r.url: r.bucket for r in with_bucket(p).select("url", "bucket").collect()}
        b2 = {r.url: r.bucket for r in
              with_bucket(synthetic_pages(spark, 50, partitions=3))
              .select("url", "bucket").collect()}
        assert b1 == b2

    def test_salted_repartition_spreads_hot_host(self, spark):
        """Zipf host0 holds ~50% of pages; after salting no partition holds
        more than a fair-share multiple of them."""
        p = synthetic_pages(spark, 400)
        salted = salted_repartition(p.filter(F.col("url").contains("host0.")), 8)
        counts = [r.n for r in salted.groupBy(F.spark_partition_id().alias("p"))
                  .agg(F.count("*").alias("n")).collect()]
        assert len(counts) > 4  # hot host spread over most partitions
        assert max(counts) < 2.5 * (sum(counts) / len(counts))

    def test_process_pages_and_resume(self, spark, tmp_path):
        base = str(tmp_path / "job")
        pages = synthetic_pages(spark, 60)
        res1 = process_pages(pages, base, n_buckets=8)
        assert res1["n_docs"] == 60
        assert res1["skipped_buckets"] == 0
        docs = spark.read.parquet(res1["docs"])
        assert docs.count() == 60
        assert "bucket" in docs.columns
        lineage = spark.read.parquet(res1["lineage"])
        assert lineage.count() <= 8
        assert lineage.agg(F.sum("n_docs")).collect()[0][0] == 60

        # resume: everything complete -> nothing to do
        rem = remaining_pages(pages, res1["lineage"], n_buckets=8)
        assert rem.count() == 0
        res2 = process_pages(pages, base, n_buckets=8)
        assert res2["n_docs"] == 0
        assert res2["skipped_buckets"] == lineage.select("bucket").distinct().count()

    def test_fully_resumed_rerun_preserves_sinks(self, spark, tmp_path):
        """A rerun with zero remaining work must not clobber renderer output
        (regression: empty frame used to overwrite the txt sink)."""
        base = str(tmp_path / "noclobber")
        pages = synthetic_pages(spark, 30)
        res1 = process_pages(pages, base, n_buckets=8)
        n_before = spark.read.text(res1["renderers"]["txt"]).count()
        assert n_before == 30
        res2 = process_pages(pages, base, n_buckets=8)
        assert res2["n_docs"] == 0 and res2["renderers"] == {}
        assert spark.read.text(res1["renderers"]["txt"]).count() == n_before

    def test_resume_partial(self, spark, tmp_path):
        """Simulate a failed run: lineage for only some buckets -> resume
        processes exactly the complement."""
        base = str(tmp_path / "partial")
        pages = with_bucket(synthetic_pages(spark, 60), 8)
        subset = pages.filter(F.col("bucket") < 4).drop("bucket")
        process_pages(subset, base, n_buckets=8)
        rem = remaining_pages(pages.drop("bucket"), f"{base}.lineage", n_buckets=8)
        assert rem.count() == pages.filter(F.col("bucket") >= 4).count()
        assert rem.filter(F.col("bucket") < 4).count() == 0

    def test_resumed_run_renders_what_it_extracted(self, spark, tmp_path):
        """A resumed run writes its renderer outputs. The lineage append
        used to make Spark recompute the persisted docs (then a left-anti
        join against the lineage path) as empty, so out.txt and out.hocr
        came out with no rows after a partial resume."""
        base = str(tmp_path / "resumed")
        pages = with_bucket(synthetic_pages(spark, 60), 8)
        process_pages(pages.filter(F.col("bucket") < 4).drop("bucket"), base, n_buckets=8)
        cfg = ExtractorConfig(variables={"tessedit_create_hocr": "1"})
        res = process_pages(pages.drop("bucket"), base, cfg, n_buckets=8)
        want = sorted(r.url for r in pages.filter(F.col("bucket") >= 4).collect())
        assert res["n_docs"] == len(want) > 0
        assert res["skipped_buckets"] == 4
        txt = [r.value.split("\t", 1)[0]
               for r in spark.read.text(res["renderers"]["txt"]).collect()]
        hocr = [r.url for r in spark.read.json(res["renderers"]["hocr"]).collect()]
        assert sorted(txt) == want
        assert sorted(hocr) == want
