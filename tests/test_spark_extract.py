"""Spark-side extraction tests: cross-path equivalence, partition-layout
determinism, the SparkPageAPI facade, and spans invariants via SQL."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tesserocr_spark import PSM, ExtractorConfig
from tesserocr_spark.api import (
    SparkPageAPI,
    extract_pages,
    extract_text_only,
    spans_long,
)
from tesserocr_spark.core import Extractor
from tesserocr_spark.pages import make_page, pages_from_documents, synthetic_pages

N_PAGES = 150


@pytest.fixture(scope="module")
def pages(spark):
    return synthetic_pages(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def docs(spark, pages):
    return extract_pages(pages).cache()


class TestCrossPath:
    def test_udf_equals_local_core(self, docs):
        """Distributed extraction == single-threaded core, byte for byte
        (the local[8]/local[32] determinism law, FIXTURES.md §3)."""
        ex = Extractor()
        got = {r.url: r.extracted_text for r in docs.select("url", "extracted_text").collect()}
        for i in range(N_PAGES):
            url, _ts, html, _text, _lang = make_page(i)
            assert got[url] == ex.extract(html).text, url

    def test_text_only_udf_matches_full(self, spark, pages, docs):
        fast = {r.url: r.extracted_text for r in extract_text_only(pages).collect()}
        full = {r.url: r.extracted_text for r in docs.select("url", "extracted_text").collect()}
        assert fast == full

    def test_extract_spans_long_equals_nested_path(self, spark, pages, docs):
        """extract_spans_long's independent flat arrays_zip→posexplode plan
        must produce the exact row set of the tested nested path
        (spans_long over extract_pages) — ADVICE r02 low #3."""
        from tesserocr_spark.api import extract_spans_long

        nested = spans_long(docs).select(
            "url", "level", "block_id", "para_id", "line_id", "word_id",
            "symbol_id", "block_type", "text", "conf", "blanks",
            F.col("bbox.x0").alias("x0"), F.col("bbox.y0").alias("y0"),
            F.col("bbox.x1").alias("x1"), F.col("bbox.y1").alias("y1"),
            "flags",
        )
        flat = extract_spans_long(pages).select(*nested.columns)
        key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
        assert key(flat.collect()) == key(nested.collect())

    def test_docs_for_cache_keyed_on_application_id(self, spark):
        """registry.docs_for must key its persist cache on the Spark
        applicationId, not id(spark): a recycled object id after session
        teardown must not serve a stale frame (VERDICT r02 §wrong #3).
        A proxy with a different object identity but the same sparkContext
        must hit the cache without touching any other session surface."""
        from tesserocr_spark.queries.registry import docs_for

        first = docs_for(spark, "/root/testdata/sf0.001")

        class _Proxy:
            def __init__(self, s):
                self.sparkContext = s.sparkContext

        proxy = _Proxy(spark)
        assert id(proxy) != id(spark)
        assert docs_for(proxy, "/root/testdata/sf0.001") is first

    def test_partition_layout_invariance(self, spark, docs):
        """Same corpus at 1 and 7 partitions -> identical bytes + spans."""
        p1 = synthetic_pages(spark, 60, partitions=1)
        p7 = synthetic_pages(spark, 60, partitions=7)
        d1 = {r.url: (r.extracted_text, r.n) for r in
              extract_pages(p1).select("url", "extracted_text",
                                       F.size("spans").alias("n")).collect()}
        d7 = {r.url: (r.extracted_text, r.n) for r in
              extract_pages(p7).select("url", "extracted_text",
                                       F.size("spans").alias("n")).collect()}
        assert d1 == d7

    def test_fold_spans_sql_equals_text(self, spark, docs):
        """GetUTF8Text == fold(spans) computed ENTIRELY in Spark SQL over the
        nested column (cross-path oracle, reference tests/test_api.py:104-117).
        """
        words = spans_long(docs).filter(
            (F.col("level") == 3) & F.col("text").isNotNull()
        )
        from pyspark.sql import Window

        w = Window.partitionBy("url").orderBy("block_id", "para_id", "line_id", "word_id")
        lines = (
            words.withColumn("piece", F.concat(F.repeat(F.lit(" "), F.col("blanks")), "text"))
            .groupBy("url", "block_id", "para_id", "line_id")
            .agg(
                F.concat_ws(
                    "",
                    F.sort_array(F.collect_list(F.struct("word_id", "piece"))).getField("piece"),
                ).alias("line")
            )
        )
        paras = (
            lines.groupBy("url", "block_id", "para_id")
            .agg(F.concat_ws("\n", F.sort_array(F.collect_list(F.struct("line_id", "line"))
                                                ).getField("line")).alias("para"))
        )
        folded = (
            paras.groupBy("url")
            .agg(
                F.concat(
                    F.concat_ws(
                        "\n\n",
                        F.sort_array(
                            F.collect_list(F.struct("block_id", "para_id", "para"))
                        ).getField("para"),
                    ),
                    F.lit("\n"),
                ).alias("folded")
            )
        )
        joined = docs.select("url", "extracted_text").join(folded, "url", "left")
        bad = joined.filter(
            (F.col("extracted_text") != "")
            & (F.col("extracted_text") != F.col("folded"))
        ).count()
        assert bad == 0

    def test_extraction_oracle_vs_duckdb(self, spark):
        """Byte-identity of the full pipeline vs the closed-form oracle."""
        import duckdb

        docs = extract_pages(pages_from_documents(spark, "/root/testdata/sf0.001"))
        got = {r.url: r.extracted_text
               for r in docs.select("url", "extracted_text").collect()}
        exp = duckdb.sql(
            "SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url, "
            "regexp_replace(trim(text), '\\s+', ' ', 'g') || chr(10) AS t "
            "FROM '/root/testdata/sf0.001/documents.parquet'"
        ).fetchall()
        assert len(exp) == len(got)
        for url, t in exp:
            assert got[url].encode() == t.encode(), url


class TestSpansInvariants:
    def test_word_count_equals_conf_count(self, spark, docs):
        sl = spans_long(docs).filter(F.col("level") == 3)
        r = sl.agg(
            F.count("text").alias("words"), F.count("conf").alias("confs")
        ).collect()[0]
        assert r.words <= r.confs  # conf never null; text null only for image words

    def test_envelope_containment_sql(self, spark, docs):
        """Every child bbox inside its parent (level envelopes, reference
        tests/test_api.py:283-327) — asserted relationally."""
        sl = spans_long(docs)
        child = sl.filter(F.col("level") == 3).alias("c")
        parent = sl.filter(F.col("level") == 2).alias("p")
        bad = (
            child.join(
                parent,
                (F.col("c.url") == F.col("p.url"))
                & (F.col("c.block_id") == F.col("p.block_id"))
                & (F.col("c.para_id") == F.col("p.para_id"))
                & (F.col("c.line_id") == F.col("p.line_id")),
            )
            .filter(
                (F.col("c.bbox.x0") < F.col("p.bbox.x0"))
                | (F.col("c.bbox.x1") > F.col("p.bbox.x1"))
                | (F.col("c.bbox.y0") < F.col("p.bbox.y0"))
                | (F.col("c.bbox.y1") > F.col("p.bbox.y1"))
            )
            .count()
        )
        assert bad == 0

    def test_degenerate_pages_empty_not_error(self, spark, docs):
        empt = docs.filter(F.col("extracted_text") == "")
        assert empt.count() > 0  # the planted degenerate rows
        assert empt.filter(F.size("spans") > 0).count() == 0


class TestAPIFacade:
    def test_session_lifecycle(self, spark, pages):
        with SparkPageAPI(spark) as api:
            api.set_pages(pages.limit(20))
            txt = api.get_utf8_text()
            assert txt.count() == 20
            words = api.all_words()
            confs = api.all_word_confidences()
            assert words.count() == confs.count()
            mapped = api.map_word_confidences()
            assert mapped.columns == ["url", "pos", "word", "conf"]
            assert api.mean_text_conf().filter(
                (F.col("conf") < 84) | (F.col("conf") > 95)
            ).count() == 0

    def test_session_and_registry_share_the_word_law(self, spark, sf_dir):
        """SparkPageAPI's word methods and the registry's word queries are
        one reading-order view: the same rows over the same documents."""
        from tesserocr_spark.queries.registry import QUERIES

        api = SparkPageAPI(spark).set_pages(pages_from_documents(spark, sf_dir))
        try:
            for name in ("all_words", "all_word_confidences",
                         "map_word_confidences", "mean_text_conf"):
                mine = getattr(api, name)()
                theirs = QUERIES[name](spark, sf_dir)
                assert mine.columns == theirs.columns, name
                got = sorted(map(tuple, mine.collect()))
                assert got, name
                assert got == sorted(map(tuple, theirs.collect())), name
        finally:
            api.end()

    def test_region_recognize_equals_local_core(self, spark, pages):
        """SetRectangle goes through the one columns UDF: per url, text and
        spans equal the local core's ``extract(html, region=...)``."""
        from tesserocr_spark.schemas import SPAN_SCHEMA

        region = (0, 1, 40, 3)
        api = SparkPageAPI(spark).set_pages(pages.limit(20)).set_rectangle(*region)
        docs = api.recognize()
        assert docs.schema["spans"].dataType.elementType.names == SPAN_SCHEMA.names
        got = {r.url: r for r in docs.select("url", "extracted_text", "spans").collect()}
        assert len(got) == 20
        html_by_url = {p[0]: p[2] for p in map(make_page, range(N_PAGES))}
        ex = Extractor()
        n_cropped = 0
        for url in got:
            html = html_by_url[url]
            want = ex.extract(html, region=region)
            assert got[url].extracted_text == want.text, url
            spans = [(*s[:10], tuple(s.bbox), s.flags) for s in got[url].spans]
            assert spans == [(*s[:10], tuple(s[10]), s[11]) for s in want.raw_spans], url
            n_cropped += want.text != ex.extract(html).text
        assert n_cropped > 0
        api.end()

    def test_unbound_raises(self, spark):
        api = SparkPageAPI(spark)
        with pytest.raises(RuntimeError):
            api.recognize()

    def test_level_projections(self, spark, pages):
        api = SparkPageAPI(spark).set_pages(pages.limit(30))
        regions = api.get_regions()
        lines = api.get_textlines()
        words = api.get_words()
        assert regions.select("level").distinct().collect()[0].level == 0
        assert lines.select("level").distinct().collect()[0].level == 2
        assert words.select("level").distinct().collect()[0].level == 3
        strips = api.get_strips()
        assert strips.count() >= lines.count()
        api.end()

    def test_analyse_layout(self, spark, pages):
        api = SparkPageAPI(spark).set_pages(pages.limit(10))
        layout = api.analyse_layout()
        assert layout.filter(F.col("text").isNotNull()).count() == 0
        assert layout.count() > 0

    def test_psm_switch(self, spark, pages):
        api = SparkPageAPI(spark, ExtractorConfig()).set_pages(pages.limit(10))
        auto_words = api.get_words().count()
        api.set_page_seg_mode(PSM.SINGLE_WORD)
        assert api.get_page_seg_mode() == PSM.SINGLE_WORD
        single = api.get_words().count()
        assert single < auto_words
        api.end()

    def test_detect_os(self, spark, pages):
        api = SparkPageAPI(spark).set_pages(pages.limit(10))
        osd = api.detect_os()
        assert osd.filter(F.col("orient_deg") != 0).count() == 0
        assert "Latin" in {r.script_name for r in osd.collect()}
        assert "eng" in api.get_available_languages()
        api.end()
