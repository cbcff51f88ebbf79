"""Attribute-view tests: font/style flags, choices, charset, rect one-shot."""

from __future__ import annotations

from pyspark.sql import functions as F

from tesserocr_spark.api import SparkPageAPI, extract_pages, spans_long, tesseract_rect
from tesserocr_spark.pages import synthetic_pages


def _api(spark, html_rows):
    df = spark.createDataFrame(
        [(f"u{i}", h) for i, h in enumerate(html_rows)], "url string, html binary"
    )
    return SparkPageAPI(spark).set_pages(df)


STYLED = b"""<main><p>normal <b>boldword</b> <i>italicword</i>
<code>monoword</code> mix<b>ed</b> 2<sup>8</sup></p></main>"""


def test_word_font_attributes(spark):
    api = _api(spark, [STYLED])
    fa = {r.word: (r.bold, r.italic, r.monospace)
          for r in api.word_font_attributes().collect()}
    assert fa["boldword"] == (True, False, False)
    assert fa["italicword"] == (False, True, False)
    assert fa["monoword"] == (False, False, True)
    assert fa["normal"] == (False, False, False)
    # mixed-style word: AND-fold -> not fully bold
    assert fa["mixed"] == (False, False, False)
    api.end()


def test_symbol_attributes_and_choices(spark):
    api = _api(spark, [STYLED])
    sym = {(r.symbol, r.is_superscript) for r in api.symbol_attributes().collect()}
    assert ("8", True) in sym
    ch = api.get_choice_iterator().collect()
    for r in ch:
        choices = r.choices
        assert choices[0]["conf"] >= choices[-1]["conf"]  # best-first
    api.end()


def test_lstm_choices_concat_to_word(spark):
    """Per-timestep best symbols concatenate to the word text
    (reference invariant, tests/test_api.py:188-206)."""
    api = _api(spark, [STYLED])
    words = {(r.url, r.block_id, r.para_id, r.line_id, r.word_id): r.text
             for r in api.get_words().collect()}
    for r in api.get_best_lstm_symbol_choices().collect():
        best = "".join(step[0]["symbol"] for step in r.timesteps)
        assert best == words[(r.url, r.block_id, r.para_id, r.line_id, r.word_id)]
    api.end()


def test_paragraph_row_baseline_polygon(spark):
    api = _api(spark, [STYLED, b"<p>two</p><p>paras here</p>"])
    pi = api.paragraph_info().collect()
    assert all(r.justification == 1 and r.first_line_indent == 0 for r in pi)
    ra = api.row_attributes().collect()
    assert all(r.row_height == 1.0 for r in ra)
    bl = api.baseline().collect()
    assert all(r.y1 == r.y2 for r in bl)  # horizontal baselines
    poly = api.block_polygon().collect()
    assert all(len(r.polygon) == 4 for r in poly)
    ori = api.orientation().collect()
    assert all(r.orientation == 0 and r.deskew_angle == 0.0 for r in ori)
    api.end()


def test_charset_and_validity(spark):
    api = _api(spark, [b"<p>abc abd</p>"])
    tbl = {r.glyph: r.unichar_id for r in api.charset_table().collect()}
    assert set(tbl) == {"a", "b", "c", "d"}
    assert [tbl[g] for g in sorted(tbl)] == [0, 1, 2, 3]
    assert api.is_valid_character("a")
    assert not api.is_valid_character("ab")
    api.set_variable("tessedit_char_blacklist", "z")
    assert not api.is_valid_character("z")
    api.end()


def test_empty_level_and_text_direction(spark):
    api = _api(spark, [b"", b"<p>word</p>"])
    empt = api.empty(3).collect()  # WORD level
    assert [r.url for r in empt] == ["u0"]
    td = api.get_text_direction().collect()
    assert all(r.offset == 0 and r.slope == 0.0 for r in td)
    api.end()


def test_tesseract_rect_one_shot(spark):
    pages = synthetic_pages(spark, 5)
    full = {r.url: r.extracted_text for r in
            extract_pages(pages).select("url", "extracted_text").collect()}
    rect = {r.url: r.text for r in tesseract_rect(pages, 0, 0, 10_000, 1).collect()}
    for url, t in rect.items():
        if full[url]:
            assert t == full[url].split("\n")[0] + "\n"  # first grid row only


def test_connected_components(spark):
    api = _api(spark, [STYLED])
    cc = api.get_connected_components()
    assert cc.count() > 0
    assert cc.filter(F.col("text").isNotNull()).count() == 0  # layout-only
    api.end()


def test_layout_views_leave_no_cached_frame(spark):
    """analyse_layout and get_connected_components cache nothing that
    end() would leave behind: afterwards the session's cache manager holds
    no more entries than before set_pages."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.cachedData().size()
    api = _api(spark, [STYLED])
    assert api.analyse_layout().count() > 0
    assert api.get_connected_components().count() > 0
    api.end()
    assert cm.cachedData().size() <= before


TWO_PARAS = b"""<main><p>The quick brown fox</p><p>jumps over lazy dogs</p></main>"""


def test_custom_separators_refold(spark):
    api = _api(spark, [TWO_PARAS])
    default = api.get_utf8_text().first().text
    assert default == "The quick brown fox\n\njumps over lazy dogs\n"
    api.set_line_separator(" | ").set_paragraph_separator("<PARA>")
    custom = api.get_utf8_text().first().text
    # para_sep terminates EVERY paragraph (reference :868 "inserted at the
    # end of each paragraph") — only the "\n"/"\n" default strips the last
    assert custom == "The quick brown fox | <PARA>jumps over lazy dogs | <PARA>"
    # back to defaults -> byte-identical extraction-time text again
    api.set_line_separator("\n").set_paragraph_separator("\n")
    assert api.get_utf8_text().first().text == default
    api.end()


def test_word_recognition_language_and_normed_text(spark):
    """WordRecognitionLanguage projects pages.lang onto word spans
    (tesserocr.pyx:944-953); WordNormedUTF8Text lower/trim/NFKC-folds
    (:1002-1006)."""
    df = spark.createDataFrame(
        [("u0", b"<main><p>The Quick 2<sup>8</sup> H\xc2\xb2O</p></main>", "deu")],
        "url string, html binary, lang string",
    )
    api = SparkPageAPI(spark).set_pages(df)
    langs = {r.word: r.recognition_lang
             for r in api.word_recognition_language().collect()}
    assert langs and set(langs.values()) == {"deu"}
    normed = {r.word: r.normed_text for r in api.word_normed_text().collect()}
    assert normed["The"] == "the"
    assert normed["Quick"] == "quick"
    # NFKC fold of the superscript digit the extractor emits
    assert normed.get("H²O") == "h2o"
    api.end()


def test_begin_and_restart_positions(spark):
    """Begin/RestartParagraph/RestartRow (tesserocr.pyx:472-499): stateless
    restart positions — each paragraph/line's first reading-order pos."""
    api = _api(spark, [TWO_PARAS])
    it = api.begin()
    assert it.orderBy("pos").first().pos == 0
    paras = {(r.block_id, r.para_id): r.pos
             for r in api.restart_paragraph().collect()}
    rows = {(r.block_id, r.para_id, r.line_id): r.pos
            for r in api.restart_row().collect()}
    assert len(paras) == 2 and len(rows) == 2
    # restart target of a paragraph == restart target of its first row
    for (b, p), pos in paras.items():
        assert rows[(b, p, 0)] == pos
    # positions strictly increase across paragraphs
    assert paras[(0, 0)] < paras[(0, 1)]
    api.end()


def test_paragraph_is_ltr(spark):
    api = _api(spark, [TWO_PARAS])
    rows = api.paragraph_is_ltr().collect()
    assert len(rows) == 2 and all(r.is_ltr for r in rows)
    api.end()


def test_bounding_box_internal_shift(spark):
    from tesserocr_spark.attributes import bounding_box_internal

    api = _api(spark, [TWO_PARAS])
    sl = api.get_iterator()
    raw = {(r.level, r.block_id, r.para_id, r.line_id, r.word_id, r.symbol_id):
           (r.bbox.x0, r.bbox.y0, r.bbox.x1, r.bbox.y1) for r in sl.collect()}
    shifted = {(r.level, r.block_id, r.para_id, r.line_id, r.word_id, r.symbol_id):
               (r.x0, r.y0, r.x1, r.y1)
               for r in bounding_box_internal(sl, left=2, top=1).collect()}
    for k, (x0, y0, x1, y1) in raw.items():
        assert shifted[k] == (x0 - 2, y0 - 1, x1 - 2, y1 - 1)
    # no-region facade path equals the raw bbox
    ident = api.bounding_box_internal().collect()
    assert all(raw[(r.level, r.block_id, r.para_id, r.line_id, r.word_id,
                    r.symbol_id)] == (r.x0, r.y0, r.x1, r.y1) for r in ident)
    api.end()


def test_iterate_choices_best_first(spark):
    api = _api(spark, [STYLED])
    rows = api.iterate_choices().collect()
    assert rows
    by_sym = {}
    for r in rows:
        by_sym.setdefault(
            (r.block_id, r.para_id, r.line_id, r.word_id, r.symbol_id), []
        ).append((r.rank, r.conf))
    for choices in by_sym.values():
        choices.sort()
        confs = [c for _, c in choices]
        assert confs == sorted(confs, reverse=True)  # best-first
    api.end()


def test_source_resolution_pointsize_and_datapath(spark):
    api = _api(spark, [TWO_PARAS])
    assert api.word_font_attributes().first().pointsize == 12
    api.set_source_resolution(140)
    assert api.word_font_attributes().first().pointsize == 6
    assert api.get_datapath() == "tesserocr_spark://builtin"
    assert api.set_bounding_box_components(False, True) is api
    assert api.get_bounding_box_components() == (False, True)
    # the flags live in the immutable config, so clones carry them
    assert api.config.get_bool_variable("bbox_include_upper_dots") is False
    api.end()


def test_leaf_accessor_config_knobs(spark):
    """SetDebugVariable / set_min_orientation_margin round-trip through the
    config store (reference tesserocr.pyx:1389-1411, 2648-2654)."""
    import pytest

    api = _api(spark, [TWO_PARAS])
    assert api.config.get_double_variable("min_orientation_margin") == 7.0
    api.set_min_orientation_margin(11.5)
    assert api.config.get_double_variable("min_orientation_margin") == 11.5
    api.set_debug_variable("emit_symbols", "0")
    assert api.config.get_variable("emit_symbols") == "0"
    with pytest.raises(ValueError):
        api.set_debug_variable("no_such_debug_param", "1")
    api.end()
