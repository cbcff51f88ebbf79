"""Pure-Python core tests — the reference's test patterns (SURVEY.md §5)
replayed over synthetic HTML: golden fixtures, cross-path equivalence,
structural invariants, degenerate inputs, config/lifecycle contracts."""

from __future__ import annotations

import pytest

from tesserocr_spark import PSM, PT, RIL, ExtractorConfig
from tesserocr_spark.config import read_config_file
from tesserocr_spark.core import Extractor, box_rows, detect_os, fold_spans, tsv_rows
from tesserocr_spark.core.extractor import (
    FLAG_BOILERPLATE,
    FLAG_NUMERIC,
    FLAG_SUBSCRIPT,
    FLAG_SUPERSCRIPT,
    word_conf,
)

#: canonical page — the eurotext analogue (FIXTURES.md §1); first words
#: mirror the reference fixture: word0 "The" blanks 0, word1 "(quick)"
#: blanks 1 (reference tests/test_api.py:209-225).
CANONICAL_HTML = b"""<html><head><title>skip me</title></head><body>
<nav><a href="/">home</a> <a href="/a">about</a> <a href="/b">blog</a></nav>
<header><h1>Site Title</h1></header>
<main><h1>The Headline</h1>
<p>The (quick) brown fox jumps over the lazy dog. And runs away fast!</p>
<p>Second paragraph here<br>with a break &amp; an entity&#x2026;</p>
<figure><img src="x.png"><figcaption>caption 2<sup>8</sup> and H<sub>2</sub>O</figcaption></figure>
</main>
<footer>copyright 2026 example</footer>
</body></html>"""

#: golden extracted text — byte-frozen by hand (the byte-identity gate).
CANONICAL_TEXT = (
    "The Headline\n"
    "\n"
    "The (quick) brown fox jumps over the lazy dog.\n"
    "And runs away fast!\n"
    "\n"
    "Second paragraph here\n"
    "with a break & an entity…\n"
    "\n"
    "caption 28 and H2O\n"
)


@pytest.fixture(scope="module")
def canonical():
    return Extractor().extract(CANONICAL_HTML)


class TestGolden:
    def test_exact_bytes(self, canonical):
        assert canonical.text.encode("utf-8") == CANONICAL_TEXT.encode("utf-8")

    def test_contains_quick(self, canonical):
        # reference substring assertion, tests/test_api.py:107,115
        assert "quick" in canonical.text

    def test_first_words_and_blanks(self, canonical):
        # reference exact-first-words fixture, tests/test_api.py:209-225
        words = [s for s in canonical.spans
                 if s.level == RIL.WORD and s.text is not None]
        words.sort(key=lambda s: (s.block_id, s.para_id, s.line_id, s.word_id))
        body = [w for w in words if w.block_id == 1]
        assert body[0].text == "The" and body[0].blanks == 0
        assert body[1].text == "(quick)" and body[1].blanks == 1

    def test_osd(self, canonical):
        # reference OSD fixture: orientation 0, script Latin
        # (tests/test_api.py:236,249-250)
        assert canonical.osd["orient_deg"] == 0
        assert canonical.osd["script_name"] == "Latin"

    def test_boilerplate_stripped(self, canonical):
        assert "home" not in canonical.text
        assert "Site Title" not in canonical.text
        assert "copyright" not in canonical.text
        assert "skip me" not in canonical.text

    def test_entities_decoded(self, canonical):
        assert "&" in canonical.text and "…" in canonical.text
        assert "&amp;" not in canonical.text


class TestCrossPath:
    """Two implementations, same answer (reference tests/test_api.py:104-117)."""

    def test_fold_equals_text(self, canonical):
        assert fold_spans(canonical.spans) == canonical.text

    def test_text_fast_path_equals_full(self):
        ex = Extractor()
        for html in (CANONICAL_HTML, b"plain text", b"", b"<p>a<br>b</p>"):
            assert ex.extract_text(html) == ex.extract(html).text

    def test_psm_modes_text_fast_path(self):
        for psm in (PSM.AUTO, PSM.SINGLE_COLUMN, PSM.SINGLE_BLOCK, PSM.SINGLE_LINE,
                    PSM.SINGLE_WORD, PSM.SINGLE_CHAR, PSM.SPARSE_TEXT):
            ex = Extractor(ExtractorConfig(psm=psm))
            assert ex.extract_text(CANONICAL_HTML) == ex.extract(CANONICAL_HTML).text, psm


class TestInvariants:
    """Hand-rolled property checks (reference tests/test_api.py:174-206,283-327)."""

    def test_word_count_equals_conf_count(self, canonical):
        words = [s for s in canonical.spans
                 if s.level == RIL.WORD and s.text is not None]
        confs = [s.conf for s in words]
        assert len(words) == len(confs)
        for w in words:
            assert w.conf == word_conf(w.text)

    def test_reading_order_strictly_increasing(self, canonical):
        keys = [
            (s.block_id, s.para_id, s.line_id, s.word_id,
             s.symbol_id, s.level)
            for s in canonical.spans
        ]
        assert keys == sorted(keys)
        assert len(set(keys)) == len(keys)

    def test_envelopes_contain_children(self, canonical):
        spans = canonical.spans
        parents = {
            (s.level, s.block_id, s.para_id, s.line_id, s.word_id): s
            for s in spans
        }
        for s in spans:
            if s.level == RIL.BLOCK:
                continue
            pkeys = {
                RIL.PARA: (RIL.BLOCK, s.block_id, -1, -1, -1),
                RIL.TEXTLINE: (RIL.PARA, s.block_id, s.para_id, -1, -1),
                RIL.WORD: (RIL.TEXTLINE, s.block_id, s.para_id, s.line_id, -1),
                RIL.SYMBOL: (RIL.WORD, s.block_id, s.para_id, s.line_id,
                             s.word_id),
            }
            p = parents[pkeys[s.level]]
            bx0, by0, bx1, by1 = s.bbox
            px0, py0, px1, py1 = p.bbox
            assert px0 <= bx0 and py0 <= by0
            assert px1 >= bx1 and py1 >= by1

    def test_symbols_concat_to_word(self, canonical):
        # LSTM-choice invariant analogue (tests/test_api.py:188-206)
        words = {}
        syms = {}
        for s in canonical.spans:
            k = (s.block_id, s.para_id, s.line_id, s.word_id)
            if s.level == RIL.WORD and s.text is not None:
                words[k] = s.text
            elif s.level == RIL.SYMBOL:
                syms.setdefault(k, []).append((s.symbol_id, s.text))
        for k, w in words.items():
            assert "".join(t for _, t in sorted(syms[k])) == w

    def test_image_block_imaginary_hierarchy(self, canonical):
        # non-text block visits PARA/LINE/WORD once, never SYMBOL
        # (Next() semantics, tesserocr/tesserocr.pyx:501-508)
        img_blocks = [s.block_id for s in canonical.spans
                      if s.level == RIL.BLOCK and s.block_type == PT.FLOWING_IMAGE]
        assert img_blocks
        for b in img_blocks:
            levels = sorted(s.level for s in canonical.spans if s.block_id == b)
            assert levels == [RIL.BLOCK, RIL.PARA, RIL.TEXTLINE, RIL.WORD]

    def test_sup_sub_flags(self, canonical):
        flagged = {s.text: s.flags for s in canonical.spans
                   if s.level == RIL.SYMBOL}
        assert flagged["8"] & FLAG_SUPERSCRIPT
        assert flagged["2"] & FLAG_SUBSCRIPT

    def test_numeric_flag(self):
        d = Extractor().extract(b"<p>year 2026 was 99.5% fine</p>")
        flags = {s.text: s.flags for s in d.spans if s.level == RIL.WORD}
        assert flags["2026"] & FLAG_NUMERIC
        assert flags["99.5%"] & FLAG_NUMERIC
        assert not flags["year"] & FLAG_NUMERIC


    @pytest.mark.parametrize("psm", [PSM.AUTO, PSM.AUTO_ONLY, PSM.SINGLE_COLUMN,
                                     PSM.SINGLE_LINE, PSM.SPARSE_TEXT])
    @pytest.mark.parametrize("emit_symbols", ["0", "1"])
    def test_metrics_count_the_spans(self, psm, emit_symbols):
        ex = Extractor(ExtractorConfig(psm=psm, variables={"emit_symbols": emit_symbols}))
        docs = [ex.extract(h) for h in (CANONICAL_HTML, b"", b"<p>a<br>b</p><img>")]
        docs.append(ex.extract(CANONICAL_HTML, region=(0, 2, 30, 4)))
        for d in docs:
            n = {lvl: sum(1 for s in d.spans if s.level == lvl) for lvl in
                 (RIL.BLOCK, RIL.PARA, RIL.TEXTLINE, RIL.WORD, RIL.SYMBOL)}
            boiler = sum(1 for s in d.spans
                         if s.level == RIL.BLOCK and s.flags & FLAG_BOILERPLATE)
            assert (d.metrics["n_blocks"], d.metrics["n_paras"], d.metrics["n_lines"],
                    d.metrics["n_words"], d.metrics["n_symbols"],
                    d.metrics["n_boiler_blocks"]) == (
                n[RIL.BLOCK], n[RIL.PARA], n[RIL.TEXTLINE], n[RIL.WORD],
                n[RIL.SYMBOL], boiler)

    def test_extraction_makes_no_reference_cycles(self):
        """The UDF bodies pause the cyclic collector per batch; that is only
        safe while reference counting frees everything extraction makes."""
        import gc

        docs = [CANONICAL_HTML, b"<p>a<br>b <b>c</b>d</p>", b"<p>unclosed <b>bold",
                b"<p>x <![CDATA[ y ]]> z</p>", b"\xff<sup>2</sup>", None]
        exs = [Extractor(ExtractorConfig(psm=psm, variables={"emit_symbols": "1"}))
               for psm in (PSM.AUTO, PSM.OSD_ONLY, PSM.SINGLE_WORD, PSM.SPARSE_TEXT)]
        gc.collect()
        gc.disable()
        try:
            for ex in exs:
                for h in docs:
                    ex.extract(h)
                    ex.extract_text(h)
                    ex.extract(h, region=(0, 0, 5, 2))
            assert gc.collect() == 0
        finally:
            gc.enable()

    def test_udf_batch_loop_restores_the_collector(self):
        import gc

        import pandas as pd

        from tesserocr_spark.udf import _per_doc

        batch = pd.Series([CANONICAL_HTML, b"x"], dtype="object")
        ex = Extractor()
        for enabled in (True, False):
            (gc.enable if enabled else gc.disable)()
            try:
                for timeout_ms in (0, 10_000):
                    texts = _per_doc(ex.extract_text, batch, timeout_ms, None)
                    assert texts == [CANONICAL_TEXT, "x\n"]
                    assert gc.isenabled() is enabled
                    texts = _per_doc(lambda raw: ex.extract(raw, (0, 0, 500, 1)).text,
                                     batch, timeout_ms, None)
                    assert texts == ["The Headline\n", "x\n"]
                    assert gc.isenabled() is enabled
                with pytest.raises(ZeroDivisionError):
                    _per_doc(lambda raw: 1 // 0, batch, 0, None)
                assert gc.isenabled() is enabled
            finally:
                gc.enable()

class TestDegenerate:
    """Empty/degenerate inputs (reference tests/test_api.py:265-281)."""

    @pytest.mark.parametrize("html", [b"", None, b"   \n ", b"<nav><a href='#'>x</a></nav>",
                                      b"<div></div>", "".encode()])
    def test_yields_empty(self, html):
        d = Extractor().extract(html)
        assert d.text == ""
        assert [s for s in d.spans if s.text] == []

    def test_one_byte(self):
        d = Extractor().extract(b"x")
        assert d.text == "x\n"
        assert d.metrics["n_words"] == 1

    def test_malformed(self):
        d = Extractor().extract(b"<p>unclosed <b>bold <i>deep")
        assert d.text == "unclosed bold deep\n"
        assert fold_spans(d.spans) == d.text

    def test_invalid_utf8(self):
        d = Extractor().extract(b"<p>ok \xff\xfe broken</p>")
        assert "ok" in d.text and "broken" in d.text

    def test_truncation_cap(self):
        ex = Extractor(ExtractorConfig(variables={"max_html_bytes": "64"}))
        d = ex.extract(b"<p>" + b"word " * 100 + b"</p>")
        assert d.metrics["truncated"] is True


class TestPSM:
    def test_single_column_keeps_boiler(self):
        d = Extractor(ExtractorConfig(psm=PSM.SINGLE_COLUMN)).extract(CANONICAL_HTML)
        assert "home" in d.text
        noise = [s for s in d.spans if s.level == RIL.BLOCK and s.block_type == PT.NOISE]
        assert noise and all(s.flags & FLAG_BOILERPLATE for s in noise)

    def test_single_block_one_block(self):
        d = Extractor(ExtractorConfig(psm=PSM.SINGLE_BLOCK)).extract(CANONICAL_HTML)
        assert d.metrics["n_blocks"] == 1

    def test_single_line(self):
        d = Extractor(ExtractorConfig(psm=PSM.SINGLE_LINE)).extract(CANONICAL_HTML)
        assert d.metrics["n_lines"] == 1
        assert "\n" not in d.text.rstrip("\n")

    def test_single_word_and_char(self):
        dw = Extractor(ExtractorConfig(psm=PSM.SINGLE_WORD)).extract(CANONICAL_HTML)
        dc = Extractor(ExtractorConfig(psm=PSM.SINGLE_CHAR)).extract(CANONICAL_HTML)
        assert dw.metrics["n_words"] == 1
        assert dc.text == dw.text[0] + "\n"

    def test_osd_only_no_spans(self):
        d = Extractor(ExtractorConfig(psm=PSM.OSD_ONLY)).extract(CANONICAL_HTML)
        assert d.text == "" and d.spans == []
        assert d.osd["script_name"] == "Latin"

    def test_auto_only_layout(self):
        # AnalyseLayout: geometry/ids, text NULL (tesserocr.pyx:2113-2134)
        d = Extractor(ExtractorConfig(psm=PSM.AUTO_ONLY)).extract(CANONICAL_HTML)
        assert d.text == ""
        assert d.spans and all(s.text is None for s in d.spans)
        full = Extractor().extract(CANONICAL_HTML)
        assert d.metrics["n_words"] == full.metrics["n_words"]


class TestRegion:
    def test_set_rectangle_crops(self):
        # first grid row only -> headline (SetRectangle crop fixture pattern,
        # tests/test_api.py:166-172)
        d = Extractor().extract(CANONICAL_HTML, region=(0, 0, 500, 1))
        assert d.text == "The Headline\n"

    def test_region_renumbers_ids(self):
        d = Extractor().extract(CANONICAL_HTML, region=(0, 1, 500, 2))
        blocks = [s for s in d.spans if s.level == RIL.BLOCK]
        assert blocks and blocks[0].block_id == 0


class TestConfigLifecycle:
    def test_blacklist(self):
        ex = Extractor(ExtractorConfig(variables={"tessedit_char_blacklist": "()"}))
        d = ex.extract(CANONICAL_HTML)
        assert "(quick)" not in d.text and "quick" in d.text

    def test_whitelist_drops_words(self):
        ex = Extractor(ExtractorConfig(variables={"tessedit_char_whitelist": "The"}))
        d = ex.extract(b"<p>The zebra</p>")
        assert d.text == "The e\n"  # 'zebra' -> 'e' (only whitelisted chars kept)

    def test_unknown_variable_rejected(self):
        with pytest.raises(ValueError):
            ExtractorConfig(variables={"no_such_variable": "1"})

    def test_config_file_precedence(self, tmp_path):
        # file value applies; explicit variable overrides
        # (reference tests/test_api.py:75-91, fixture tests/box.train)
        p = tmp_path / "extractor.cfg"
        p.write_text("file_type .bl\nedges_childarea 0.65\nmax_link_density 0.9\n")
        cfg = ExtractorConfig.create(configs=(str(p),),
                                     variables={"edges_childarea": "0.7"})
        assert cfg.get_variable("file_type") == ".bl"
        assert cfg.get_double_variable("edges_childarea") == 0.7
        assert cfg.get_double_variable("max_link_density") == 0.9
        raw = read_config_file(str(p))
        assert raw["file_type"] == ".bl"

    def test_typed_getters(self):
        cfg = ExtractorConfig()
        assert cfg.get_bool_variable("tessedit_create_txt") is True
        assert cfg.get_int_variable("min_text_chars") == 1
        assert isinstance(cfg.get_double_variable("max_link_density"), float)


class TestFormatters:
    def test_tsv_rows_shape(self, canonical):
        rows = tsv_rows("u", canonical.spans)
        assert rows
        for r in rows:
            assert len(r.split("\t")) == 12

    def test_box_rows_match_symbols(self, canonical):
        n_sym = sum(1 for s in canonical.spans if s.level == RIL.SYMBOL)
        assert len(box_rows(canonical.spans)) == n_sym


class TestOSDUnit:
    def test_scripts(self):
        assert detect_os("Привет мир")["script_name"] == "Cyrillic"
        assert detect_os("漢字漢字")["script_name"] == "Han"
        assert detect_os("hello")["script_name"] == "Latin"
        assert detect_os("", "rus")["script_name"] == "Cyrillic"
        assert detect_os("", "eng")["script_conf"] == 0.0
