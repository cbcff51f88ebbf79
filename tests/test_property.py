"""Property-based tests (hypothesis): the extraction laws hold for arbitrary
generated HTML, not just the curated corpus."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from tesserocr_spark import PSM, RIL, ExtractorConfig
from tesserocr_spark.core import Extractor, fold_spans

_EX = Extractor()

words = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"),
                           max_codepoint=0x24F),
    min_size=1, max_size=10,
)
sentences = st.lists(words, min_size=1, max_size=8).map(lambda ws: " ".join(ws) + ".")
paragraphs = st.lists(sentences, min_size=1, max_size=4).map(" ".join)

inline = st.sampled_from(["", "<b>{}</b>", "<i>{}</i>", "<sup>{}</sup>", "<a href='#'>{}</a>"])


@st.composite
def html_docs(draw):
    parts = ["<html><body>"]
    if draw(st.booleans()):
        links = draw(st.lists(words, min_size=1, max_size=5))
        parts.append("<nav>" + " ".join(f"<a href='#'>{w}</a>" for w in links) + "</nav>")
    parts.append("<main>")
    for _ in range(draw(st.integers(1, 4))):
        body = draw(paragraphs)
        wrap = draw(inline)
        if wrap:
            body = wrap.format(body.split(" ")[0]) + " " + body
        parts.append(f"<p>{body}</p>")
    if draw(st.booleans()):
        parts.append("<figure><img src='x'></figure>")
    parts.append("</main>")
    if draw(st.booleans()):
        parts.append("<footer>foot note</footer>")
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


@given(html_docs())
@settings(max_examples=60, deadline=None)
def test_fold_equals_text(html):
    d = _EX.extract(html)
    assert fold_spans(d.spans) == d.text


@given(html_docs())
@settings(max_examples=60, deadline=None)
def test_text_fast_path_equals_full(html):
    assert _EX.extract_text(html) == _EX.extract(html).text


@given(html_docs())
@settings(max_examples=40, deadline=None)
def test_reading_order_and_envelopes(html):
    d = _EX.extract(html)
    keys = [(s.block_id, s.para_id, s.line_id, s.word_id, s.symbol_id, s.level)
            for s in d.spans]
    assert keys == sorted(keys) and len(set(keys)) == len(keys)
    parents = {(s.level, s.block_id, s.para_id, s.line_id, s.word_id): s
               for s in d.spans}
    for s in d.spans:
        if s.level == RIL.BLOCK:
            continue
        pk = {
            RIL.PARA: (RIL.BLOCK, s.block_id, -1, -1, -1),
            RIL.TEXTLINE: (RIL.PARA, s.block_id, s.para_id, -1, -1),
            RIL.WORD: (RIL.TEXTLINE, s.block_id, s.para_id, s.line_id, -1),
            RIL.SYMBOL: (RIL.WORD, s.block_id, s.para_id, s.line_id, s.word_id),
        }[s.level]
        p = parents[pk]
        assert p.bbox[0] <= s.bbox[0] and p.bbox[1] <= s.bbox[1]
        assert p.bbox[2] >= s.bbox[2] and p.bbox[3] >= s.bbox[3]


@given(html_docs())
@settings(max_examples=40, deadline=None)
def test_symbols_concat_and_confidence_law(html):
    from tesserocr_spark.core import word_conf

    d = _EX.extract(html)
    words_, syms = {}, {}
    for s in d.spans:
        k = (s.block_id, s.para_id, s.line_id, s.word_id)
        if s.level == RIL.WORD and s.text is not None:
            words_[k] = s
        elif s.level == RIL.SYMBOL:
            syms.setdefault(k, []).append((s.symbol_id, s.text))
    for k, w in words_.items():
        assert "".join(t for _, t in sorted(syms[k])) == w.text
        assert w.conf == word_conf(w.text)


@given(html_docs())
@settings(max_examples=30, deadline=None)
def test_auto_text_is_subset_of_single_column(html):
    """Boilerplate stripping only removes; it never invents content."""
    auto_words = set(_EX.extract_text(html).split())
    allw = set(
        Extractor(ExtractorConfig(psm=PSM.SINGLE_COLUMN)).extract_text(html).split()
    )
    assert auto_words <= allw


@given(st.binary(max_size=400))
@settings(max_examples=60, deadline=None)
def test_never_raises_on_garbage(data):
    """Malformed bytes degrade to (possibly empty) text, never an exception."""
    d = _EX.extract(data)
    assert fold_spans(d.spans) == d.text


@given(html_docs(),
       st.text(alphabet=" |\n\t-", min_size=1, max_size=3),
       st.text(alphabet=" |\n\t-", min_size=1, max_size=3))
@settings(max_examples=40, deadline=None)
def test_fold_separator_law(html, line_sep, para_sep):
    """Parameterized fold law: default separators reproduce extracted_text
    byte-for-byte; custom separators appear exactly where the law says —
    swapping them back in recovers the default fold."""
    d = _EX.extract(html)
    assert fold_spans(d.spans) == d.text
    custom = fold_spans(d.spans, line_sep, para_sep)
    # reversible when the separators are unambiguous markers; non-default
    # separators terminate the final paragraph too, which the default law
    # normalizes away — hence the extra trailing "\n" (iff any paragraph)
    marked = fold_spans(d.spans, "\x01", "\x02")
    expected = d.text + "\n" if d.text else d.text
    assert marked.replace("\x01", "\n").replace("\x02", "\n") == expected
    # word content is separator-invariant (non-empty seps keep boundaries;
    # empty separators legally merge adjacent words, like the reference)
    def strip(s, seps):
        # longer separator first, else a shorter one that prefixes the
        # longer leaves fragments behind (e.g. line="|", para="|-")
        for sep in sorted(seps, key=len, reverse=True):
            s = s.replace(sep, " ")
        return s.split()
    assert strip(custom, (line_sep, para_sep)) == strip(d.text, ("\n", "\n"))


def _detect_os_per_char(text: str, lang: str) -> dict:
    """detect_os as one classify_char call per character — the law the
    counting shortcuts must reproduce."""
    from tesserocr_spark.core.osd import _LANG_SCRIPT, classify_char

    counts: dict[str, int] = {}
    for ch in text:
        s = classify_char(ch)
        if s is not None:
            counts[s] = counts.get(s, 0) + 1
    total = sum(counts.values())
    if total == 0:
        return {"orient_deg": 0, "orient_conf": 0.0,
                "script_name": _LANG_SCRIPT.get(lang.split("+")[0], "Latin"),
                "script_conf": 0.0}
    script = max(sorted(counts), key=lambda k: counts[k])
    return {"orient_deg": 0, "orient_conf": 100.0, "script_name": script,
            "script_conf": round(100.0 * counts[script] / total, 4)}


osd_chars = st.one_of(
    st.characters(blacklist_categories=()),  # any code point
    st.characters(min_codepoint=0xD800, max_codepoint=0xDFFF,
                  blacklist_categories=()),  # lone surrogates
    st.characters(min_codepoint=0x4E00, max_codepoint=0x9FFF),  # Han
    st.characters(min_codepoint=0x3040, max_codepoint=0x30FF),  # kana
    st.characters(max_codepoint=0x7F),
    # NBSP / ideographic-space glue and script-range boundaries
    st.sampled_from("\u00a0\u3000\u0400\u00e9\u024f\u0250\u1100\u00df"),
)


@given(st.text(alphabet=osd_chars, max_size=60),
       st.sampled_from(["eng", "rus", "chi_sim+eng", "zzz"]))
@settings(max_examples=300, deadline=None)
def test_detect_os_equals_per_char_classification(text, lang):
    from tesserocr_spark.core import detect_os

    assert detect_os(text, lang) == _detect_os_per_char(text, lang)


def _split_lines_per_char(frags: list[tuple[str, int]]) -> list:
    """split_lines as one step per character — the law the fragment-level
    path must reproduce. Unstyled paragraphs join their fragments with a
    space; styled ones concatenate them and carry a style per character."""
    from tesserocr_spark.core.segment import _BR_STYLE

    ws = " \t\n\r\f"
    if all(st == 0 for _, st in frags):
        chars = [(ch, 0) for ch in " ".join(t for t, _ in frags)]
        segments = [chars]
    else:
        segments = [[]]
        for text, st in frags:
            if st == _BR_STYLE:
                segments.append([])
            else:
                segments[-1].extend((ch, st) for ch in text)
    lines = []
    for seg in segments:
        words, buf = [], []
        for ch, st in seg + [(" ", 0)]:
            if ch in ws:
                if buf:
                    wf = buf[0][1]
                    for _, f in buf:
                        wf &= f
                    words.append(("".join(c for c, _ in buf), wf, tuple(f for _, f in buf)))
                    buf = []
            else:
                buf.append((ch, st))
        cur = []
        for item in words:
            cur.append(item)
            if len(item[0]) > 1 and item[0][-1] in ".!?…":
                lines.append(cur)
                cur = []
        if cur:
            lines.append(cur)
    return lines


frag_text = st.lists(
    st.sampled_from(["a", "b", "Z", "7", " ", "\t", "\n", "\r", "\f", "\v",
                     "\u00a0", "\u3000", "…", ".", "!", "?", ",", "ab.", "x!"]),
    min_size=1, max_size=8,
).map("".join)
frag_style = st.sampled_from([0, 0, 0, 1, 2, 64, 128, 256, 1 | 64, -1])


@given(st.lists(st.tuples(frag_text, frag_style), max_size=12))
@settings(max_examples=400, deadline=None)
def test_split_lines_equals_per_char_reference(frags):
    from tesserocr_spark.core.segment import _BR_STYLE, Fragment, RawParagraph, split_lines

    frags = [("\n", st) if st == _BR_STYLE else (t, st) for t, st in frags]
    para = RawParagraph("p", 0, False)
    para.frags = [Fragment(t, False, st) for t, st in frags]
    assert split_lines(para) == _split_lines_per_char(frags)


@pytest.mark.parametrize("html,frags,chars,linked", [
    # unbalanced </b>: the extra close leaves bold at depth 0
    ("<p>a <b>bold</b></b> tail <b>x</b>y</p>",
     [("a ", False, 0), ("bold", False, 64), (" tail ", False, 0), ("x", False, 64),
      ("y", False, 0)], 11, 0),
    # stray </a> before any <a>, and a doubled close after one
    ("<p>pre </a>stray <a>in<b>link</b></a></a> post</p>",
     [("pre ", False, 0), ("stray ", False, 0), ("in", True, 0), ("link", True, 64),
      (" post", False, 0)], 18, 6),
    # nested <sup><sup>: still superscript after the inner close
    ("<p>H<sup>2<sup>n</sup>d</sup> O<sub>x</sub></p>",
     [("H", False, 0), ("2", False, 1), ("n", False, 1), ("d", False, 1), (" O", False, 0),
      ("x", False, 2)], 6, 0),
    # crossed italics: </i> closes the <em> slot's shared counter once
    ("<p><i>it <em>both</i> after</em> end <code>c</code></p>",
     [("it ", False, 128), ("both", False, 128), (" after", False, 128),
      (" end ", False, 0), ("c", False, 256)], 15, 0),
    # closes before any open, and <b>/<strong> sharing one counter
    ("</b></sup><p>start</i> <b><strong>s</b> t</strong> u</p>",
     [("start", False, 0), (" ", False, 0), ("s", False, 64), (" t", False, 64),
      (" u", False, 0)], 8, 0),
])
def test_segmenter_depth_counters_on_unbalanced_markup(html, frags, chars, linked):
    from tesserocr_spark.core.segment import parse_paragraphs, parse_paragraphs_stdlib

    for parse in (parse_paragraphs, parse_paragraphs_stdlib):
        (para,) = parse(html)
        assert [(f.text, f.link, f.style) for f in para.frags] == frags
        assert (para.chars, para.linked) == (chars, linked)


class TestContainerParserProperties:
    """Build → parse roundtrip laws for the real BMP/WAV parsers."""

    @given(
        w=st.integers(min_value=1, max_value=512),
        h=st.integers(min_value=1, max_value=256),
        bpp=st.sampled_from([1, 4, 8, 16, 24, 32]),
        fill=st.integers(min_value=0, max_value=255),
    )
    @settings(max_examples=60, deadline=None)
    def test_bmp_roundtrip(self, w, h, bpp, fill):
        from tesserocr_spark.multimodal import make_bmp, parse_bmp

        m = parse_bmp(make_bmp(w, h, bpp, fill))
        assert m is not None
        assert (m["width"], m["height"], m["bpp"]) == (w, h, bpp)
        assert m["n_frames"] == 1

    @given(
        ch=st.integers(min_value=1, max_value=8),
        rate=st.integers(min_value=1, max_value=192000),
        bits=st.sampled_from([8, 16, 24, 32]),
        frames=st.integers(min_value=0, max_value=4096),
    )
    @settings(max_examples=60, deadline=None)
    def test_wav_roundtrip(self, ch, rate, bits, frames):
        from tesserocr_spark.multimodal import make_wav, parse_wav

        m = parse_wav(make_wav(ch, rate, bits, frames))
        assert m is not None
        assert (m["n_channels"], m["sample_rate"], m["bpp"]) == (ch, rate, bits)
        assert m["n_frames"] == frames

    @given(
        w=st.integers(min_value=1, max_value=64),
        h=st.integers(min_value=1, max_value=32),
        ct=st.sampled_from([0, 2, 3, 4, 6]),
        interlace=st.booleans(),
        data=st.data(),
    )
    @settings(max_examples=60, deadline=None)
    def test_png_roundtrip_and_pixel_decode(self, w, h, ct, interlace, data):
        """Build → parse → full pixel decode: random pixel content survives
        deflate + the five scanline filters bit-exactly (heights >= 5
        exercise every filter type via make_png's y % 5 rule), in both the
        sequential and Adam7-interlaced layouts (small dims exercise empty
        passes)."""
        from tesserocr_spark.multimodal import (
            _PNG_CHANNELS,
            decode_png_pixels,
            make_png,
            parse_png,
        )

        ch = _PNG_CHANNELS[ct]
        pixels = bytes(
            data.draw(st.integers(min_value=0, max_value=255))
            for _ in range(min(w * h * ch, 64))
        )
        pixels = (pixels * (w * h * ch // max(1, len(pixels)) + 1))[: w * h * ch]
        png = make_png(w, h, ct, pixels, interlace=interlace)
        m = parse_png(png)
        assert m is not None
        assert (m["width"], m["height"], m["n_channels"]) == (w, h, ch)
        assert m["bpp"] == 8 * ch and m["format"] == "png"
        assert decode_png_pixels(png) == pixels

    @given(
        png_params=st.tuples(
            st.integers(min_value=1, max_value=48),
            st.integers(min_value=5, max_value=24),
        ),
        flip=st.integers(min_value=0, max_value=10**6),
    )
    @settings(max_examples=60, deadline=None)
    def test_png_single_bitflip_in_ihdr_region_never_misparses(self, png_params, flip):
        """Corrupt one bit anywhere in the signature/IHDR region: the
        parser must either reject (CRC/signature) or — when the flip lands
        in the CRC'd-but-recomputable region — never crash. decode_media
        always falls back cleanly."""
        from tesserocr_spark.multimodal import decode_media, make_png

        png = bytearray(make_png(*png_params, 2))
        idx = flip % 33  # signature (8) + IHDR chunk (25)
        png[idx] ^= 1 << (flip % 8)
        m = decode_media(bytes(png))  # must not raise
        assert m["n_bytes"] == len(png)

    @given(blob=st.binary(max_size=200))
    @settings(max_examples=80, deadline=None)
    def test_arbitrary_bytes_never_crash_decode(self, blob):
        """decode_media never raises on arbitrary input — malformed blobs
        fall back to the deterministic stub (a 100 TB scan must not die
        on one bad payload)."""
        from tesserocr_spark.multimodal import decode_media

        m = decode_media(blob)
        assert m["format"] in (
            "bmp", "png", "jpeg", "wav", "mp4", "gif", "pnm", "raw"
        )
        assert m["n_bytes"] == len(blob)

    @given(
        w=st.integers(min_value=1, max_value=48),
        h=st.integers(min_value=1, max_value=24),
        interlace=st.booleans(),
        data=st.data(),
    )
    @settings(max_examples=60, deadline=None)
    def test_gif_roundtrip_and_lzw_pixel_decode(self, w, h, interlace, data):
        """Build → parse → full LZW pixel decode: random palette indices
        survive the from-scratch LZW encode/decode bit-exactly (the
        gradient default is NOT used here, so the codec can't pattern-match
        its way to a pass); interlaced storage must de-interlace back to
        the same display-order pixels."""
        from tesserocr_spark.multimodal import (
            decode_gif_pixels,
            make_gif,
            parse_gif,
        )

        seed = bytes(
            data.draw(st.integers(min_value=0, max_value=255))
            for _ in range(min(w * h, 64))
        )
        pixels = (seed * (w * h // max(1, len(seed)) + 1))[: w * h]
        gif = make_gif(w, h, pixels, interlace=interlace)
        m = parse_gif(gif)
        assert m is not None
        assert (m["width"], m["height"], m["bpp"]) == (w, h, 8)
        assert m["n_frames"] == 1 and m["format"] == "gif"
        assert decode_gif_pixels(gif) == pixels

    def test_gif_interlace_row_order_is_appendix_e(self):
        """The four-pass order for height 10 straight from GIF89a
        Appendix E: rows 0,8 then 4 then 2,6 then odd rows."""
        from tesserocr_spark.multimodal import _gif_interlaced_row_order

        assert _gif_interlaced_row_order(10) == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
        assert _gif_interlaced_row_order(1) == [0]

    @given(data=st.binary(max_size=600), runs=st.data())
    @settings(max_examples=60, deadline=None)
    def test_packbits_roundtrip(self, data, runs):
        """PackBits decode(encode(x)) == x for arbitrary data and for
        run-heavy data (both RLE branches)."""
        from tesserocr_spark.multimodal import (
            _packbits_decode,
            _packbits_encode,
        )

        heavy = b"".join(
            bytes([runs.draw(st.integers(0, 255))])
            * runs.draw(st.integers(1, 300))
            for _ in range(4)
        )
        for stream in (data, heavy, data + heavy):
            assert _packbits_decode(_packbits_encode(stream)) == stream

    @given(data=st.binary(min_size=0, max_size=3000))
    @settings(max_examples=40, deadline=None)
    def test_lzw_roundtrip_crosses_width_boundaries(self, data):
        """decode(encode(x)) == x for arbitrary byte strings, including
        ones long enough to push the code width through the 512/1024
        boundaries and (via the repetition amplifier) the KwKwK case."""
        from tesserocr_spark.multimodal import _lzw_decode, _lzw_encode

        for stream in (data, data * 3, data[:16] * 200):
            assert _lzw_decode(_lzw_encode(stream, 8), 8) == stream

    @given(data=st.binary(min_size=1, max_size=120))
    @settings(max_examples=40, deadline=None)
    def test_lzw_decoder_against_independent_degenerate_encoder(self, data):
        """Cross-check the decoder against a SECOND, independently-written
        encoder that emits CLEAR before every literal (so the table never
        grows and every code is 9 bits): a decoder defect in packing or
        clear handling can't cancel against the main encoder's."""
        from tesserocr_spark.multimodal import _lzw_decode

        clear, eoi, width = 256, 257, 9
        acc = nbits = 0
        out = bytearray()
        for code in [c for b in data for c in (clear, b)] + [eoi]:
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            out.append(acc & 0xFF)
        assert _lzw_decode(bytes(out), 8) == data

    @given(
        w=st.integers(min_value=1, max_value=64),
        h=st.integers(min_value=1, max_value=32),
        kind=st.sampled_from([5, 6]),
    )
    @settings(max_examples=60, deadline=None)
    def test_pnm_roundtrip_and_raster_decode(self, w, h, kind):
        from tesserocr_spark.multimodal import (
            decode_pnm_pixels,
            make_pnm,
            parse_pnm,
        )

        ch = 3 if kind == 6 else 1
        pnm = make_pnm(w, h, kind)
        m = parse_pnm(pnm)
        assert m is not None
        assert (m["width"], m["height"], m["n_channels"]) == (w, h, ch)
        assert m["bpp"] == 8 * ch and m["format"] == "pnm"
        px = decode_pnm_pixels(pnm)
        assert px == bytes(
            (3 * x + 7 * y + 11 * c) % 256
            for y in range(h) for x in range(w) for c in range(ch)
        )

    def test_pnm_header_grammar_edges(self):
        """Comments between any tokens, CR/LF/tab/space separators, a
        comment character inside the raster, P4 parse-only, maxval gate."""
        from tesserocr_spark.multimodal import (
            decode_pnm_pixels,
            parse_pnm,
        )

        m = parse_pnm(b"P5 #c\n\t2\r\n# x y\n 3\n255\n" + bytes(6))
        assert m and (m["width"], m["height"]) == (2, 3)
        # raster may legitimately start with '#' — only ONE whitespace byte
        # after maxval is header
        m = parse_pnm(b"P5\n1 1\n255\n" + b"#")
        assert m and decode_pnm_pixels(b"P5\n1 1\n255\n" + b"#") == b"#"
        m4 = parse_pnm(b"P4\n9 2\n" + bytes(4))
        assert m4 and m4["bpp"] == 1 and m4["n_channels"] == 1
        assert decode_pnm_pixels(b"P4\n9 2\n" + bytes(4)) is None
        assert parse_pnm(b"P5\n1 1\n65535\n" + bytes(2)) is None  # 16-bit
        assert parse_pnm(b"P5\n1 1\n255\n") is None  # raster truncated
        assert parse_pnm(b"P7\n1 1\n255\n" + bytes(3)) is None  # PAM

    @given(
        w=st.integers(min_value=1, max_value=48),
        h=st.integers(min_value=1, max_value=24),
        data=st.data(),
    )
    @settings(max_examples=40, deadline=None)
    def test_jpeg_dc_only_roundtrip_is_exact(self, w, h, data):
        """Per-8x8-block-constant pixels survive the full DCT → flat-8
        quantize → Huffman → decode chain BIT-EXACTLY (DC-only blocks,
        quantizer divides the DC scale) — the law the multimodal_jpeg
        oracle relies on; random block values, partial edge blocks
        included."""
        from tesserocr_spark.multimodal import (
            decode_jpeg_pixels,
            make_jpeg_baseline,
            parse_jpeg,
        )

        nbx, nby = -(-w // 8), -(-h // 8)
        blocks = [
            [data.draw(st.integers(min_value=0, max_value=255))
             for _ in range(nbx)]
            for _ in range(nby)
        ]
        px = bytes(
            blocks[y // 8][x // 8] for y in range(h) for x in range(w)
        )
        j = make_jpeg_baseline(w, h, px)
        m = parse_jpeg(j)
        assert m and (m["width"], m["height"], m["n_channels"]) == (w, h, 1)
        assert decode_jpeg_pixels(j) == px

    @given(
        w=st.integers(min_value=1, max_value=32),
        h=st.integers(min_value=1, max_value=24),
        data=st.data(),
    )
    @settings(max_examples=30, deadline=None)
    def test_jpeg_arbitrary_content_within_quantization_error(self, w, h, data):
        """Arbitrary pixel content round-trips within the flat-8
        quantizer's error envelope — each of 64 coefficients may be off
        by q/2=4 and errors can align across the IDCT basis on structured
        (tiled) content, so the per-pixel cap is loose (24) while the
        mean must stay tight (<= 4; random garbage would give ~85). The
        decoder's Huffman / dequant / IDCT path is exercised with dense
        AC coefficients."""
        from tesserocr_spark.multimodal import (
            decode_jpeg_pixels,
            make_jpeg_baseline,
        )

        seed = bytes(
            data.draw(st.integers(min_value=0, max_value=255))
            for _ in range(min(w * h, 64))
        )
        px = (seed * (w * h // max(1, len(seed)) + 1))[: w * h]
        out = decode_jpeg_pixels(make_jpeg_baseline(w, h, px))
        assert out is not None and len(out) == w * h
        errs = [abs(a - b) for a, b in zip(px, out)]
        assert max(errs) <= 24
        assert sum(errs) / len(errs) <= 4

    @given(
        w=st.integers(min_value=1, max_value=48),
        h=st.integers(min_value=1, max_value=24),
        ri=st.sampled_from([1, 2, 3, 7]),
        data=st.data(),
    )
    @settings(max_examples=40, deadline=None)
    def test_jpeg_restart_markers_roundtrip(self, w, h, ri, data):
        """DRI/RSTm streams (byte-aligned markers, cyclic m, DC predictor
        reset) decode to exactly what the marker-free stream decodes to —
        for DC-only content that means bit-exact."""
        from tesserocr_spark.multimodal import (
            decode_jpeg_pixels,
            make_jpeg_baseline,
        )

        nbx, nby = -(-w // 8), -(-h // 8)
        blocks = [
            [data.draw(st.integers(min_value=0, max_value=255))
             for _ in range(nbx)]
            for _ in range(nby)
        ]
        px = bytes(
            blocks[y // 8][x // 8] for y in range(h) for x in range(w)
        )
        j = make_jpeg_baseline(w, h, px, restart_interval=ri)
        assert b"\xff\xdd" in j  # DRI present
        assert decode_jpeg_pixels(j) == px

    def test_jpeg_decoder_against_hand_assembled_stream(self):
        """Ground the decoder against SPEC-derived bits, independent of
        the encoder: one 8x8 block, DC diff +5, hand-coded with the
        Annex K DC table (canonical codes: category 3 -> '100', value
        bits '101') and a single-symbol EOB AC table (one len-2 code
        '00'), MSB-first -> exactly one byte 0x94. Quantizer 8
        means DC 5 -> dequantized 40 -> IDCT constant 40/8 + 128 = 133.
        A decoder defect in code reconstruction, EXTEND, bit order, or
        the IDCT scale cannot cancel against the encoder's."""
        import struct

        from tesserocr_spark.multimodal import (
            _JPEG_DC_BITS,
            _JPEG_DC_VALS,
            decode_jpeg_pixels,
        )

        def seg(marker, body):
            return bytes((0xFF, marker)) + struct.pack(">H", 2 + len(body)) + body

        ac_bits = [0, 1] + [0] * 14  # one len-2 code: EOB = '00'
        dht = (
            bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
            + bytes([0x10]) + bytes(ac_bits) + bytes([0x00])
        )
        jpeg = (
            b"\xff\xd8"
            + seg(0xDB, bytes([0x00]) + bytes([8]) * 64)
            + seg(0xC4, dht)
            + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes((1, 0x11, 0)))
            + seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
            # bits: DC cat3 '100' + value '101' + EOB '00' + 1-padding
            + bytes([0b10010100, 0b11111111, 0x00])  # stuffed 0xFF
            + b"\xff\xd9"
        )
        out = decode_jpeg_pixels(jpeg)
        assert out == bytes([133]) * 64

    @given(flip=st.integers(min_value=0, max_value=10**6))
    @settings(max_examples=60, deadline=None)
    def test_jpeg_single_bitflip_never_crashes(self, flip):
        """Corrupt one bit anywhere in a real baseline JPEG (tables,
        marker lengths, entropy stream alike): decode must reject or
        return a frame matching whatever geometry the (possibly
        corrupted) SOF declares, never raise — a flip in the height
        field legitimately yields a smaller frame."""
        from tesserocr_spark.multimodal import (
            decode_jpeg_pixels,
            decode_media,
            make_jpeg_baseline,
            parse_jpeg,
        )

        px = bytes((5 * (x // 8) + 9 * (y // 8)) % 256
                   for y in range(10) for x in range(19))
        j = bytearray(make_jpeg_baseline(19, 10, px))
        idx = flip % len(j)
        j[idx] ^= 1 << (flip % 8)
        decode_media(bytes(j))  # must not raise
        m = parse_jpeg(bytes(j))
        out = decode_jpeg_pixels(bytes(j))
        assert out is None or (
            m is not None and len(out) == m["width"] * m["height"]
        )

    @pytest.mark.parametrize("restart_interval", [0, 3])
    def test_jpeg_every_bitflip_and_truncation_never_raises(self, restart_interval):
        """Exhaustive hostile-bytes sweep of one small baseline JPEG, with
        and without restart markers: every single-bit flip and every prefix
        truncation (~3,000 decodes each) rejects or returns a frame of the
        geometry its (possibly corrupted) SOF declares — never raises — and
        the intact payload still decodes to its exact DC-only pixels."""
        from tesserocr_spark.multimodal import (
            decode_jpeg_pixels,
            make_jpeg_baseline,
            parse_jpeg,
        )

        px = bytes((5 * (x // 8) + 9 * (y // 8)) % 256
                   for y in range(9) for x in range(17))
        j = make_jpeg_baseline(17, 9, px, restart_interval=restart_interval)
        assert decode_jpeg_pixels(j) == px
        variants = [j[:k] for k in range(len(j))]
        for bit in range(8 * len(j)):
            flipped = bytearray(j)
            flipped[bit // 8] ^= 1 << (bit % 8)
            variants.append(bytes(flipped))
        for v in variants:
            out = decode_jpeg_pixels(v)
            if out is not None:
                m = parse_jpeg(v)
                assert m is not None and len(out) == m["width"] * m["height"]

    @pytest.mark.parametrize("codec", ["png", "gif", "tiff", "pnm", "wav"])
    def test_stats_kernel_every_bitflip_and_truncation_keeps_row_law(
        self, codec
    ):
        """Exhaustive hostile-bytes sweep of each other decoding stats
        kernel: one small fixture, every prefix truncation and every
        single-bit flip, all in one batch. The kernel never raises and
        emits exactly one row per payload (TIFF: at least one, one per
        page), and the intact fixture still decodes."""
        import pandas as pd

        from tesserocr_spark import multimodal as mm

        kernel, good = {
            "png": (mm.pixel_stats_map, mm.make_png(5, 3, interlace=True)),
            "gif": (mm.gif_stats_map, mm.make_gif(5, 3, interlace=True)),
            "tiff": (mm.tiff_stats_map,
                     mm.make_tiff(5, 3, 2, rows_per_strip=2,
                                  compression=32773)),
            "pnm": (mm.pnm_stats_map, mm.make_pnm(5, 3)),
            "wav": (mm.audio_stats_map, mm.make_wav(2, 8000, 16, 9)),
        }[codec]
        variants = [good] + [good[:k] for k in range(len(good))]
        for bit in range(8 * len(good)):
            flipped = bytearray(good)
            flipped[bit // 8] ^= 1 << (bit % 8)
            variants.append(bytes(flipped))
        batch = pd.DataFrame({
            "doc_id": pd.Series(range(len(variants)), dtype="int64"),
            "payload": variants,
        })
        out = pd.concat(list(kernel(iter([batch]))))
        per_doc = out.doc_id.value_counts()
        assert sorted(per_doc.index) == list(range(len(variants)))
        assert (per_doc >= 1).all() if codec == "tiff" else (per_doc == 1).all()
        intact = out[out.doc_id == 0].drop(columns="doc_id")
        assert (intact.values != 0).any(axis=1).all()

    @pytest.mark.parametrize("codec", ["bmp", "mp4"])
    def test_parse_only_header_every_bitflip_and_truncation_keeps_law(self, codec):
        """Exhaustive hostile-bytes sweep of the two parse-only containers:
        every prefix truncation and every single-bit flip of one small
        fixture. The parser never raises, each payload parses in
        milliseconds, and any header it accepts keeps the parser's law
        (BMP: positive bounded geometry, a carried bit depth and a pixel
        array inside the buffer; MP4: bounded dimensions, at least one
        track and a timescale); ``decode_media`` still returns one row."""
        import struct
        import time

        from tesserocr_spark import multimodal as mm

        parse, good = {
            "bmp": (mm.parse_bmp, mm.make_bmp(5, 3, 24, 7)),
            "mp4": (mm.parse_mp4, mm.make_mp4(8, 4, 90000, 7, 2)),
        }[codec]

        def law(v: bytes, m: dict) -> bool:
            common = (m["format"] == codec and m["n_bytes"] == len(v)
                      and 0 <= m["width"] <= 1 << 20 and 0 <= m["height"] <= 1 << 20)
            if codec == "mp4":
                return (common and m["bpp"] == 0 and m["n_channels"] >= 1
                        and m["sample_rate"] is not None and m["n_frames"] is not None)
            stride = ((m["width"] * m["bpp"] + 31) // 32) * 4
            pixel_off = struct.unpack_from("<I", v, 10)[0]
            return (common and m["width"] > 0 and m["height"] > 0
                    and m["bpp"] in (1, 4, 8, 16, 24, 32)
                    and m["n_channels"] == (3 if m["bpp"] >= 16 else 1)
                    and m["n_frames"] == 1
                    and pixel_off + stride * m["height"] <= len(v))

        assert law(good, parse(good))
        variants = [good[:k] for k in range(len(good))]
        for bit in range(8 * len(good)):
            flipped = bytearray(good)
            flipped[bit // 8] ^= 1 << (bit % 8)
            variants.append(bytes(flipped))
        slowest = 0.0
        for v in variants:
            t0 = time.perf_counter()
            m = parse(v)
            slowest = max(slowest, time.perf_counter() - t0)
            assert m is None or law(v, m), (v, m)
            assert mm.decode_media(v)["n_bytes"] == len(v)
        assert slowest < 0.05, slowest

    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=24),
        n_pages=st.integers(min_value=1, max_value=4),
        rps=st.sampled_from([1, 3, 8, 64]),
        comp=st.sampled_from([1, 32773]),
    )
    @settings(max_examples=50, deadline=None)
    def test_tiff_multipage_roundtrip(self, w, h, n_pages, rps, comp):
        """Build → parse → per-page raster decode across the IFD chain,
        with every strip layout (1 row/strip to single-strip), both
        uncompressed and PackBits strips."""
        from tesserocr_spark.multimodal import (
            decode_tiff_pixels,
            make_tiff,
            parse_tiff,
        )

        t = make_tiff(w, h, n_pages, rows_per_strip=rps, compression=comp)
        m = parse_tiff(t)
        assert m is not None
        assert (m["width"], m["height"], m["n_frames"]) == (w, h, n_pages)
        assert m["bpp"] == 8 and m["format"] == "tiff"
        for p in range(n_pages):
            assert decode_tiff_pixels(t, p) == bytes(
                (3 * x + 7 * y + 13 * p) % 256
                for y in range(h) for x in range(w)
            )
        assert decode_tiff_pixels(t, n_pages) is None

    def test_tiff_big_endian_hand_built(self):
        """A hand-built MM (big-endian) single-page TIFF parses with the
        same laws — the byte-order switch is real, not II-only."""
        import struct

        from tesserocr_spark.multimodal import decode_tiff_pixels, parse_tiff

        raster = bytes((x + 2 * y) % 256 for y in range(3) for x in range(5))
        out = bytearray(b"MM\x00*" + struct.pack(">I", 8 + len(raster)))
        out += raster
        entries = [
            (256, 4, 1, 5), (257, 4, 1, 3), (258, 3, 1, 8), (259, 3, 1, 1),
            (273, 4, 1, 8), (277, 3, 1, 1), (278, 4, 1, 64),
            (279, 4, 1, len(raster)),
        ]
        out += struct.pack(">H", len(entries))
        for tag, ftype, count, value in entries:
            out += struct.pack(">HHI", tag, ftype, count)
            out += struct.pack(">I", value) if ftype == 4 else struct.pack(
                ">HH", value, 0
            )
        out += b"\x00\x00\x00\x00"
        m = parse_tiff(bytes(out))
        assert m and (m["width"], m["height"], m["n_frames"]) == (5, 3, 1)
        assert decode_tiff_pixels(bytes(out)) == raster

    @given(flip=st.integers(min_value=0, max_value=10**6))
    @settings(max_examples=60, deadline=None)
    def test_tiff_single_bitflip_never_crashes(self, flip):
        from tesserocr_spark.multimodal import (
            decode_media,
            decode_tiff_pixels,
            make_tiff,
        )

        t = bytearray(make_tiff(11, 7, 2))
        idx = flip % len(t)
        t[idx] ^= 1 << (flip % 8)
        decode_media(bytes(t))  # must not raise
        decode_tiff_pixels(bytes(t), 0)
        decode_tiff_pixels(bytes(t), 1)

    @given(flip=st.integers(min_value=0, max_value=10**6))
    @settings(max_examples=60, deadline=None)
    def test_gif_single_bitflip_never_crashes(self, flip):
        """Corrupt one bit anywhere in a valid GIF (header, color table,
        LZW stream alike): parse/decode must reject or succeed, never
        raise — the never-dies law under the codec tier too."""
        from tesserocr_spark.multimodal import decode_gif_pixels, decode_media, make_gif

        gif = bytearray(make_gif(17, 9))
        idx = flip % len(gif)
        gif[idx] ^= 1 << (flip % 8)
        decode_media(bytes(gif))  # must not raise
        px = decode_gif_pixels(bytes(gif))
        assert px is None or len(px) == 17 * 9


# -- connected components: every edge budget gives the same labels ------------

def _union_find_labels(edges):
    """(node, component minimum) over the non-loop edges."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


_PATH = [(i, i + 1) for i in range(16)]
_CLIQUE = [(a, b) for a in range(8) for b in range(a + 1, 8)]


@given(
    edges=st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=30),
    typ=st.sampled_from(["int", "bigint"]),
)
@example(edges=[], typ="int")
@example(edges=[], typ="bigint")
@example(edges=[(b, a) for a, b in reversed(_PATH)], typ="bigint")
@example(edges=_CLIQUE, typ="int")
@example(edges=[(0, i) for i in range(1, 20)] + [(40, i) for i in range(21, 40)], typ="int")
@example(edges=[(1, 1), (2, 3), (3, 2), (2, 3), (5, 5), (5, 6), (6, 5), (7, 7)], typ="bigint")
@example(edges=[(2**40 + 1, 2**40), (2**40 + 1, 3), (2**62, 5)], typ="bigint")
@settings(max_examples=4, deadline=None)
def test_connected_components_same_at_every_budget(spark, edges, typ):
    """Pure star contraction (``local_edges=0``), a budget one below the
    distinct edge count (at least one distributed round, then either path)
    and the default budget's driver finish give the same (node, label) set
    as union-find, with one schema typed like the input columns — also for
    an empty edge list."""
    from tesserocr_spark.queries.dedup import connected_components

    df = spark.createDataFrame(edges, f"src {typ}, dst {typ}")
    n = len({(max(a, b), min(a, b)) for a, b in edges if a != b})
    outs = [connected_components(df, **kw)
            for kw in ({"local_edges": 0}, {"local_edges": max(n - 1, 0)}, {})]
    want = _union_find_labels(edges)
    for out in outs:
        assert out.schema == outs[0].schema
        assert [f.name for f in out.schema] == ["node", "label"]
        assert [f.dataType.simpleString() for f in out.schema] == [typ, typ]
        assert {tuple(r) for r in out.collect()} == want


def test_connected_components_local_finish_after_a_round(spark, monkeypatch):
    """The 8-clique's 28 edges exceed budget 27; one star round contracts
    them to a 7-edge star, which the driver then finishes."""
    from tesserocr_spark.queries import dedup

    seen = []
    finish = dedup._local_components

    def spy(E):
        seen.append(E.count())
        return finish(E)

    monkeypatch.setattr(dedup, "_local_components", spy)
    df = spark.createDataFrame(_CLIQUE, "src long, dst long")
    labels = {tuple(r) for r in dedup.connected_components(df, local_edges=27).collect()}
    assert seen == [7]
    assert labels == {(n, 0) for n in range(8)}
