"""The extraction engine core — everything the reference does inside
``Recognize`` (tesserocr/tesserocr.pyx:2136-2163), re-expressed for HTML.

Pure Python, Spark-free, one document per call: the vectorized pandas UDF
(``tesserocr_spark.udf``) batches this over Arrow chunks; the pytest fixture
generator calls it directly. Keeping a single implementation is what makes
the byte-identity gate (BASELINE.json ``north_rule``) meaningful.

Frozen output laws (shared with fold.py, FIXTURES.md §2):

* words joined by ``blanks`` spaces — 0 at line start, 1 otherwise
  (BlanksBeforeWord, tesserocr/tesserocr.pyx:965-968);
* line separator ``"\\n"``; paragraph separator an additional ``"\\n"``
  (GetUTF8Text separators, tesserocr/tesserocr.pyx:862-870) — i.e. paragraphs
  are separated by a blank line and the document ends with one ``"\\n"``;
* span ids are reading-order, within-parent, content-derived — never
  dependent on partition layout;
* bbox is char-grid geometry: ``y`` = global line index in reading order,
  ``x`` = column within the line; parents are exact envelopes of children;
* word confidence is the frozen deterministic formula
  ``conf = 95.0 - ((3 * len(word)) % 11)`` (a stand-in for OCR confidence
  that is reproducible in ANSI SQL for the DuckDB oracle); higher levels
  average their words; ``MeanTextConf`` truncates to int
  (tesserocr/tesserocr.pyx:2499-2501);
* word separators are exactly the five chars of the Java-regex ∩ RE2
  ``\\s`` intersection — space ``\\t \\n \\r \\f`` (segment.py
  ``_ASCII_WS``); ``\\v`` (RE2 ``\\s`` excludes it) and Unicode spaces
  (U+3000, U+00A0, …) are word characters by law (r04);
* OSD script = per-codepoint Unicode-range counts over the text, winner by
  max count with alphabetical tie-break, config-lang fallback when no
  letter classifies (core/osd.py; SQL twin ``registry.SQL_SCRIPT``).
"""

from __future__ import annotations

import re
import unicodedata
from typing import NamedTuple

from ..config import DEFAULT_CONFIG, ExtractorConfig
from ..constants import PSM, PT, RIL
from .osd import detect_os
from .segment import Block, group_blocks, parse_paragraphs

_NUMERIC_RE = re.compile(r"^[0-9][0-9.,:%/-]*$")

#: span flag bits
FLAG_SUPERSCRIPT = 1
FLAG_SUBSCRIPT = 2
FLAG_NUMERIC = 4
FLAG_RTL = 8
FLAG_BOILERPLATE = 32
FLAG_BOLD = 64
FLAG_ITALIC = 128
FLAG_MONO = 256

#: char-level style bits (AND-folded into word flags; per-char at SYMBOL)
STYLE_MASK = FLAG_SUPERSCRIPT | FLAG_SUBSCRIPT | FLAG_BOLD | FLAG_ITALIC | FLAG_MONO


def word_conf(word: str) -> float:
    """Frozen per-word pseudo-confidence; SQL mirror:
    ``95.0 - ((3 * length(word)) % 11)``."""
    return 95.0 - ((3 * len(word)) % 11)


def word_flags(word: str, base: int) -> int:
    fl = base
    if _NUMERIC_RE.match(word):
        fl |= FLAG_NUMERIC
    ch = word[0]
    if unicodedata.bidirectional(ch) in ("R", "AL"):
        fl |= FLAG_RTL
    return fl


#: word -> (word_conf, content-derived flag bits) — both pure functions of
#: the word, so the cache preserves byte identity; bounded for adversarial
#: vocabularies (Zipf text hits it constantly)
_WATTR_CACHE: dict[str, tuple] = {}
_WATTR_CACHE_MAX = 1 << 17

#: span counts of a document with no spans (see ``Extractor._emit``)
_NO_SPANS = (0, 0, 0, 0, 0, 0)


def _word_attrs(word: str) -> tuple:
    """Insert and return the ``_WATTR_CACHE`` entry of ``word`` (the miss
    path: ``_emit`` looks hits up inline)."""
    if len(_WATTR_CACHE) >= _WATTR_CACHE_MAX:
        _WATTR_CACHE.clear()
    # delegate to the public frozen-law functions so a lockstep change
    # there can never drift from the hot path (misses are cold)
    ent = (word_conf(word), word_flags(word, 0))
    _WATTR_CACHE[word] = ent
    return ent


class Span(NamedTuple):
    """One span of the hierarchy. A NamedTuple (not a dict) so the Arrow
    conversion in the vectorized UDF maps fields positionally — measurably
    cheaper than per-span dicts at corpus scale. ``bbox`` is the plain tuple
    ``(x0, y0, x1, y1)`` in char-grid geometry."""

    level: int
    block_id: int
    para_id: int
    line_id: int
    word_id: int
    symbol_id: int
    block_type: int
    text: str | None
    conf: float
    blanks: int
    bbox: tuple
    flags: int


def as_span(obj) -> Span:
    """Coerce a Spark Row / dict / tuple back into a Span (sinks path)."""
    if isinstance(obj, Span):
        return obj
    if type(obj) is tuple and len(obj) == 12:
        # raw positional span from the hot path — exact-type check so
        # pyspark Row (a tuple subclass with arbitrary field order) still
        # takes the by-name asDict branch below
        return Span._make(obj)
    if isinstance(obj, dict):
        b = obj["bbox"]
        bbox = (b["x0"], b["y0"], b["x1"], b["y1"]) if isinstance(b, dict) else tuple(b)
        return Span(obj["level"], obj["block_id"], obj["para_id"], obj["line_id"],
                    obj["word_id"], obj["symbol_id"], obj["block_type"], obj["text"],
                    obj["conf"], obj["blanks"], bbox, obj["flags"])
    # pyspark Row supports asDict
    return as_span(obj.asDict(recursive=True))


class ExtractedDoc:
    """Result of extracting one document (the PAGE_RES analogue).

    ``raw_spans`` holds plain 12-tuples in Span field order — the vectorized
    UDFs consume them positionally, and plain-tuple construction measures
    ~9x cheaper than NamedTuple construction over a corpus (the single
    hottest cost in the full-extraction path). ``spans`` is the typed Span
    view for serializers/tests (built lazily, cached)."""

    __slots__ = ("text", "raw_spans", "osd", "metrics", "_span_view")

    def __init__(self, text: str, raw_spans: list[tuple], osd: dict, metrics: dict) -> None:
        self.text = text
        self.raw_spans = raw_spans
        self.osd = osd
        self.metrics = metrics
        self._span_view: list[Span] | None = None

    @property
    def spans(self) -> list[Span]:
        if self._span_view is None:
            self._span_view = [Span._make(t) for t in self.raw_spans]
        return self._span_view


class Extractor:
    """One configured extraction engine (PyTessBaseAPI analogue,
    tesserocr/tesserocr.pyx:1186-2662). Stateless across documents — safe to
    share as a per-worker singleton inside the UDF (the instance-reuse tactic,
    reference README.rst:137-152)."""

    def __init__(self, config: ExtractorConfig | None = None) -> None:
        self.config = config or DEFAULT_CONFIG
        c = self.config
        self._max_link_density = c.get_double_variable("max_link_density")
        self._emit_symbols = c.get_bool_variable("emit_symbols")
        self._max_html_bytes = c.get_int_variable("max_html_bytes")
        self._blacklist = set(c.get_variable("tessedit_char_blacklist"))
        self._whitelist = set(c.get_variable("tessedit_char_whitelist"))

    # -- public API -----------------------------------------------------------

    def extract(
        self,
        html: bytes | str | None,
        region: tuple[int, int, int, int] | None = None,
    ) -> ExtractedDoc:
        """Segment + recognize one document (Recognize analogue).

        ``region=(left, top, width, height)`` restricts output to spans whose
        word boxes fall inside the char-grid rectangle (SetRectangle,
        tesserocr/tesserocr.pyx:1835-1847).
        """
        psm = self.config.psm
        text_in, truncated, html_bytes = self._decode(html)
        paragraphs = parse_paragraphs(text_in) if text_in else []
        blocks = group_blocks(paragraphs, self._max_link_density)
        blocks = self._apply_psm(blocks, psm)

        if psm == PSM.OSD_ONLY:
            osd = detect_os(_all_text(blocks), self.config.lang)
            return ExtractedDoc("", [], osd, self._metrics(html_bytes, _NO_SPANS, truncated))

        layout_only = psm == PSM.AUTO_ONLY
        spans, doc_text, counts = self._emit(blocks, layout_only, region)
        osd = detect_os(doc_text if not layout_only else _all_text(blocks), self.config.lang)
        return ExtractedDoc(doc_text, spans, osd, self._metrics(html_bytes, counts, truncated))

    def extract_text(self, html: bytes | str | None) -> str:
        """Text-only fast path (the ``image_to_text`` one-shot helper,
        tesserocr/tesserocr.pyx:2683-2732): identical output to
        ``extract(...).text`` but skips span materialization entirely."""
        psm = self.config.psm
        if psm == PSM.OSD_ONLY:
            return ""
        text_in, _truncated, _n = self._decode(html)
        paragraphs = parse_paragraphs(text_in) if text_in else []
        blocks = group_blocks(paragraphs, self._max_link_density)
        blocks = self._apply_psm(blocks, psm)
        blocks = self._resolve(blocks)
        if psm == PSM.AUTO_ONLY:
            return ""
        para_renders: list[str] = []
        for blk in blocks:
            if blk.is_image:
                continue
            for para in blk.paras:
                lines = [" ".join([t[0] for t in line]) for line in para if line]
                if lines:
                    para_renders.append("\n".join(lines) + "\n")
        return "\n".join(para_renders)

    # -- internals --------------------------------------------------------------

    def _decode(self, html: bytes | str | None) -> tuple[str, bool, int]:
        if html is None:
            return "", False, 0
        if isinstance(html, str):
            raw = html.encode("utf-8", "replace")
        else:
            raw = bytes(html)
        n = len(raw)
        truncated = n > self._max_html_bytes
        if truncated:
            raw = raw[: self._max_html_bytes]
        return raw.decode("utf-8", "replace"), truncated, n

    def _apply_psm(self, blocks: list[Block], psm: int) -> list[Block]:
        if psm in (PSM.AUTO, PSM.AUTO_OSD, PSM.AUTO_ONLY):
            return [b for b in blocks if not b.boiler]
        if psm == PSM.SINGLE_COLUMN:
            return blocks
        if psm in (PSM.SINGLE_BLOCK, PSM.SINGLE_BLOCK_VERT_TEXT):
            merged = Block(PT.FLOWING_TEXT, False, False)
            for b in blocks:
                if not b.is_image:
                    merged.paras.extend(b.paras)
            return [merged] if merged.paras else []
        if psm in (PSM.SINGLE_LINE, PSM.RAW_LINE):
            words = [item for b in blocks if not b.is_image
                     for para in b.paras for line in para for item in line]
            if not words:
                return []
            blk = Block(PT.FLOWING_TEXT, False, False)
            blk.paras = [[words]]
            return [blk]
        if psm in (PSM.SINGLE_WORD, PSM.CIRCLE_WORD, PSM.SINGLE_CHAR):
            for b in blocks:
                if b.is_image:
                    continue
                for para in b.paras:
                    for line in para:
                        if line:
                            w, fl, cfl = line[0]
                            if psm == PSM.SINGLE_CHAR:
                                w, cfl = w[0], cfl[:1]
                            blk = Block(PT.FLOWING_TEXT, False, False)
                            blk.paras = [[[(w, fl, cfl)]]]
                            return [blk]
            return []
        if psm in (PSM.SPARSE_TEXT, PSM.SPARSE_TEXT_OSD):
            out: list[Block] = []
            for b in blocks:
                if b.is_image:
                    out.append(b)
                    continue
                for para in b.paras:
                    nb = Block(PT.UNKNOWN, b.boiler, False)
                    nb.paras = [para]
                    out.append(nb)
            return out
        return [b for b in blocks if not b.boiler]  # OSD_ONLY handled by caller

    def _filter_word_chars(self, word: str, cfl: tuple) -> tuple[str, tuple]:
        if not self._blacklist and not self._whitelist:
            return word, cfl
        chars = []
        flags = []
        for c, f in zip(word, cfl):
            if self._blacklist and c in self._blacklist:
                continue
            if self._whitelist and c not in self._whitelist:
                continue
            chars.append(c)
            flags.append(f)
        return "".join(chars), tuple(flags)

    def _resolve(self, blocks: list[Block]) -> list[Block]:
        """Apply char blacklist/whitelist + min-length filtering to words.

        Words emptied by filtering are dropped silently (the AllWords
        contract, tesserocr/tesserocr.pyx:2537-2542); lines/paras/blocks
        emptied by that are dropped too.
        """
        min_chars = self.config.get_int_variable("min_text_chars")
        if not self._blacklist and not self._whitelist and min_chars <= 1:
            return blocks
        out: list[Block] = []
        for blk in blocks:
            if blk.is_image:
                out.append(blk)
                continue
            nb = Block(blk.block_type, blk.boiler, False)
            for para in blk.paras:
                np_ = []
                for line in para:
                    nl = []
                    for w, fl, cfl in line:
                        w2, cfl2 = self._filter_word_chars(w, cfl)
                        if w2 and len(w2) >= min_chars:
                            nl.append((w2, fl, cfl2))
                    if nl:
                        np_.append(nl)
                if np_:
                    nb.paras.append(np_)
            if nb.paras:
                out.append(nb)
        return out

    def _rect_filter(
        self, blocks: list[Block], region: tuple[int, int, int, int]
    ) -> list[Block]:
        """SetRectangle analogue (tesserocr/tesserocr.pyx:1835-1847): keep only
        words whose char-grid box (in the *unrestricted* document geometry)
        falls inside ``region=(left, top, width, height)``; ids and geometry of
        the surviving spans are then recomputed by the normal emission pass,
        exactly as the reference re-recognizes within the rectangle."""
        left, top, width, height = region
        rx0, ry0, rx1, ry1 = left, top, left + width, top + height
        out: list[Block] = []
        y = 0
        for blk in blocks:
            if blk.is_image:
                y += 1  # image block consumes one grid row; excluded from rect output
                continue
            nb = Block(blk.block_type, blk.boiler, False)
            for para in blk.paras:
                np_ = []
                for line in para:
                    col = 0
                    nl = []
                    for i, (w, _fl, _cfl) in enumerate(line):
                        col += 0 if i == 0 else 1
                        x0, x1 = col, col + len(w)
                        col = x1
                        if x0 >= rx0 and y >= ry0 and x1 <= rx1 and y + 1 <= ry1:
                            nl.append(line[i])
                    y += 1
                    if nl:
                        np_.append(nl)
                if np_:
                    nb.paras.append(np_)
            if nb.paras:
                out.append(nb)
        return out

    def _emit(
        self,
        blocks: list[Block],
        layout_only: bool,
        region: tuple[int, int, int, int] | None,
    ) -> tuple[list[tuple], str, tuple]:
        """Assign reading-order ids + char-grid geometry; build spans & text.

        Post-_resolve invariant: every text block has >=1 para, every para
        >=1 line, every line >=1 word — so within-parent ids are direct
        enumeration indices (content-derived, partition-independent).

        Also returns the span counts ``(blocks, paras, lines, words,
        symbols, boilerplate blocks)`` that ``_metrics`` reports.
        """
        blocks = self._resolve(blocks)
        if region is not None:
            blocks = self._rect_filter(blocks, region)
        # spans are PLAIN 12-tuples in Span field order (see ExtractedDoc):
        # NamedTuple construction dominated the profile at corpus scale
        spans: list[tuple] = []
        append = spans.append
        para_renders: list[str] = []
        y = 0
        block_id = -1
        n_paras = n_lines = n_words = n_symbols = n_boiler = 0
        emit_syms = self._emit_symbols and not layout_only
        wattrs = _WATTR_CACHE
        RWORD, RSYM, RLINE, RPARA, RBLOCK = (
            RIL.WORD, RIL.SYMBOL, RIL.TEXTLINE, RIL.PARA, RIL.BLOCK)

        for blk in blocks:
            bt = blk.block_type
            block_id += 1
            if blk.is_image:
                # non-text block: one imaginary para/line/word, no symbols
                # (Next() semantics, tesserocr/tesserocr.pyx:501-508)
                bb = (0, y, 0, y + 1)
                append((RBLOCK, block_id, -1, -1, -1, -1, bt, None, 0.0, 0, bb, 0))
                append((RPARA, block_id, 0, -1, -1, -1, bt, None, 0.0, 0, bb, 0))
                append((RLINE, block_id, 0, 0, -1, -1, bt, None, 0.0, 0, bb, 0))
                append((RWORD, block_id, 0, 0, 0, -1, bt, None, 0.0, 0, bb, 0))
                n_paras += 1
                n_lines += 1
                n_words += 1
                y += 1
                continue

            boiler_flag = FLAG_BOILERPLATE if blk.boiler else 0
            if boiler_flag:
                n_boiler += 1
            block_conf_sum = 0.0
            block_nw = 0
            block_y0 = y
            block_x1 = 0
            block_parts: list[str] = []
            bpos = len(spans)
            append(None)  # BLOCK placeholder, filled after children
            n_paras += len(blk.paras)
            for para_id, para in enumerate(blk.paras):
                para_conf_sum = 0.0
                para_nw = 0
                py0 = y
                px1 = 0
                ppos = len(spans)
                append(None)  # PARA placeholder
                para_lines: list[str] = []
                n_lines += len(para)
                for line_id, line in enumerate(para):
                    y1 = y + 1
                    col = -1
                    line_conf_sum = 0.0
                    lpos = len(spans)
                    append(None)  # LINE placeholder
                    for word_id, (wtext, wflags, wchar_flags) in enumerate(line):
                        x0 = col + 1  # one blank before every word but the first
                        col = x0 + len(wtext)
                        ent = wattrs.get(wtext) or _word_attrs(wtext)
                        cf = ent[0]
                        fl = ent[1] | wflags | boiler_flag
                        append((
                            RWORD, block_id, para_id, line_id, word_id, -1, bt,
                            None if layout_only else wtext, cf,
                            1 if word_id else 0, (x0, y, col, y1), fl))
                        line_conf_sum += cf
                        if emit_syms:
                            base = fl & ~STYLE_MASK
                            for si, ch in enumerate(wtext):
                                # per-symbol style from the char, other bits
                                # from the word (tesserocr.pyx:1018-1040)
                                append((
                                    RSYM, block_id, para_id, line_id, word_id,
                                    si, bt, ch, cf, 0,
                                    (x0 + si, y, x0 + si + 1, y1),
                                    base | (wchar_flags[si] & STYLE_MASK)))
                    nw = len(line)
                    n_words += nw
                    ltext = " ".join([w[0] for w in line])
                    if emit_syms:
                        n_symbols += len(ltext) - nw + 1
                    spans[lpos] = (
                        RLINE, block_id, para_id, line_id, -1, -1, bt,
                        None if layout_only else ltext, line_conf_sum / nw, 0,
                        (0, y, len(ltext), y1), boiler_flag)
                    para_conf_sum += line_conf_sum
                    para_nw += nw
                    para_lines.append(ltext)
                    if len(ltext) > px1:
                        px1 = len(ltext)
                    y = y1
                ptext = "\n".join(para_lines) + "\n"
                spans[ppos] = (
                    RPARA, block_id, para_id, -1, -1, -1, bt,
                    None if layout_only else ptext, para_conf_sum / para_nw,
                    0, (0, py0, px1, y), boiler_flag)
                block_conf_sum += para_conf_sum
                block_nw += para_nw
                block_parts.append(ptext)
                if px1 > block_x1:
                    block_x1 = px1
            para_renders += block_parts
            spans[bpos] = (
                RBLOCK, block_id, -1, -1, -1, -1, bt,
                None if layout_only else "".join(block_parts),
                block_conf_sum / block_nw, 0,
                (0, block_y0, block_x1, y), boiler_flag)

        doc_text = "" if layout_only else "\n".join(para_renders)
        counts = (block_id + 1, n_paras, n_lines, n_words, n_symbols, n_boiler)
        return spans, doc_text, counts

    def _metrics(self, html_bytes: int, counts: tuple, truncated: bool) -> dict:
        n_blocks, n_paras, n_lines, n_words, n_symbols, n_boiler = counts
        return {
            "html_bytes": html_bytes,
            "n_blocks": n_blocks,
            "n_paras": n_paras,
            "n_lines": n_lines,
            "n_words": n_words,
            "n_symbols": n_symbols,
            "n_boiler_blocks": n_boiler,
            "scale_factor": 1,  # GetThresholdedImageScaleFactor analogue
            "truncated": truncated,
        }


def _all_text(blocks: list[Block]) -> str:
    return " ".join(
        w for b in blocks if not b.is_image
        for para in b.paras for line in para for (w, _fl, _cfl) in line
    )
