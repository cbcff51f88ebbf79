"""HTML segmentation — the graft of Tesseract's page-layout analysis.

The reference segments a raster page into BLOCK -> PARA -> TEXTLINE -> WORD
-> SYMBOL regions (tesserocr/tesserocr.pyx:183-207) before recognizing text
in each. Here the "page" is an HTML document: a single streaming event pass
(the fast regex tokenizer in core/tokenizer.py, with ``html.parser`` as the
behavioral reference and fallback; no DOM materialization) collects *paragraphs*
(maximal inline-text runs) annotated with their region root, semantic tag,
link density and boilerplate ancestry; grouping consecutive paragraphs with
the same (region, type) yields *blocks*. Boilerplate stripping — the graft
of Tesseract separating text from non-text regions — removes blocks under
nav/header/footer/aside ancestors or whose link density exceeds
``max_link_density`` (text-density/link-density heuristic in the spirit of
Kohlschütter et al.'s boilerpipe, reimplemented from the published idea).

Everything here is pure Python and Spark-free so the vectorized UDF and the
pytest fixture generator share one implementation (byte-identity gate).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from itertools import islice

from ..constants import BLOCK_TAGS, BOILERPLATE_TAGS, PT, TAG_TO_PT
from .tokenizer import fast_feed

#: tags that establish a new block-grouping region.
REGION_TAGS = frozenset(
    "main article section nav header footer aside table figure ul ol dl "
    "blockquote body div form".split()
)

#: void/self-closing tags that never hold text.
_VOID_TAGS = frozenset("br img hr meta link input area base col embed source track wbr".split())

#: tag kind bits of the segmenter's behaviour table
_VOID, _BLOCK, _REGION, _BOILER = 1, 2, 4, 8
#: inline depth slots: a link counter, then one counter per style bit
#: (1=sup, 2=sub, 64=bold, 128=italic, 256=monospace)
_LINK_SLOT = 0
_SLOT_TAGS = (("a",), ("sup",), ("sub",), ("b", "strong"), ("i", "em"),
              ("code", "tt", "pre", "kbd", "samp"))
_SLOT_STYLE = (0, 1, 2, 64, 128, 256)
_NO_SLOT = -1


def _tag_table() -> dict[str, tuple[int, int]]:
    """tag -> (kind bits, depth slot): every tag the segmenter treats
    specially, so each start/end event costs one dict lookup."""
    slots = {t: i for i, tags in enumerate(_SLOT_TAGS) for t in tags}
    table = {}
    for tag in _VOID_TAGS | BLOCK_TAGS | REGION_TAGS | BOILERPLATE_TAGS | slots.keys():
        kind = ((_VOID if tag in _VOID_TAGS else 0) | (_BLOCK if tag in BLOCK_TAGS else 0)
                | (_REGION if tag in REGION_TAGS else 0)
                | (_BOILER if tag in BOILERPLATE_TAGS else 0))
        table[tag] = (kind, slots.get(tag, _NO_SLOT))
    return table


_TAG_TABLE = _tag_table()
_PLAIN_TAG = (0, _NO_SLOT)

#: FROZEN whitespace law: word separators are the FIVE chars of the
#: Java-regex ∩ RE2 ``\s`` intersection — space \t \n \r \f. RE2 (the
#: DuckDB oracle dialect) does NOT count \v as ``\s`` while Java does, so
#: \v is a word character BY LAW (r04 code-review finding; edge row 9015
#: locks it). Python's built-in str.split()/strip()/isspace() are
#: Unicode-aware (U+3000 ideographic space, U+00A0 nbsp, U+2028 …, and
#: \v), which silently diverges from the SQL engines — so those
#: codepoints are all word characters, not separators (r04 edge-oracle
#: finding, tests/test_edge_oracles.py rows 9012/9015).
_ASCII_WS = " \t\n\r\f"
_WS_SPLIT_RE = re.compile(r"[ \t\n\r\f]+")

#: sentinel style marking an explicit <br> fragment (data that merely
#: *contains* a newline is ordinary whitespace, not a line break)
_BR_STYLE = -1

#: tags whose subtree payload is never visible text (checked against the
#: open-tag stack in handle_data)
_SKIP_TAGS = frozenset(("script", "style", "noscript", "template", "title", "head"))

#: shared all-zero char-flag tuples keyed by word length (allocation saver)
_ZERO_CACHE: dict[int, tuple] = {}

#: unstyled word -> ((word, 0, zeros), sentence_end) — pure function of the
#: word, so caching preserves byte identity; bounded against adversarial
#: vocabularies (cleared wholesale, keeping amortized O(1))
_WORD_CACHE: dict[str, tuple] = {}
_WORD_CACHE_MAX = 1 << 17


def _zeros(n: int) -> tuple:
    t = _ZERO_CACHE.get(n)
    if t is None:
        t = (0,) * n
        _ZERO_CACHE[n] = t
    return t


def _cache_word(w: str) -> tuple:
    """Insert and return the ``_WORD_CACHE`` entry of a non-empty word."""
    if len(_WORD_CACHE) >= _WORD_CACHE_MAX:
        _WORD_CACHE.clear()
    ent = ((w, 0, _zeros(len(w))), len(w) > 1 and w[-1] in ".!?…")
    _WORD_CACHE[w] = ent
    return ent


class Fragment:
    """One run of character data with its inline context.

    ``style`` is the char-level style bitfield shared with extractor flags:
    1=sup, 2=sub, 64=bold, 128=italic, 256=monospace.
    """

    __slots__ = ("text", "link", "style")

    def __init__(self, text: str, link: bool, style: int) -> None:
        self.text = text
        self.link = link
        self.style = style


class RawParagraph:
    """A maximal inline-text run: the PARA-level segmentation unit.

    ``chars``/``linked`` count the fragments' characters after trimming
    ASCII whitespace, all and under a link; the segmenter adds them as it
    appends fragments, so link density needs no second walk."""

    __slots__ = ("tag", "region", "boiler", "frags", "is_image", "chars", "linked")

    def __init__(self, tag: str, region: int, boiler: bool, is_image: bool = False) -> None:
        self.tag = tag
        self.region = region
        self.boiler = boiler
        self.frags: list[Fragment] = []
        self.is_image = is_image
        self.chars = 0
        self.linked = 0

    def link_density(self) -> float:
        return (self.linked / self.chars) if self.chars else 0.0

    def pt_type(self) -> int:
        if self.is_image:
            return PT.FLOWING_IMAGE
        return TAG_TO_PT.get(self.tag, PT.FLOWING_TEXT)


class _Segmenter(HTMLParser):
    """Streaming collector of RawParagraphs (convert_charrefs decodes entities).

    Tag behaviour comes from ``_TAG_TABLE``. Inline context is one depth
    counter per slot; a close without a matching open leaves its counter at
    0 (tolerates unbalanced markup). The link flag and a slot's style bit
    change only when its counter enters or leaves 0."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.paragraphs: list[RawParagraph] = []
        self._stack: list[str] = []
        self._region_stack: list[int] = [0]
        self._region_counter = 0
        self._boiler_depth = 0
        self._depths = [0] * len(_SLOT_TAGS)
        self._link = False
        self._style = 0
        self._current: RawParagraph | None = None
        self._para_tag = "body"

    # -- paragraph lifecycle ------------------------------------------------

    def _flush(self) -> None:
        p = self._current
        if p is not None and (p.is_image or p.chars):
            self.paragraphs.append(p)
        self._current = None

    # -- HTMLParser hooks ----------------------------------------------------

    def handle_starttag(self, tag: str, attrs: list) -> None:
        kind, slot = _TAG_TABLE.get(tag, _PLAIN_TAG)
        if kind:
            if kind & _VOID:
                if tag == "br":
                    if self._current is not None:
                        self._current.frags.append(Fragment("\n", False, _BR_STYLE))
                elif tag == "img" or tag == "hr":
                    self._flush()
                    self.paragraphs.append(RawParagraph(
                        tag, self._region_stack[-1], self._boiler_depth > 0, is_image=True))
                return
            if kind & _BLOCK:
                self._flush()
                self._para_tag = tag
            if kind & _REGION:
                self._region_counter += 1
                self._region_stack.append(self._region_counter)
            if kind & _BOILER:
                self._boiler_depth += 1
        if slot != _NO_SLOT:
            depths = self._depths
            depths[slot] += 1
            if depths[slot] == 1:
                if slot == _LINK_SLOT:
                    self._link = True
                else:
                    self._style |= _SLOT_STYLE[slot]
        self._stack.append(tag)

    def handle_endtag(self, tag: str) -> None:
        kind, slot = _TAG_TABLE.get(tag, _PLAIN_TAG)
        if kind:
            if kind & _VOID:
                return
            if kind & _BLOCK:
                self._flush()
                self._para_tag = "body"
            if kind & _REGION and len(self._region_stack) > 1:
                self._region_stack.pop()
            if kind & _BOILER and self._boiler_depth > 0:
                self._boiler_depth -= 1
        if slot != _NO_SLOT:
            depths = self._depths
            if depths[slot] > 0:
                depths[slot] -= 1
                if not depths[slot]:
                    if slot == _LINK_SLOT:
                        self._link = False
                    else:
                        self._style &= ~_SLOT_STYLE[slot]
        # pop matching open tag if present (tolerates malformed nesting);
        # well-nested markup hits the O(1) top-of-stack case
        stack = self._stack
        if stack:
            if stack[-1] == tag:
                stack.pop()
            else:
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i] == tag:
                        del stack[i:]
                        break

    def handle_data(self, data: str) -> None:
        if self._boiler_depth > 0 and not _SKIP_TAGS.isdisjoint(self._stack):
            return  # script/style/head payloads are never visible text
        if not data:
            return
        p = self._current
        if p is None:
            p = self._current = RawParagraph(
                self._para_tag, self._region_stack[-1], self._boiler_depth > 0)
        link = self._link
        p.frags.append(Fragment(data, link, self._style))
        n = len(data.strip(_ASCII_WS))
        p.chars += n
        if link:
            p.linked += n

    def close(self) -> None:  # noqa: D102 — flush trailing text
        super().close()
        self._flush()


def parse_paragraphs(html_text: str) -> list[RawParagraph]:
    """Tokenize + segment one HTML document into RawParagraphs.

    The fast regex tokenizer (core/tokenizer.py) handles the common grammar
    ~4x cheaper than the stdlib parser and emits the identical event stream
    (equivalence enforced by tests/test_tokenizer.py); documents with
    constructs outside its grammar (unterminated tags, ``<![`` sections)
    re-run on the stdlib ``HTMLParser`` path, which tolerates anything.
    """
    seg = _Segmenter()
    if fast_feed(html_text, seg):
        seg._flush()
        return seg.paragraphs
    return parse_paragraphs_stdlib(html_text)


def parse_paragraphs_stdlib(html_text: str) -> list[RawParagraph]:
    """Stdlib-tokenizer segmentation: the fallback for documents outside the
    fast grammar, and the behavioral reference the fast path is tested
    against. Tolerant of malformed/unclosed markup (HTMLParser never raises
    on it); plain text with no tags becomes a single body paragraph."""
    seg = _Segmenter()
    try:
        seg.feed(html_text)
        seg.close()
    except Exception:
        # salvage whatever was collected; a paragraph mid-flight is flushed
        seg._flush()
    return seg.paragraphs


def split_lines(para: RawParagraph) -> list[list[tuple[str, int, tuple]]]:
    """Split a paragraph into lines of (word, flags, char_flags) — the
    TEXTLINE/WORD law. ``char_flags`` keeps per-character sup/sub bits for
    SYMBOL-level spans (per-symbol attributes, tesserocr/tesserocr.pyx:1018-1040).

    Frozen whitespace law (byte-identity gate, FIXTURES.md §2):

    1. entity-decoded character data, whitespace runs normalized to one space;
    2. explicit ``<br>`` breaks a line;
    3. a line also breaks after sentence-terminal punctuation
       (``. ! ? …``) followed by whitespace;
    4. words are the space-separated tokens of each line.

    flags bitfield: 1=superscript, 2=subscript (from <sup>/<sub>,
    reference symbol attributes tesserocr/tesserocr.pyx:1018-1040).
    """
    # fast path: no <br>, every fragment unstyled (the overwhelmingly common
    # case for web text) — pure regex split; the per-word (word, 0, zeros)
    # tuple and its sentence-end flag are cached (web text is
    # Zipf-distributed, so the hit rate is high)
    frags = para.frags
    if not all(f.style == 0 for f in frags):
        return _split_styled(frags)
    cache = _WORD_CACHE
    lines: list[list[tuple[str, int, tuple]]] = []
    cur: list[tuple[str, int, tuple]] = []
    for w in _WS_SPLIT_RE.split(" ".join([f.text for f in frags])):
        if not w:  # re.split keeps boundary empties str.split() drops
            continue
        ent = cache.get(w) or _cache_word(w)
        cur.append(ent[0])
        if ent[1]:
            lines.append(cur)
            cur = []
    if cur:
        lines.append(cur)
    return lines


def _split_styled(frags: list[Fragment]) -> list[list[tuple[str, int, tuple]]]:
    """``split_lines`` for paragraphs with styled or <br> fragments.

    Fragments concatenate with no separator, so a word may span several of
    them; its pieces wait in ``pend`` until whitespace, a <br> or the
    paragraph end closes it. A word is sup/sub/... only if EVERY one of its
    chars is (AND-fold of the piece styles); ``char_flags`` repeats each
    piece's style over its chars."""
    cache = _WORD_CACHE
    lines: list[list[tuple[str, int, tuple]]] = []
    cur: list[tuple[str, int, tuple]] = []
    pend: list[tuple[str, int]] = []

    def close_word() -> None:
        nonlocal cur
        if len(pend) == 1:
            w, st = pend[0]
            item = (w, st, (st,) * len(w))
        else:
            w = "".join([t for t, _ in pend])
            st = -1
            cfl: tuple = ()
            for t, s in pend:
                st &= s
                cfl += (s,) * len(t)
            item = (w, st, cfl)
        pend.clear()
        cur.append(item)
        if len(w) > 1 and w[-1] in ".!?…":
            lines.append(cur)
            cur = []

    for f in frags:
        st = f.style
        if st == _BR_STYLE:
            if pend:
                close_word()
            if cur:
                lines.append(cur)
                cur = []
            continue
        pieces = _WS_SPLIT_RE.split(f.text)
        if pieces[0]:
            pend.append((pieces[0], st))
        if len(pieces) == 1:
            continue
        if pend:
            close_word()
        last = pieces.pop()
        for w in islice(pieces, 1, None):
            if st:
                cur.append((w, st, (st,) * len(w)))
                sentence_end = len(w) > 1 and w[-1] in ".!?…"
            else:
                item, sentence_end = cache.get(w) or _cache_word(w)
                cur.append(item)
            if sentence_end:
                lines.append(cur)
                cur = []
        if last:
            pend.append((last, st))
    if pend:
        close_word()
    if cur:
        lines.append(cur)
    return lines


class Block:
    """BLOCK-level region: consecutive same-(region, type) paragraphs."""

    __slots__ = ("block_type", "boiler", "paras", "is_image")

    def __init__(self, block_type: int, boiler: bool, is_image: bool) -> None:
        self.block_type = block_type
        self.boiler = boiler
        self.is_image = is_image
        self.paras: list[list[list[tuple[str, int]]]] = []  # para -> line -> (word, flags)


def group_blocks(paragraphs: list[RawParagraph], max_link_density: float) -> list[Block]:
    """Group paragraphs into blocks and classify boilerplate.

    A paragraph is boilerplate if it sits under a boilerplate ancestor or its
    own link density exceeds ``max_link_density``. Consecutive paragraphs with
    equal (region, pt_type, boiler) fold into one block, mirroring how the
    reference groups uniform regions into poly-blocks
    (tesserocr/tesserocr.pyx:210-277).
    """
    blocks: list[Block] = []
    prev_key: tuple | None = None
    for p in paragraphs:
        if p.is_image:
            blocks.append(Block(p.pt_type(), p.boiler, True))
            prev_key = None
            continue
        boiler = p.boiler or p.link_density() > max_link_density
        ptype = PT.NOISE if boiler else p.pt_type()
        lines = split_lines(p)
        if not lines:
            continue
        key = (p.region, ptype, boiler)
        if key != prev_key:
            blocks.append(Block(ptype, boiler, False))
            prev_key = key
        blocks[-1].paras.append(lines)
    return blocks
