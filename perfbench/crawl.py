"""Seeded crawl generator owned by the benchmark.

The engine under test sees only the parquet files this module writes; the
generator shares no code with ``tesserocr_spark.pages`` so a change to the
program cannot change the workload. Every page is a pure function of
``(seed, i)``.

What extraction cost depends on, and how it is varied here:

* page size — main-content paragraph count is Pareto-distributed (heavy
  tail), paragraph length uniform 6..60 words;
* boilerplate — link-dense nav bars and footers of 3..40 links, plus an
  occasional link-dense aside inside the main region;
* structure — headings, lists, tables, figures with captions, sup/sub,
  bold/italic, character entities;
* Unicode — U+00A0 and U+3000 inside words (word characters by the
  engine's ASCII-whitespace law), CJK runs on ``zho`` pages;
* vocabulary — Zipf-distributed over 20,000 pseudo-words, so per-word
  caches see both hits and misses;
* hosts — Zipf-distributed over 400 hosts;
* degenerate rows — empty html, NULL html, invalid UTF-8, tag-free text,
  unclosed markup, and pages larger than ``MAX_HTML_BYTES`` so the
  truncation path runs.
"""

from __future__ import annotations

import itertools
import os
import random
from datetime import datetime, timedelta, timezone

#: ``max_html_bytes`` the benchmark configures the extractor with; the
#: generator makes a few pages larger than this.
MAX_HTML_BYTES = 131072

_SYLLABLES = (
    "ka ri to ne sa mu lo pe vi da go ha ze ti ro ma ne su ki ya "
    "bra tre spo qua fli dro cle gru mon stel par ver tal"
).split()
_CJK = "数据引擎页面文本提取网络内容结构段落标题表格图像语言模型"
_NAV = ("home", "about", "news", "blog", "archive", "tags", "search",
        "contact", "login", "help", "docs", "shop", "events", "press")
_ENTITIES = ("&amp;", "&copy;", "&lt;", "&gt;", "&#x2026;", "&eacute;", "&nbsp;")
_LANGS = ("eng", "eng", "eng", "deu", "fra", "spa", "zho")

_VOCAB_SIZE = 20000
_N_HOSTS = 400


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k ** s) for k in range(1, n + 1)))


def _vocab() -> list[str]:
    """Fixed pseudo-word vocabulary (independent of the seed)."""
    rng = random.Random(1234567)
    return ["".join(rng.choices(_SYLLABLES, k=rng.randint(1, 3))) for _ in range(_VOCAB_SIZE)]


_VOCAB = _vocab()
_VOCAB_CUM = _zipf_cum(_VOCAB_SIZE, 1.1)
_HOSTS = [f"host{h}.example.org" for h in range(_N_HOSTS)]
_HOST_CUM = _zipf_cum(_N_HOSTS, 1.2)


class _Page:
    """Builds one page from a per-page random generator."""

    def __init__(self, rng: random.Random, lang: str) -> None:
        self.rng = rng
        self.lang = lang
        self.visible: list[str] = []

    def words(self, n: int) -> str:
        rng = self.rng
        ws = rng.choices(_VOCAB, cum_weights=_VOCAB_CUM, k=n)
        # odd glue characters inside words: nbsp / ideographic space
        if rng.random() < 0.15:
            k = rng.randrange(n)
            ws[k] = ws[k] + ("\u00a0" if rng.random() < 0.5 else "\u3000") + ws[(k + 1) % n]
        if self.lang == "zho" and rng.random() < 0.6:
            k = rng.randrange(n)
            a = rng.randrange(len(_CJK) - 4)
            ws[k] = _CJK[a:a + rng.randint(2, 4)]
        self.visible.extend(ws)
        return " ".join(ws)

    def links(self, n: int) -> str:
        rng = self.rng
        names = rng.choices(_NAV, k=n)
        self.visible.extend(names)
        return " ".join(f'<a href="/{a}">{a}</a>' for a in names)

    def paragraph(self) -> str:
        rng = self.rng
        nsent = rng.randrange(1, 5)
        sents = []
        for _ in range(nsent):
            s = self.words(rng.randrange(6, 16))
            u = rng.random()
            if u < 0.08:
                s += f" x<sup>{rng.randrange(2, 9)}</sup>"
            elif u < 0.14:
                s += f" H<sub>{rng.randrange(2, 9)}</sub>O"
            elif u < 0.24:
                s += " " + rng.choice(_ENTITIES) + " " + self.words(2)
            elif u < 0.30:
                s = f"<b>{s}</b>"
            elif u < 0.34:
                s = f"<i>{s}</i>"
            sents.append(s + ".")
        return "<p>" + " ".join(sents) + "</p>"

    def main(self, n_paras: int) -> str:
        rng = self.rng
        out = [f"<h1>{self.words(rng.randrange(2, 8))}</h1>"]
        for j in range(n_paras):
            out.append(self.paragraph())
            u = rng.random()
            if u < 0.04:
                rows = rng.randrange(2, 6)
                cells = "".join(
                    "<tr>" + "".join(f"<td>{self.words(2)}</td>" for _ in range(3)) + "</tr>"
                    for _ in range(rows)
                )
                out.append(f"<table>{cells}</table>")
            elif u < 0.07:
                out.append(f'<figure><img src="/i/{j}.png"><figcaption>'
                           f"{self.words(5)}</figcaption></figure>")
            elif u < 0.10:
                out.append("<ul>" + "".join(f"<li>{self.words(4)}</li>" for _ in range(4)) + "</ul>")
            elif u < 0.12:
                out.append(f"<aside>{self.links(rng.randrange(6, 20))}</aside>")
            elif u < 0.16:
                out.append(f"<h2>{self.words(3)}</h2>")
        return "".join(out)

    def html(self, n_paras: int) -> str:
        rng = self.rng
        return (
            f"<!DOCTYPE html><html><head><title>{self.words(4)}</title>"
            "<style>p{margin:0}</style></head><body>"
            f"<nav>{self.links(rng.randrange(3, 41))}</nav>"
            f"<header><h1>{self.words(2)}</h1></header>"
            f"<main>{self.main(n_paras)}</main>"
            f"<footer>&copy; 2026 {self.words(2)} {self.links(rng.randrange(2, 16))}</footer>"
            "<script>var x = 1;</script></body></html>"
        )


def make_row(seed: int, i: int) -> tuple:
    """Pure function (seed, i) -> (url, warc_ts, html, text, lang)."""
    rng = random.Random(f"{seed}:{i}")
    host = rng.choices(_HOSTS, cum_weights=_HOST_CUM)[0]
    url = f"https://{host}/{rng.randrange(0, 50)}/page-{i}.html"
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc) + timedelta(seconds=i * 7)
    lang = rng.choice(_LANGS)
    page = _Page(rng, lang)

    # Degenerate kinds and page sizes come from the index, so every seed
    # has the same counts and the same size distribution; the seed decides
    # content, hosts and which pages get which size.
    kind = i % 250
    if kind == 11:
        return url, ts, b"", "", lang
    if kind == 37:
        return url, ts, None, None, lang
    if kind == 73:
        return url, ts, page.words(rng.randrange(3, 40)).encode(), None, lang
    if kind == 101:
        return url, ts, f"<p>{page.words(8)} <b>{page.words(3)} <i>{page.words(3)}".encode(), None, lang
    if kind == 167:
        # oversized: the extractor truncates at MAX_HTML_BYTES
        html = page.html(rng.randrange(700, 1000))
        return url, ts, html.encode(), " ".join(page.visible), lang

    # heavy-tailed size: Pareto(1.4) quantile of a seed-shifted
    # low-discrepancy sequence, capped at 200 paragraphs
    u = (i * 0.6180339887498949 + seed * 0.7548776662466927) % 1.0
    n_paras = int(min(1 + ((1.0 - u) ** (-1 / 1.4) - 1) * 3, 200))
    raw = page.html(n_paras).encode()
    if kind in (5, 131):
        # invalid UTF-8 inside the main text
        cut = raw.find(b"<main>") + 6
        raw = raw[:cut] + b"\xff\xfe\xc3\x28 broken \xe2\x82 " + raw[cut:]
    return url, ts, raw, " ".join(page.visible), lang


def write_crawl(path: str, seed: int, n_pages: int, n_files: int) -> dict:
    """Write the crawl as ``n_files`` parquet files under ``path``.
    Returns a summary (rows, html bytes, degenerate counts)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    bounds = [n_pages * f // n_files for f in range(n_files + 1)]
    html_bytes = n_null = n_over = 0
    for f in range(n_files):
        rows = [make_row(seed, i) for i in range(bounds[f], bounds[f + 1])]
        cols = list(zip(*rows))
        for h in cols[2]:
            if h is None:
                n_null += 1
            else:
                html_bytes += len(h)
                n_over += len(h) > MAX_HTML_BYTES
        table = pa.Table.from_arrays([pa.array(c, type=t.type) for c, t in zip(cols, schema)],
                                     schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
    return {"rows": n_pages, "files": n_files, "html_bytes": html_bytes,
            "null_html": n_null, "oversized": n_over}
