"""Orientation & script detection (OSD) — graft of DetectOS /
DetectOrientationScript (tesserocr/tesserocr.pyx:2615-2634, 2476-2497).

For HTML documents orientation is always upright (0 degrees) — the reference
fixture asserts exactly this for its canonical page
(tests/test_api.py:236,249-250). Script is classified from Unicode ranges of
the visible text; confidence is the fraction of letter characters in the
winning script (a deterministic, content-derived stand-in for Tesseract's
classifier score).
"""

from __future__ import annotations

import re
from collections import Counter
from string import ascii_letters

#: Unicode block ranges -> script name (coarse, deterministic).
_RANGES: list[tuple[int, int, str]] = [
    (0x0041, 0x024F, "Latin"),
    (0x0370, 0x03FF, "Greek"),
    (0x0400, 0x04FF, "Cyrillic"),
    (0x0530, 0x058F, "Armenian"),
    (0x0590, 0x05FF, "Hebrew"),
    (0x0600, 0x06FF, "Arabic"),
    (0x0900, 0x097F, "Devanagari"),
    (0x0E00, 0x0E7F, "Thai"),
    (0x1100, 0x11FF, "Hangul"),
    (0x3040, 0x30FF, "Japanese"),
    (0x4E00, 0x9FFF, "Han"),
    (0xAC00, 0xD7AF, "Hangul"),
]


def classify_char(ch: str) -> str | None:
    cp = ord(ch)
    if not ch.isalpha():
        return None
    for lo, hi, name in _RANGES:
        if lo <= cp <= hi:
            return name
    return "Latin" if cp < 0x0250 else None


_ASCII_ALPHA_RE = re.compile(r"[A-Za-z]")
_NON_ASCII_RE = re.compile(r"[^\x00-\x7f]")
_ASCII_LETTERS = ascii_letters.encode()


def detect_os(text: str, lang: str = "eng") -> dict:
    """Return the OSD struct: orientation (always 0 for HTML), dominant
    script and confidences. Empty text falls back to a script implied by the
    declared language hint (multi-lang spec semantics,
    tesserocr/tesserocr.pyx:1207-1217)."""
    if text.isascii():
        # fast path: pure-ASCII text is all-Latin by construction; only
        # letter PRESENCE matters, so search (first-hit exit) not findall
        if _ASCII_ALPHA_RE.search(text) is None:
            fallback = _LANG_SCRIPT.get(lang.split("+")[0], "Latin")
            return {"orient_deg": 0, "orient_conf": 0.0,
                    "script_name": fallback, "script_conf": 0.0}
        return {"orient_deg": 0, "orient_conf": 100.0,
                "script_name": "Latin", "script_conf": 100.0}
    # same counts as classify_char over every character: the ASCII letters
    # are exactly the ASCII characters it calls Latin, counted in C; each
    # distinct non-ASCII character is classified once
    ascii_part = text.encode("ascii", "ignore")
    total = len(ascii_part) - len(ascii_part.translate(None, _ASCII_LETTERS))
    counts = {"Latin": total} if total else {}
    for ch, n in Counter(_NON_ASCII_RE.findall(text)).items():
        s = classify_char(ch)
        if s is not None:
            counts[s] = counts.get(s, 0) + n
            total += n
    if total == 0:
        fallback = _LANG_SCRIPT.get(lang.split("+")[0], "Latin")
        return {"orient_deg": 0, "orient_conf": 0.0,
                "script_name": fallback, "script_conf": 0.0}
    # deterministic winner: max count, ties broken by name
    script = max(sorted(counts), key=lambda k: counts[k])
    return {
        "orient_deg": 0,
        "orient_conf": 100.0,
        "script_name": script,
        "script_conf": round(100.0 * counts[script] / total, 4),
    }


_LANG_SCRIPT = {
    "eng": "Latin", "deu": "Latin", "fra": "Latin", "spa": "Latin",
    "ita": "Latin", "por": "Latin", "nld": "Latin",
    "rus": "Cyrillic", "ukr": "Cyrillic",
    "ara": "Arabic", "heb": "Hebrew", "ell": "Greek",
    "jpn": "Japanese", "kor": "Hangul",
    "chi_sim": "Han", "chi_tra": "Han",
    "hin": "Devanagari", "tha": "Thai",
}

#: languages this engine "ships models" for — GetAvailableLanguages analogue
#: (tesserocr/tesserocr.pyx:2791-2825).
AVAILABLE_LANGUAGES = tuple(sorted(_LANG_SCRIPT) + ["osd"])
