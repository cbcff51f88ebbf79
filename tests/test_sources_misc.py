"""File-source ingestion, thresholded view, span content, misc accessors."""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F

from tesserocr_spark import OEM, RIL
from tesserocr_spark.api import SparkPageAPI
from tesserocr_spark.pages import file_to_text, make_page, pages_from_files


def _write_html_files(tmp_path, n=5):
    d = tmp_path / "htmls"
    d.mkdir()
    expected = {}
    from tesserocr_spark.core import Extractor

    ex = Extractor()
    for i in range(n):
        _url, _ts, html, _text, _lang = make_page(i)
        f = d / f"page{i}.html"
        f.write_bytes(html)
        expected[str(f)] = ex.extract(html).text
    return d, expected


def test_pages_from_files_schema(spark, tmp_path):
    d, _ = _write_html_files(tmp_path)
    pages = pages_from_files(spark, str(d))
    assert [f.name for f in pages.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == 5


def test_file_to_text_matches_core(spark, tmp_path):
    d, expected = _write_html_files(tmp_path)
    got = {r.url.replace("file:", ""): r.extracted_text
           for r in file_to_text(spark, str(d)).collect()}
    assert got == expected


def test_thresholded_text_keeps_boilerplate(spark):
    html = b'<nav><a href="#">navword</a></nav><main><p>body text</p></main>'
    df = spark.createDataFrame([("u", html)], "url string, html binary")
    api = SparkPageAPI(spark).set_pages(df)
    row = api.get_thresholded_text().collect()[0]
    assert "navword" in row.thresholded_text and "body text" in row.thresholded_text
    assert row.scale_factor == 1
    # while the recognized text strips it
    assert "navword" not in api.get_utf8_text().collect()[0].text
    api.end()


def test_span_content_equals_text(spark):
    html = b"<main><p>alpha beta gamma. second line here</p></main>"
    df = spark.createDataFrame([("u", html)], "url string, html binary")
    api = SparkPageAPI(spark).set_pages(df)
    for level in (RIL.WORD, RIL.SYMBOL):
        rows = api.span_content(level).collect()
        assert rows
        for r in rows:
            assert r.content == r.text  # crop-by-box == recognized text
    api.end()


def test_misc_accessors(spark):
    api = SparkPageAPI(spark)
    assert api.oem() == OEM.DEFAULT
    api.clear_persistent_cache()  # no-op smoke
    from tesserocr_spark import tesseract_version

    assert "tesserocr_spark" in tesseract_version()


def test_set_leptonica_log_level(spark):
    """set_leptonica_log_level (reference tesserocr/tesserocr.pyx:2828-2833)
    maps LeptLogLevel onto the engine's log backend; invalid levels raise."""
    import pytest

    from tesserocr_spark import LeptLogLevel, set_leptonica_log_level

    set_leptonica_log_level(spark, LeptLogLevel.NONE)
    set_leptonica_log_level(spark.sparkContext, LeptLogLevel.DEBUG)  # ctx too
    set_leptonica_log_level(spark, LeptLogLevel.EXTERNAL)  # no-op: env default
    for bad in (42, None, "WARN"):
        with pytest.raises(ValueError, match="LeptLogLevel"):
            set_leptonica_log_level(spark, bad)
    set_leptonica_log_level(spark, LeptLogLevel.ERROR)  # restore quiet tests


_COMMAND_RE = re.compile(r"\b(?:python3?|bash)\s+(.*)")
_REL_PATH_RE = re.compile(r"\.?[\w-]+(?:[/.][\w-]*)*")


def _command_paths(text: str) -> list[tuple[int, str]]:
    """(line number, token) for each relative path (has a ``/`` or ends in
    ``.py``/``.sh``) after ``python``/``python3``/``bash`` on a line, up to
    the end of an inline code span or a ``#`` comment."""
    found = []
    for n, line in enumerate(text.splitlines(), 1):
        for m in _COMMAND_RE.finditer(line):
            command = m.group(1).split("`")[0].split(" #")[0]
            for tok in command.split():
                tok = tok.rstrip("'\"(),.:;").lstrip("'\"(,")
                if (("/" in tok or tok.endswith((".py", ".sh")))
                        and _REL_PATH_RE.fullmatch(tok)):
                    found.append((n, tok))
    return found


def test_doc_command_paths_exist():
    """Every repo path on a command line of the docs a reader runs first
    names a file or directory that exists."""
    assert _command_paths("python scripts/gone.py 1 /tmp/x <sf>\n`python bench.py`.") == [
        (1, "scripts/gone.py"), (2, "bench.py")]
    root = Path(__file__).resolve().parents[1]
    missing, n_checked = [], 0
    for doc in ("README.md", "CLAUDE.md", ".claude/skills/verify/SKILL.md"):
        for n, tok in _command_paths((root / doc).read_text()):
            n_checked += 1
            if not (root / tok).exists():
                missing.append(f"{doc}:{n}: {tok}")
    assert n_checked >= 10
    assert not missing
