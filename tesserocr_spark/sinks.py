"""Multi-format sinks — the renderer chain (tesserocr/tesserocr.pyx:2186-2251).

The reference builds a linked list of renderers (txt/TSV/hOCR/box/UNLV) from
``tessedit_create_*`` variables and pushes each recognized page through all
of them in one pass. Spark equivalent: extract once, ``persist()``, then one
``DataFrameWriter`` action per enabled format — Catalyst does NOT dedupe the
extraction across actions by itself, hence the explicit cache (SURVEY.md §4
"multi-sink single pass").

Format notes:
* txt  — one line per document: ``url \\t json-escaped text`` (newline-safe).
* tsv  — GetTSVText: spans_long projected to the reference's column order —
  a pure JVM projection, no Python.
* hocr/alto/box/unlv/osd — rendered by pure Catalyst expressions over the
  pre-order spans array (zero Python in the sink stage); the Python
  serializers in core.fold are their byte-law twins, locked by equality
  tests over the synthetic corpus.
* pdf — also a pure expression: the file is assembled as a
  latin-1-constrained string (so char offsets == byte offsets for /Length
  and the xref table) and encoded ISO-8859-1; core.fold.pdf_bytes is the
  byte-law twin. EVERY renderer is now zero-Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .api import spans_long
from .config import DEFAULT_CONFIG, ExtractorConfig


def txt_sink(docs: DataFrame) -> DataFrame:
    """(url, text) with JSON-escaped text — safe for .write.text lines."""
    return docs.select(
        F.concat_ws("\t", F.col("url"), F.to_json(F.struct("extracted_text"))).alias("value")
    )


def tsv_sink(docs: DataFrame) -> DataFrame:
    """GetTSVText (tesserocr/tesserocr.pyx:2427-2441) as a flat projection:
    level+1, page, block, para, line, word (1-based), bbox as l/t/w/h, conf,
    text. SYMBOL rows excluded like the reference TSV."""
    sl = spans_long(docs).filter(F.col("level") < 4)
    return sl.select(
        "url",
        (F.col("level") + 1).alias("tsv_level"),
        F.lit(1).alias("page_num"),
        (F.col("block_id") + 1).alias("block_num"),
        (F.col("para_id") + 1).alias("par_num"),
        (F.col("line_id") + 1).alias("line_num"),
        (F.col("word_id") + 1).alias("word_num"),
        F.col("bbox.x0").alias("left"),
        F.col("bbox.y0").alias("top"),
        (F.col("bbox.x1") - F.col("bbox.x0")).alias("width"),
        (F.col("bbox.y1") - F.col("bbox.y0")).alias("height"),
        F.round("conf", 2).alias("conf"),
        F.when(F.col("level") >= 3, F.coalesce("text", F.lit(""))).otherwise("").alias("text"),
    )


#: HTML-escape chain identical to html.escape(quote=True) — order matters
#: (& first), law shared with core.fold's Python serializers.
def _esc(col: str) -> str:
    out = f"coalesce({col}, '')"
    for a, b in (("'&'", "'&amp;'"), ("'<'", "'&lt;'"), ("'>'", "'&gt;'"),
                 ("'\"'", "'&quot;'"), ('"\'"', "'&#x27;'")):
        out = f"replace({out}, {a}, {b})"
    return out


def _preorder_markup(opens: tuple[str, str, str, str], closes: tuple[str, str, str]) -> str:
    """``flatten(transform(f, (s, i) -> piece))`` over the pre-order spans
    ``f`` (BLOCK, PARA, LINE, WORD...): each span emits its level's markup
    from ``opens`` (block, para, line, word expressions over ``s``), and a
    WORD then closes the levels its successor re-opens — ``closes`` holds
    the line, para and block close tags — a per-element lookahead, no
    sorting."""
    block, para, line, word = opens
    tags = [f"'{t}'" for t in closes]
    shut = (
        f"CASE WHEN i + 2 > size(f) THEN array({', '.join(tags)}) "
        "ELSE CASE element_at(f, i + 2).level "
        "WHEN 3 THEN cast(array() as array<string>) "
        f"WHEN 2 THEN array({tags[0]}) "
        f"WHEN 1 THEN array({', '.join(tags[:2])}) "
        f"ELSE array({', '.join(tags)}) END END"
    )
    piece = (
        f"CASE s.level WHEN 0 THEN array({block}) WHEN 1 THEN array({para}) "
        f"WHEN 2 THEN array({line}) ELSE concat(array({word}), {shut}) END"
    )
    return f"flatten(transform(f, (s, i) -> {piece}))"


def _hocr_expr(font_info: bool) -> str:
    """hOCR document as ONE Catalyst expression over (url, f), built by
    ``_preorder_markup``. Byte-identical to core.fold.hocr_text (locked by
    tests/test_sinks_jobs.py); keeps the hOCR sink stage fully JVM-side
    (whole-stage codegen, zero Python) like the TSV sink."""
    bb = "'bbox ', s.bbox.x0, ' ', s.bbox.y0, ' ', s.bbox.x1, ' ', s.bbox.y1"
    font = (
        "'; x_font ', coalesce(nullif(concat_ws('+', "
        "CASE WHEN (s.flags & 256) != 0 THEN 'mono' END, "
        "CASE WHEN (s.flags & 64) != 0 THEN 'bold' END, "
        "CASE WHEN (s.flags & 128) != 0 THEN 'italic' END), ''), 'default'), "
        if font_info else ""
    )
    word = (
        "concat('<span class=\"ocrx_word\" title=\"', " + bb + ", "
        "'; x_wconf ', cast(s.conf as int), " + font + "'\">', "
        + _esc("s.text") + ", '</span>')"
    )
    body = _preorder_markup(
        (
            "concat('<div class=\"ocr_carea\" id=\"block_1_', s.block_id + 1, "
            "'\" title=\"', " + bb + ", '\">')",
            "concat('<p class=\"ocr_par\" title=\"', " + bb + ", '\">')",
            "concat('<span class=\"ocr_line\" title=\"', " + bb + ", '\">')",
            word,
        ),
        ("</span>", "</p>", "</div>"),
    )
    return (
        "concat_ws('\\n', concat(array(concat('<div class=\"ocr_page\" "
        "id=\"page_1\" title=\"image ', " + _esc("url") + ", '\">')), "
        + body + ", array('</div>')))"
    )


def hocr_sink(docs: DataFrame, font_info: bool = False) -> DataFrame:
    """GetHOCRText (tesserocr/tesserocr.pyx:2411-2425) per document.
    ``font_info`` mirrors the hocr_font_info flag read by _get_renderer
    (tesserocr/tesserocr.pyx:2206-2208). Pure expression — no Python in
    the sink stage (core.fold.hocr_text is the tested reference twin)."""
    return docs.select(
        "url", F.expr("filter(coalesce(spans, array()), s -> s.level < 4)").alias("f")
    ).select("url", F.expr(_hocr_expr(font_info)).alias("hocr"))


def _alto_expr() -> str:
    """ALTO-XML document as ONE Catalyst expression over (url, f), built by
    ``_preorder_markup`` like ``_hocr_expr``; byte-identical twin of
    core.fold.alto_text (locked by tests/test_sinks_jobs.py)."""
    geo = (
        "'HPOS=\"', s.bbox.x0, '\" VPOS=\"', s.bbox.y0, "
        "'\" WIDTH=\"', s.bbox.x1 - s.bbox.x0, "
        "'\" HEIGHT=\"', s.bbox.y1 - s.bbox.y0, '\"'"
    )
    word = (
        "concat(CASE WHEN s.blanks > 0 THEN concat('<SP WIDTH=\"', s.blanks, "
        "'\"/>\\n') ELSE '' END, '<String ', " + geo + ", "
        "' WC=\"', format_number(s.conf / 100, 2), '\" CONTENT=\"', "
        + _esc("s.text") + ", '\"/>')"
    )
    body = _preorder_markup(
        (
            "concat('<ComposedBlock ID=\"cblock_', s.block_id, '\" ', " + geo + ", '>')",
            "concat('<TextBlock ID=\"block_', s.block_id, '_', s.para_id, '\" ', "
            + geo + ", '>')",
            "concat('<TextLine ', " + geo + ", '>')",
            word,
        ),
        ("</TextLine>", "</TextBlock>", "</ComposedBlock>"),
    )
    pw = "coalesce(array_max(transform(f, s -> s.bbox.x1)), 0)"
    ph = "coalesce(array_max(transform(f, s -> s.bbox.y1)), 0)"
    return (
        "concat_ws('\\n', concat(array("
        "'<alto xmlns=\"http://www.loc.gov/standards/alto/ns-v3#\">', "
        "concat('<Description><MeasurementUnit>pixel</MeasurementUnit>"
        "<sourceImageInformation><fileName>', " + _esc("url") + ", "
        "'</fileName></sourceImageInformation></Description>'), "
        "'<Layout>', "
        "concat('<Page WIDTH=\"', " + pw + ", '\" HEIGHT=\"', " + ph + ", "
        "'\" PHYSICAL_IMG_NR=\"0\" ID=\"page_0\">'), "
        "concat('<PrintSpace HPOS=\"0\" VPOS=\"0\" WIDTH=\"', " + pw + ", "
        "'\" HEIGHT=\"', " + ph + ", '\">')), "
        + body + ", "
        "array('</PrintSpace>', '</Page>', '</Layout>', '</alto>')))"
    )


def alto_sink(docs: DataFrame) -> DataFrame:
    """TessAltoRenderer (tesserocr/tesserocr.pyx:2201-2203): ALTO-XML per
    doc. Pure expression — no Python in the sink stage (core.fold.alto_text
    is the tested reference twin)."""
    return docs.select(
        "url", F.expr("filter(coalesce(spans, array()), s -> s.level < 4)").alias("f")
    ).select("url", F.expr(_alto_expr()).alias("alto"))


#: OSD text block as one expression; NULL struct/fields fall back to the
#: documented defaults (ADVICE r01). Twin: core.fold.osd_text.
_OSD_EXPR = """
concat('Page 0: 0\\n',
  'Orientation in degrees: ', coalesce(osd.orient_deg, 0), '\\n',
  'Rotate: ', pmod(360 - coalesce(osd.orient_deg, 0), 360), '\\n',
  'Orientation confidence: ', format_number(coalesce(osd.orient_conf, 0.0D), 2), '\\n',
  'Script: ', coalesce(osd.script_name, ''), '\\n',
  'Script confidence: ', format_number(coalesce(osd.script_conf, 0.0D), 2), '\\n')
"""


def osd_sink(docs: DataFrame) -> DataFrame:
    """TessOsdRenderer (tesserocr/tesserocr.pyx:2196-2198): the .osd text
    block per page — the only output in the PSM.OSD_ONLY short-circuit.
    Pure expression (core.fold.osd_text is the tested twin)."""
    return docs.select("url", F.expr(_OSD_EXPR).alias("osd"))


def _pdf_expression():
    """Text-only PDF file bytes as ONE Catalyst expression — the byte-law
    twin of ``core.fold.pdf_bytes`` (locked by equality test).

    The whole file is assembled as a latin-1-constrained string — every
    char > U+00FF is first replaced by ``?`` exactly like Python's
    ``encode('latin-1', 'replace')`` — so ``length()`` (chars) equals the
    encoded byte length, making the ``/Length`` field and the xref byte
    offsets computable in-plan; ``encode(_, 'ISO-8859-1')`` then yields the
    final bytes."""
    text = F.coalesce(F.col("extracted_text"), F.lit(""))
    safe = F.regexp_replace(text, "[^\\x00-\\xff]", "?")
    esc = F.replace(safe, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit("("), F.lit("\\("))
    esc = F.replace(esc, F.lit(")"), F.lit("\\)"))
    stream = F.concat(
        F.lit("BT\n/F1 10 Tf\n12 TL\n1 0 0 1 36 756 Tm\n"),
        F.concat_ws(
            "\n",
            F.transform(
                F.split(esc, "\n"),
                lambda l: F.concat(F.lit("("), l, F.lit(") Tj T*")),
            ),
        ),
        F.lit("\nET"),
    )
    bodies = [
        F.lit("<< /Type /Catalog /Pages 2 0 R >>"),
        F.lit("<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        F.lit(
            "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"
        ),
        F.concat(
            F.lit("<< /Length "), F.length(stream).cast("string"),
            F.lit(" >>\nstream\n"), stream, F.lit("\nendstream"),
        ),
        F.lit("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    wrapped = F.array(
        *[
            F.concat(F.lit(f"{i} 0 obj\n"), body, F.lit("\nendobj\n"))
            for i, body in enumerate(bodies, start=1)
        ]
    )
    # running byte offsets of each object; 9 = len('%PDF-1.4\n')
    acc = F.aggregate(
        wrapped,
        F.struct(
            F.lit(9).alias("cur"),
            F.expr("cast(array() as array<int>)").alias("offs"),
        ),
        lambda a, x: F.struct(
            (a["cur"] + F.length(x)).alias("cur"),
            F.concat(a["offs"], F.array(a["cur"])).alias("offs"),
        ),
    )
    full = F.concat(
        F.lit("%PDF-1.4\n"),
        F.concat_ws("", wrapped),
        F.lit("xref\n0 6\n0000000000 65535 f \n"),
        F.concat_ws(
            "",
            F.transform(
                acc["offs"],
                lambda o: F.concat(
                    F.lpad(o.cast("string"), 10, "0"), F.lit(" 00000 n \n")
                ),
            ),
        ),
        F.lit("trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n"),
        acc["cur"].cast("string"),
        F.lit("\n%%EOF\n"),
    )
    return F.encode(full, "ISO-8859-1")


#: page raster geometry for the PDF image underlay: 612x792pt MediaBox at
#: quarter scale. Block-constant content keeps the embedded JPEG bit-exact
#: through the baseline codec (DC-only blocks — see multimodal.py).
PDF_IMAGE_W, PDF_IMAGE_H = 153, 198


def _page_raster(extracted_text: str) -> bytes:
    """Deterministic content-derived grayscale 'scan' of the page: the
    graft has no source raster (pages are born as text), so the underlay
    image is a pure function of the extracted text — value of 8x8 block k
    is ``(text_byte[k mod len] + 3k) mod 256`` — keeping every output
    byte content-derived and partition-independent (the repo-wide law)."""
    b = (extracted_text or "").encode("utf-8")
    nbx = -(-PDF_IMAGE_W // 8)
    row_vals = []
    for by in range(-(-PDF_IMAGE_H // 8)):
        vals = []
        for bx in range(nbx):
            k = by * nbx + bx
            vals.append(((b[k % len(b)] if b else 0) + 3 * k) % 256)
        row_vals.append(vals)
    px = bytearray(PDF_IMAGE_W * PDF_IMAGE_H)
    for y in range(PDF_IMAGE_H):
        base = y * PDF_IMAGE_W
        vals = row_vals[y // 8]
        for x in range(PDF_IMAGE_W):
            px[base + x] = vals[x // 8]
    return bytes(px)


def pdf_bytes_image(url: str, extracted_text: str) -> bytes:
    """TessPDFRenderer analogue, image-underlay mode (textonly_pdf=0,
    tesserocr/tesserocr.pyx:2214-2224): the page raster is embedded as a
    REAL baseline JPEG (our own ITU T.81 encoder,
    multimodal.make_jpeg_baseline) in a ``/DCTDecode`` image XObject
    drawn across the full MediaBox, with the extracted text overlaid in
    invisible render mode (``3 Tr``) — exactly the searchable-scan
    structure Tesseract's PDF renderer produces. The raster is
    block-constant (``_page_raster``), so the embedded JPEG decodes back
    bit-exactly with ``decode_jpeg_pixels`` — the round-trip is locked by
    test. Binary-safe assembly: the header carries the high-bit marker
    comment and all xref offsets are byte-accurate. Text escaping reuses
    core.fold's ``_pdf_escape`` so both PDF modes share one literal
    law."""
    from .core.fold import _pdf_escape
    from .multimodal import make_jpeg_baseline

    jpeg = make_jpeg_baseline(
        PDF_IMAGE_W, PDF_IMAGE_H, _page_raster(extracted_text)
    )
    lines = (extracted_text or "").split("\n")
    ops = [
        "q", "612 0 0 792 0 0 cm", "/Im1 Do", "Q",
        "BT", "3 Tr", "/F1 10 Tf", "12 TL", "1 0 0 1 36 756 Tm",
    ]
    for line in lines:
        ops.append(f"({_pdf_escape(line)}) Tj T*")
    ops.append("ET")
    stream = "\n".join(ops).encode("latin-1")

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> "
        b"/XObject << /Im1 6 0 R >> >> >>",
        b"<< /Length " + str(len(stream)).encode() + b" >>\nstream\n"
        + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /XObject /Subtype /Image /Width "
        + str(PDF_IMAGE_W).encode() + b" /Height "
        + str(PDF_IMAGE_H).encode()
        + b" /ColorSpace /DeviceGray /BitsPerComponent 8 "
        b"/Filter /DCTDecode /Length " + str(len(jpeg)).encode()
        + b" >>\nstream\n" + jpeg + b"\nendstream",
    ]
    # %\xe2\xe3\xcf\xd3: the conventional binary-content marker comment
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def pdf_sink(docs: DataFrame, textonly: bool = True) -> DataFrame:
    """TessPDFRenderer (tesserocr/tesserocr.pyx:2214-2224) per document:
    (url, pdf:binary). Text-only mode is a pure Catalyst expression
    (core.fold.pdf_bytes is the byte-law twin). Image-underlay mode
    (textonly_pdf=0) embeds a content-derived page raster as a REAL
    baseline JPEG — encoded by our own ITU T.81 codec
    (multimodal.make_jpeg_baseline) — in a /DCTDecode XObject with the
    text overlaid invisibly (3 Tr), the searchable-scan structure the
    reference renderer emits; JPEG encoding is not expressible in
    Catalyst, so that path is an Arrow-batched pandas_udf over
    ``pdf_bytes_image``."""
    if not textonly:
        import pandas as pd

        # no type hints: sinks.py uses postponed annotations, which the
        # pandas_udf hint-resolver can't evaluate for a closure-local pd
        def _pdf_img_fn(urls, texts):
            return pd.Series([
                pdf_bytes_image(u, t if t is not None else "")
                for u, t in zip(urls, texts)
            ])

        _pdf_img = F.pandas_udf(_pdf_img_fn, "binary")
        return docs.select(
            "url", _pdf_img("url", "extracted_text").alias("pdf")
        )
    return docs.select("url", _pdf_expression().alias("pdf"))


def box_sink(docs: DataFrame) -> DataFrame:
    """GetBoxText (tesserocr/tesserocr.pyx:2443-2460): symbol box lines.
    The spans array is pre-order, so the reference's id-sorted emission is a
    single filter + transform — pure expression (core.fold.box_rows is the
    tested twin)."""
    return docs.select(
        "url",
        F.expr(
            "concat_ws('\\n', transform("
            "filter(coalesce(spans, array()), s -> s.level = 4 AND s.text IS NOT NULL), "
            "s -> concat(s.text, ' ', s.bbox.x0, ' ', s.bbox.y0, ' ', "
            "s.bbox.x1, ' ', s.bbox.y1, ' 0')))"
        ).alias("box"),
    )


#: UNLV fold law as one expression: per-word separator from the previous
#: WORD span (same line -> blanks spaces; same para -> newline; else blank
#: line), '^' before conf<88 words, one trailing newline — byte-identical to
#: core.fold.unlv_text / fold_spans (frozen fold law, core/extractor.py).
_UNLV_EXPR = """
CASE WHEN size(w) = 0 THEN '' ELSE concat(concat_ws('', transform(w, (s, i) ->
  concat(
    CASE WHEN i = 0 THEN ''
         WHEN s.block_id = element_at(w, i).block_id
          AND s.para_id = element_at(w, i).para_id
          AND s.line_id = element_at(w, i).line_id
           THEN repeat(' ', s.blanks)
         WHEN s.block_id = element_at(w, i).block_id
          AND s.para_id = element_at(w, i).para_id
           THEN '\\n'
         ELSE '\\n\\n' END,
    CASE WHEN s.conf < 88.0D THEN '^' ELSE '' END,
    s.text))), '\\n') END
"""


def unlv_sink(docs: DataFrame) -> DataFrame:
    """GetUNLVText (tesserocr/tesserocr.pyx:2462-2473): suspect-marked fold,
    pure expression (core.fold.unlv_text is the tested twin)."""
    return docs.select(
        "url",
        F.expr("filter(coalesce(spans, array()), s -> s.level = 3 AND s.text IS NOT NULL)").alias("w"),
    ).select("url", F.expr(_UNLV_EXPR).alias("unlv"))


#: variable name -> (suffix, sink builder, writer) — the renderer registry
#: mirroring _get_renderer's tessedit_create_* switches.
RENDERERS = {
    "tessedit_create_alto": ("alto", alto_sink, "json"),
    "tessedit_create_txt": ("txt", txt_sink, "text"),
    "tessedit_create_tsv": ("tsv", tsv_sink, "csv"),
    "tessedit_create_hocr": ("hocr", hocr_sink, "json"),
    "tessedit_create_pdf": ("pdf", pdf_sink, "parquet"),
    "tessedit_create_boxfile": ("box", box_sink, "json"),
    "tessedit_write_unlv": ("unlv", unlv_sink, "json"),
}


def write_renderers(
    docs: DataFrame,
    outputbase: str,
    config: ExtractorConfig | None = None,
) -> dict[str, str]:
    """One scan, N sinks: persist docs, write every enabled format.

    Returns {format: output_path}. PSM.OSD_ONLY short-circuits to the single
    OSD renderer exactly like the reference (tesserocr/tesserocr.pyx:2196-2198)
    regardless of the tessedit_create_* toggles.
    """
    from .constants import PSM

    cfg = config or DEFAULT_CONFIG
    if cfg.psm == PSM.OSD_ONLY:
        path = f"{outputbase}.osd"
        osd_sink(docs).write.mode("overwrite").json(path)
        return {"osd": path}
    enabled = [(var, spec) for var, spec in RENDERERS.items()
               if cfg.get_bool_variable(var)]
    if not enabled:
        return {}
    docs = docs.persist()
    try:
        out: dict[str, str] = {}
        for var, (suffix, builder, writer) in enabled:
            path = f"{outputbase}.{suffix}"
            if var == "tessedit_create_hocr":
                df = builder(docs, font_info=cfg.get_bool_variable("hocr_font_info"))
            elif var == "tessedit_create_pdf":
                df = builder(docs, textonly=cfg.get_bool_variable("textonly_pdf"))
            else:
                df = builder(docs)
            if writer == "text":
                df.write.mode("overwrite").text(path)
            elif writer == "csv":
                df.write.mode("overwrite").option("sep", "\t").option("header", True).csv(path)
            elif writer == "parquet":
                df.write.mode("overwrite").parquet(path)
            else:
                df.write.mode("overwrite").json(path)
            out[suffix] = path
        return out
    finally:
        docs.unpersist()
