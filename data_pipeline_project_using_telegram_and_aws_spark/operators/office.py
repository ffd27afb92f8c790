"""Office/ebook document text extraction — DOCX / PPTX / XLSX / EPUB
over opaque ``binary`` columns, pure stdlib (``zipfile`` + ``zlib`` +
``xml.etree``), no external parser libraries.

The reference pipeline ingests only Telegram JSON
(`Data_Pipeline_Project_using_Telegram_and_AWS.ipynb`, ingestion
cell); this module is north-star extension surface: a large-scale
training-data corpus is full of office documents and ebooks, and a
front door that cannot open them either drops the data or ships
bytes as garbage text. All four formats here are "a zip archive of
XML parts", so one stdlib toolbox covers them:

- :func:`sniff_office` — container dispatch from the bytes alone:
  zip magic → central-directory part names decide docx vs pptx vs
  xlsx vs epub vs plain zip. Never decodes parts it does not need.
- :func:`extract_docx` — WordprocessingML body text: ``w:p``
  paragraphs in document order (one output line each), ``w:t`` runs
  (``xml:space="preserve"`` honored by ElementTree), ``w:tab`` →
  TAB, ``w:br``/``w:cr`` → newline inside the paragraph; tables emit
  one line per ``w:tr`` with ``w:tc`` cells TAB-joined (nested
  paragraphs space-joined). Footnotes/endnotes from their own parts
  are appended after the body, each a line. Core properties
  (``docProps/core.xml``) surface title/creator/created/modified/
  language.
- :func:`extract_pptx` — DrawingML text: slides in the numeric order
  of ``ppt/slides/slideN.xml`` (the presentation part's relationship
  order is an indirection through rels; the on-disk numbering IS the
  authoring order for every real producer, and we state that
  contract), one block per slide, ``a:p`` per line, ``a:t`` runs
  concatenated, ``a:br`` → newline.
- :func:`extract_xlsx` — SpreadsheetML values: one block per sheet
  (workbook part order), one line per ``row``, cells TAB-joined;
  shared strings (``t="s"``) resolved through
  ``xl/sharedStrings.xml`` (rich-text ``r`` runs concatenated),
  inline strings (``t="inlineStr"``) and literal/formula values
  (``v``) as-is. Numbers stay in their stored lexical form — this is
  a TEXT extractor, not a spreadsheet evaluator (no number formats,
  no formula recompute).
- :func:`extract_odf` — OpenDocument (ISO 26300: odt/odp/ods share
  one layout): ``content.xml`` in document order — ``text:p``/
  ``text:h`` one line each (``text:tab``/``text:line-break``/
  ``text:s`` expanded), spreadsheet rows TAB-joined, presentation
  pages blank-line separated; Dublin Core metadata from ``meta.xml``;
  manifest ``encryption-data`` raises.
- :func:`extract_epub` — OCF/OPF walk: ``META-INF/container.xml`` →
  first rootfile → OPF manifest (id→href) + spine (itemref order,
  including ``linear="no"`` items — they are content per the spec,
  just not primary reading order) → chapter XHTML decoded and
  concatenated in spine order. The value returned is HTML, not text:
  the existing `operators/html.py` surface (entity decode,
  boilerplate strip, metadata) is the text engine, and EPUB chapters
  feed it — this module only opens the container. DRM
  (``META-INF/encryption.xml``) raises: encrypted books are a
  quarantine row, not silent empties.

All extractors raise ``ValueError`` naming the defect on structural
failure (bad zip, missing required part, XML that does not parse), so
a caller can quarantine the row with that reason instead of crashing
on it or storing empty text.
Namespace handling matches on LOCAL names: OOXML ships in both
transitional (``schemas.openxmlformats.org``) and strict
(``purl.oclc.org/ooxml``) namespaces with identical local structure,
and matching localnames accepts both without a namespace table.

Spark shape (:func:`extract_office_text`): the standard slim
(id, bytes) ``mapInPandas`` projection from `multimodal.py` — per-row
work is one zip directory walk plus inflate of only the text-bearing
parts; media parts inside the archive (the usual byte majority) are
never decompressed. Everything downstream is plain columns.
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile
import xml.etree.ElementTree as ET

from collections.abc import Iterator

import pandas as pd

__all__ = [
    "sniff_office",
    "extract_docx",
    "extract_pptx",
    "extract_xlsx",
    "extract_odf",
    "extract_epub",
    "extract_office_text",
    "OFFICE_TEXT_DDL",
]


def _local(tag: str) -> str:
    """Localname of an ElementTree tag (strip the {namespace})."""
    return tag.rsplit("}", 1)[-1]


def _parse_xml(data: bytes, part: str) -> ET.Element:
    try:
        return ET.fromstring(data)
    except ET.ParseError as e:
        raise ValueError(f"{part}: XML parse error: {e}") from None


def _open_zip(raw: bytes) -> zipfile.ZipFile:
    try:
        zf = zipfile.ZipFile(io.BytesIO(raw))
    except zipfile.BadZipFile as e:
        raise ValueError(f"bad zip container: {e}") from None
    return zf


def _read_part(zf: zipfile.ZipFile, name: str) -> bytes:
    try:
        return zf.read(name)
    except KeyError:
        raise ValueError(f"missing required part: {name}") from None
    except Exception as e:  # torn member, bad CRC
        raise ValueError(f"unreadable part {name}: {e}") from None


def sniff_office(raw: bytes) -> str:
    """Container format from bytes: ``docx | pptx | xlsx | odf |
    epub | zip | not-zip``. Reads the central directory (names) and —
    only when the epub decision needs it — the tiny STORED ``mimetype``
    member (OCF stores it first, uncompressed); no other part content
    is ever touched, so it stays a cheap pre-gate."""
    if len(raw) < 4 or raw[:2] != b"PK":
        return "not-zip"
    try:
        zf = _open_zip(raw)
        names = set(zf.namelist())
    except ValueError:
        return "not-zip"
    if "word/document.xml" in names:
        return "docx"
    if "ppt/presentation.xml" in names:
        return "pptx"
    if "xl/workbook.xml" in names:
        return "xlsx"
    if "content.xml" in names and "META-INF/manifest.xml" in names:
        return "odf"  # odt/odp/ods share one layout and one extractor
    if "META-INF/container.xml" in names:
        return "epub"
    if "mimetype" in names:
        # The OCF mimetype part must BE application/epub+zip; any zip
        # merely containing a member of that name is not an EPUB and
        # must fall through to plain zip, not quarantine as a broken
        # one. OCF mandates it STORED with a ~20-byte body, so a
        # member that is neither stored nor tiny cannot be a real
        # EPUB — and reading it anyway would hand a crafted DEFLATE
        # bomb a full decompression inside this cheap pre-gate.
        try:
            info = zf.getinfo("mimetype")
            if (info.compress_type == zipfile.ZIP_STORED
                    or info.file_size <= 256):
                if zf.read("mimetype").strip() == b"application/epub+zip":
                    return "epub"
        except Exception:  # noqa: BLE001 — torn member: not an EPUB
            pass
    return "zip"


# ---------------------------------------------------------------------------
# core properties (shared: OPC docProps/core.xml is Dublin Core)

def _core_properties(zf: zipfile.ZipFile) -> dict:
    """title/creator/created/modified/language from docProps/core.xml
    (absent part → all-None: absence of metadata is data)."""
    out = {"title": None, "creator": None, "created": None,
           "modified": None, "language": None}
    if "docProps/core.xml" not in zf.namelist():
        return out
    root = _parse_xml(_read_part(zf, "docProps/core.xml"),
                      "docProps/core.xml")
    for el in root:
        name = _local(el.tag)
        if name in out and el.text:
            out[name] = el.text.strip() or None
    return out


# ---------------------------------------------------------------------------
# DOCX

def _docx_paragraph(p: ET.Element) -> str:
    """Text of one ``w:p``: runs concatenated; tab/br/cr as layout."""
    parts: list[str] = []
    for el in p.iter():
        name = _local(el.tag)
        if name == "t":
            parts.append(el.text or "")
        elif name == "tab":
            parts.append("\t")
        elif name in ("br", "cr"):
            parts.append("\n")
    return "".join(parts)


def _docx_block_lines(body: ET.Element) -> list[str]:
    """Document-order lines from a body-level container: ``w:p`` →
    one line, ``w:tbl`` → one line per row with cells TAB-joined
    (cell-internal paragraphs space-joined — a cell is one field)."""
    lines: list[str] = []
    for child in body:
        name = _local(child.tag)
        if name == "p":
            lines.append(_docx_paragraph(child))
        elif name == "tbl":
            for tr in child:
                if _local(tr.tag) != "tr":
                    continue
                cells = []
                for tc in tr:
                    if _local(tc.tag) != "tc":
                        continue
                    cell_lines = _docx_block_lines(tc)
                    cells.append(" ".join(s for s in cell_lines if s))
                lines.append("\t".join(cells))
        elif name == "sdt":
            # structured document tag: its sdtContent wraps normal
            # block content — recurse into it, skip the properties
            for sub in child:
                if _local(sub.tag) == "sdtContent":
                    lines.extend(_docx_block_lines(sub))
    return lines


def extract_docx(raw: bytes) -> dict:
    """Body (+footnote/endnote) text and core properties of a DOCX.

    Returns ``{text, n_parts, **core_properties}``; ``n_parts`` is
    the paragraph-line count (the auditable size signal). Raises
    ValueError on structural defects.
    """
    zf = _open_zip(raw)
    root = _parse_xml(_read_part(zf, "word/document.xml"),
                      "word/document.xml")
    body = None
    for child in root:
        if _local(child.tag) == "body":
            body = child
            break
    if body is None:
        raise ValueError("word/document.xml: no w:body element")
    lines = _docx_block_lines(body)
    # footnotes/endnotes: content parts, appended after the body in
    # part order (separator/continuation pseudo-notes carry no w:t)
    for part in ("word/footnotes.xml", "word/endnotes.xml"):
        if part not in zf.namelist():
            continue
        notes = _parse_xml(_read_part(zf, part), part)
        for note in notes:
            note_lines = _docx_block_lines(note)
            text = " ".join(s for s in note_lines if s).strip()
            if text:
                lines.append(text)
    props = _core_properties(zf)
    return {"text": "\n".join(lines), "n_parts": len(lines), **props}


# ---------------------------------------------------------------------------
# PPTX

_SLIDE_RE = re.compile(r"^ppt/slides/slide(\d+)\.xml$")


def extract_pptx(raw: bytes) -> dict:
    """Slide text of a PPTX: one block per slide (numeric part
    order), ``a:p`` per line, ``a:t`` runs concatenated, ``a:br`` →
    newline. ``n_parts`` = slide count."""
    zf = _open_zip(raw)
    if "ppt/presentation.xml" not in zf.namelist():
        raise ValueError("missing required part: ppt/presentation.xml")
    slides = sorted(
        ((int(m.group(1)), name) for name in zf.namelist()
         if (m := _SLIDE_RE.match(name))),
    )
    blocks: list[str] = []
    for _, name in slides:
        root = _parse_xml(_read_part(zf, name), name)
        lines: list[str] = []
        for p in root.iter():
            if _local(p.tag) != "p" or not any(
                _local(el.tag) in ("t", "br") for el in p.iter()
            ):
                continue
            parts = []
            for el in p.iter():
                n = _local(el.tag)
                if n == "t":
                    parts.append(el.text or "")
                elif n == "br":
                    parts.append("\n")
            lines.append("".join(parts))
        blocks.append("\n".join(lines))
    props = _core_properties(zf)
    return {"text": "\n\n".join(blocks), "n_parts": len(blocks), **props}


# ---------------------------------------------------------------------------
# XLSX

def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    if "xl/sharedStrings.xml" not in zf.namelist():
        return []
    root = _parse_xml(_read_part(zf, "xl/sharedStrings.xml"),
                      "xl/sharedStrings.xml")
    out = []
    for si in root:
        if _local(si.tag) != "si":
            continue
        out.append("".join(
            el.text or "" for el in si.iter() if _local(el.tag) == "t"
        ))
    return out


def _cell_text(c: ET.Element, shared: list[str]) -> str:
    ctype = c.get("t", "n")
    if ctype == "inlineStr":
        return "".join(
            el.text or "" for el in c.iter() if _local(el.tag) == "t"
        )
    v = None
    for el in c:
        if _local(el.tag) == "v":
            v = el.text or ""
            break
    if v is None:
        return ""
    if ctype == "s":
        idx = int(v)
        if idx >= len(shared):
            raise ValueError(
                f"shared-string index {idx} out of range "
                f"({len(shared)} entries)"
            )
        return shared[idx]
    return v  # n / str / b / e: stored lexical form


def extract_xlsx(raw: bytes) -> dict:
    """Cell text of an XLSX: one block per worksheet part (numeric
    part order — same authoring-order contract as PPTX slides), one
    line per row, cells TAB-joined. ``n_parts`` = sheet count."""
    zf = _open_zip(raw)
    if "xl/workbook.xml" not in zf.namelist():
        raise ValueError("missing required part: xl/workbook.xml")
    shared = _shared_strings(zf)
    sheet_re = re.compile(r"^xl/worksheets/sheet(\d+)\.xml$")
    sheets = sorted(
        ((int(m.group(1)), name) for name in zf.namelist()
         if (m := sheet_re.match(name))),
    )
    blocks = []
    for _, name in sheets:
        root = _parse_xml(_read_part(zf, name), name)
        lines = []
        for row in root.iter():
            if _local(row.tag) != "row":
                continue
            cells = [
                _cell_text(c, shared)
                for c in row if _local(c.tag) == "c"
            ]
            lines.append("\t".join(cells))
        blocks.append("\n".join(lines))
    props = _core_properties(zf)
    return {"text": "\n\n".join(blocks), "n_parts": len(blocks), **props}


# ---------------------------------------------------------------------------
# ODF (OpenDocument: odt / odp / ods — ISO 26300)

def _odf_paragraph_text(p: ET.Element) -> str:
    """Flatten one ``text:p``/``text:h``: character data in document
    order, ``text:tab`` → TAB, ``text:line-break`` → newline,
    ``text:s c="n"`` → n spaces (ODF collapses literal runs)."""
    parts: list[str] = []

    def walk(el: ET.Element):
        name = _local(el.tag)
        if name == "tab":
            parts.append("\t")
        elif name == "line-break":
            parts.append("\n")
        elif name == "s":
            parts.append(" " * int(el.get(
                "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}c",
                el.get("c", "1"),
            ) or "1"))
        if el.text:
            parts.append(el.text)
        for child in el:
            walk(child)
            if child.tail:
                parts.append(child.tail)

    if p.text:
        parts.append(p.text)
    for child in p:
        walk(child)
        if child.tail:
            parts.append(child.tail)
    return "".join(parts)


def extract_odf(raw: bytes) -> dict:
    """Text of an ODF document (odt/odp/ods share one layout):
    ``content.xml`` walked in document order — ``text:p``/``text:h``
    one line each, spreadsheet ``table:table-row`` one line with
    cells TAB-joined, presentation pages separated by blank lines.
    Metadata from ``meta.xml`` (dc:title/dc:creator/dc:language/
    dc:date). Encrypted parts (``manifest`` encryption-data) raise."""
    zf = _open_zip(raw)
    names = zf.namelist()
    if "META-INF/manifest.xml" in names and b"encryption-data" in \
            _read_part(zf, "META-INF/manifest.xml"):
        raise ValueError("encrypted odf (manifest encryption-data)")
    root = _parse_xml(_read_part(zf, "content.xml"), "content.xml")
    lines: list[str] = []

    def walk_block(el: ET.Element):
        name = _local(el.tag)
        if name in ("p", "h"):
            lines.append(_odf_paragraph_text(el))
        elif name == "table-row":
            cells = []
            for tc in el:
                if _local(tc.tag) != "table-cell":
                    continue
                cell_lines: list[str] = []
                for sub in tc:
                    if _local(sub.tag) in ("p", "h"):
                        cell_lines.append(_odf_paragraph_text(sub))
                cells.append(" ".join(s for s in cell_lines if s))
            lines.append("\t".join(cells))
        elif name == "page":
            if lines and lines[-1] != "":
                lines.append("")  # presentation page separator
            for child in el:
                walk_block(child)
        else:
            for child in el:
                walk_block(child)

    body = None
    for el in root.iter():
        if _local(el.tag) == "body":
            body = el
            break
    if body is None:
        raise ValueError("content.xml: no office:body element")
    walk_block(body)
    while lines and lines[-1] == "":
        lines.pop()
    meta = {"title": None, "creator": None, "created": None,
            "modified": None, "language": None}
    if "meta.xml" in names:
        mroot = _parse_xml(_read_part(zf, "meta.xml"), "meta.xml")
        for el in mroot.iter():
            name = _local(el.tag)
            key = {"title": "title", "creator": "creator",
                   "language": "language", "date": "modified",
                   "creation-date": "created"}.get(name)
            if key and el.text and meta[key] is None:
                meta[key] = el.text.strip() or None
    return {"text": "\n".join(lines), "n_parts": len(lines), **meta}


# ---------------------------------------------------------------------------
# EPUB

def _epub_opf_path(zf: zipfile.ZipFile) -> str:
    container = _parse_xml(
        _read_part(zf, "META-INF/container.xml"), "META-INF/container.xml"
    )
    for el in container.iter():
        if _local(el.tag) == "rootfile":
            path = el.get("full-path")
            if path:
                return path
    raise ValueError("META-INF/container.xml: no rootfile full-path")


def extract_epub(raw: bytes) -> dict:
    """Open an EPUB container: spine chapters as ONE html string (in
    spine order, ``linear="no"`` included) plus OPF Dublin Core
    metadata. The caller feeds ``html`` to `operators/html.py`
    (`extract_main_text`) for the actual text work — this function
    deliberately returns markup, not text. ``n_parts`` = chapter
    count. DRM (``META-INF/encryption.xml``) raises."""
    zf = _open_zip(raw)
    if "META-INF/encryption.xml" in zf.namelist():
        raise ValueError("encrypted epub (META-INF/encryption.xml present)")
    opf_path = _epub_opf_path(zf)
    opf = _parse_xml(_read_part(zf, opf_path), opf_path)
    base = posixpath.dirname(opf_path)
    manifest: dict[str, str] = {}
    spine_ids: list[str] = []
    meta = {"title": None, "creator": None, "language": None,
            "created": None, "modified": None}
    for el in opf.iter():
        name = _local(el.tag)
        if name == "item" and el.get("id") and el.get("href"):
            manifest[el.get("id")] = el.get("href")
        elif name == "itemref" and el.get("idref"):
            spine_ids.append(el.get("idref"))
        elif name == "title" and el.text and meta["title"] is None:
            meta["title"] = el.text.strip() or None
        elif name == "creator" and el.text and meta["creator"] is None:
            meta["creator"] = el.text.strip() or None
        elif name == "language" and el.text and meta["language"] is None:
            meta["language"] = el.text.strip() or None
        elif name == "date" and el.text and meta["created"] is None:
            meta["created"] = el.text.strip() or None
    if not spine_ids:
        raise ValueError(f"{opf_path}: empty spine")
    chapters = []
    for idref in spine_ids:
        href = manifest.get(idref)
        if href is None:
            raise ValueError(f"{opf_path}: spine idref {idref!r} "
                             "not in manifest")
        # OPF hrefs are URIs: percent-decode and drop any fragment
        # before resolving against the zip's literal member names
        from urllib.parse import unquote
        href = unquote(href.split("#")[0])
        part = posixpath.normpath(posixpath.join(base, href)) if base \
            else href
        data = _read_part(zf, part)
        try:
            chapters.append(data.decode("utf-8"))
        except UnicodeDecodeError as e:
            raise ValueError(f"chapter {part}: not UTF-8: {e}") from None
    return {"text": "\n".join(chapters), "n_parts": len(chapters), **meta}


# ---------------------------------------------------------------------------
# Spark wrapper

OFFICE_TEXT_DDL = (
    "doc_id long, format string, text string, title string, "
    "creator string, created string, modified string, "
    "language string, n_parts int, error string"
)

_EXTRACTORS = {
    "docx": extract_docx,
    "pptx": extract_pptx,
    "xlsx": extract_xlsx,
    "odf": extract_odf,
    "epub": extract_epub,
}


def _office_rows(batch_iter) -> Iterator[pd.DataFrame]:
    cols = [f.split()[0] for f in OFFICE_TEXT_DDL.split(", ")]
    for batch in batch_iter:
        out = []
        for doc_id, raw in zip(batch["doc_id"], batch["doc"]):
            data = bytes(raw) if raw is not None else b""
            row = dict.fromkeys(cols)
            row["doc_id"] = doc_id
            fmt = sniff_office(data)
            row["format"] = fmt
            extractor = _EXTRACTORS.get(fmt)
            if extractor is None:
                row["error"] = f"unsupported container: {fmt}"
            else:
                try:
                    got = extractor(data)
                    # epub metadata lacks 'modified'; dict is sparse
                    for k, v in got.items():
                        if k in row:
                            row[k] = v
                except Exception as e:  # noqa: BLE001 — quarantine IS
                    # the stated policy for ANY extraction failure
                    # (front-door doctrine: a parser bug on malformed
                    # bytes must land the row, not fail the batch)
                    row["error"] = f"{type(e).__name__}: {e}"[:200]
            out.append(row)
        yield pd.DataFrame(out, columns=cols)


def extract_office_text(
    df,
    id_col: str = "doc_id",
    doc_col: str = "doc",
    partitions: int | None = None,
):
    """Distributed office/ebook text extraction via ``mapInPandas``.

    Slim (id, bytes) projection only (the `multimodal.py` doctrine);
    failures land as ``error`` rows — |input| == |output| always.
    EPUB rows return markup in ``text``; pipe them through
    `operators.html.extract_main_text` for visible text.
    """
    from pyspark.sql import functions as F

    slim = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(doc_col).alias("doc"),
    )
    if partitions:
        slim = slim.repartition(partitions, "doc_id")
    return slim.mapInPandas(_office_rows, schema=OFFICE_TEXT_DDL)
