"""Per-format parsers + title extraction (reference S6/T7/T14,
src/parser/index.ts:272-289, src/parser/title-extractor.ts).

MD/TXT/DOCX/HTML/PDF are all fully implemented with the stdlib (DOCX via
zipfile+ElementTree in sources/docx.py; HTML via html.parser in
sources/html.py; PDF via the object-scan + FlateDecode + text-state
interpreter in sources/pdf_mini.py). pymupdf, when importable, takes
precedence for PDF (the reference's engine, src/parser/pdf-extract.ts).

Parsers run inside ``mapInPandas`` over (path, content) binary rows — the
bytes never leave the executor. DOCX table rows surface as atomic
[start, end) ranges that bypass sentence splitting and the min-length
filter downstream (reference T2).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .docx import filename_title, parse_docx_bytes
from .html import parse_html_text

_FRONTMATTER_RE = re.compile(r"\A---\s*\n(.*?)\n---\s*\n", re.DOTALL)
_FM_TITLE_RE = re.compile(r"^title:\s*[\"']?(.+?)[\"']?\s*$", re.MULTILINE)
_H1_RE = re.compile(r"^#\s+(.+?)\s*$", re.MULTILINE)


def extract_md_title(text: str, path: str) -> str:
    """MD priority chain: frontmatter title -> first H1 -> filename
    (reference src/parser/title-extractor.ts:54-69)."""
    fm = _FRONTMATTER_RE.match(text)
    if fm:
        m = _FM_TITLE_RE.search(fm.group(1))
        if m:
            return m.group(1).strip()
    m = _H1_RE.search(text)
    if m:
        return m.group(1).strip()
    return filename_title(path)


def extract_txt_title(text: str, path: str) -> str:
    """TXT: first line iff followed by a blank line; else filename
    (reference src/parser/title-extractor.ts:79-97)."""
    lines = text.split("\n")
    if len(lines) >= 2 and lines[0].strip() and not lines[1].strip():
        return lines[0].strip()
    return filename_title(path)


def parse_pdf_bytes(path: str, content: bytes) -> dict:
    """PDF decode: pymupdf when importable (the reference's engine,
    src/parser/pdf-extract.ts), else the pure-stdlib extractor
    (sources/pdf_mini.py — object scan, FlateDecode, page-tree walk,
    text-state interpreter). Both produce the same position-row shape, so
    the T5/T6/T7 pipeline (operators/pdf_layout.py) runs unchanged on
    real bytes either way."""
    try:
        import fitz  # noqa: F401  (pymupdf)
    except ImportError:
        from .pdf_mini import parse_pdf_mini

        return parse_pdf_mini(path, content)
    from ..operators.pdf_layout import parse_pdf_with_fitz

    return parse_pdf_with_fitz(path, content)


def parse_text_bytes(path: str, content: bytes) -> dict:
    """Parse one file: {text, title, atomic_ranges}."""
    from .structured import maybe_decompress

    path, content = maybe_decompress(path, content)  # a.md.gz -> a.md
    ext = path.rsplit(".", 1)[-1].lower() if "." in path else ""
    if ext == "docx":
        return parse_docx_bytes(path, content)
    if ext == "pdf":
        return parse_pdf_bytes(path, content)
    text = content.decode("utf-8", errors="replace")
    if ext == "md":
        return {"text": text, "title": extract_md_title(text, path), "atomic_ranges": []}
    if ext == "txt":
        return {"text": text, "title": extract_txt_title(text, path), "atomic_ranges": []}
    if ext in ("html", "htm"):
        parsed = parse_html_text(path, text)
        return {"text": parsed["text"], "title": parsed["title"], "atomic_ranges": []}
    raise ValueError(f"unsupported extension: {path}")


# the columns the parse adds; the input's other columns pass through
_PARSED_FIELDS = [
    StructField("text", StringType()),
    StructField("title", StringType()),
    StructField("atomic_ranges", ArrayType(ArrayType(IntegerType()))),
    StructField("parse_error", StringType()),
]


def parse_files(files: DataFrame) -> DataFrame:
    """(path, content, *carried) -> (path, *carried, text, title,
    atomic_ranges, parse_error); unparseable files carry the error instead
    of failing the job (coverage, not crash). Every input column but
    ``content`` passes through the same pass (a content hash, the file
    length, a row id), so a caller never joins the parse back to its
    input — that join scans the bytes a second time."""
    names = [f.name for f in _PARSED_FIELDS]

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    parsed = parse_text_bytes(path, bytes(content))
                    rows.append(
                        (parsed["text"], parsed["title"],
                         parsed.get("atomic_ranges") or [], None)
                    )
                except Exception as e:  # noqa: BLE001 — coverage fact, not crash
                    rows.append((None, None, None, f"{type(e).__name__}: {e}"))
            carried = pdf.drop(columns="content").reset_index(drop=True)
            yield pd.concat([carried, pd.DataFrame(rows, columns=names)], axis=1)

    schema = StructType(
        [f for f in files.schema.fields if f.name != "content"] + _PARSED_FIELDS
    )
    return files.mapInPandas(_parse, schema)
