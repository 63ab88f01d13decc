"""PDF layout-parse source: directory of PDFs → text-span DataFrame.

The north rule's extraction tier names "HTML boilerplate strip, PDF/layout
parse"; this is the PDF leg.  Same sharding shape as the WARC reader:
``binaryFile`` gives one row per document, an Arrow-batched ``mapInPandas``
does the parse — parallelism = number of files, the natural unit for
document corpora.

This is a real (minimal) parser, not a stub: pure-Python + stdlib ``zlib``,
it handles the subset that text-bearing machine-generated PDFs use —

- object scan (``N 0 obj`` … ``endobj``) without requiring a valid xref
  (crawled PDFs frequently have broken trailers);
- content streams, raw or ``/FlateDecode`` (zlib);
- text ops inside BT/ET blocks: ``Td``/``TD`` (relative moves), ``Tm``
  (absolute matrix), ``Tj`` / ``'`` (single string), ``TJ`` (array with
  kerning), with PDF string escapes (``\\)``, ``\\n``, octal).

Scanned/image-only PDFs yield zero spans (correct: there is no text layer);
CID/Type0 composite fonts come out as raw bytes decoded latin-1 — a real
deployment swaps ``_decode_pdf_string`` for a ToUnicode-aware decoder, and
everything around it (batching, schema, file-parallelism) is unchanged.

A deterministic writer (``write_pdf``) produces round-trippable fixtures so
tests cover writer → bytes → Spark source → spans.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..operators.rowmap import flat_map_rows

PDF_SPANS_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("page", IntegerType(), True),
        StructField("x", DoubleType(), True),
        StructField("y", DoubleType(), True),
        StructField("text", StringType(), True),
    ]
)

_STREAM_RE = re.compile(rb"stream\r?\n", re.DOTALL)
_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj")


def _object_streams(raw: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (object dict header keys as bytes blob, stream bytes) for every
    stream object, decompressing FlateDecode.  Tolerant of broken xrefs:
    scans for object markers directly."""
    for m in _OBJ_RE.finditer(raw):
        start = m.end()
        end = raw.find(b"endobj", start)
        if end < 0:
            continue
        body = raw[start:end]
        sm = _STREAM_RE.search(body)
        if sm is None:
            continue
        se = body.rfind(b"endstream")
        if se < 0:
            continue
        data = body[sm.end() : se]
        # strip one trailing EOL the spec allows before 'endstream'
        if data.endswith(b"\r\n"):
            data = data[:-2]
        elif data.endswith(b"\n"):
            data = data[:-1]
        header = body[: sm.start()]
        if b"/FlateDecode" in header:
            try:
                data = zlib.decompress(data)
            except zlib.error:
                continue
        yield header, data


_OCTAL = frozenset(b"0 1 2 3 4 5 6 7".split())

_PDF_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _decode_pdf_string(body: bytes) -> str:
    out = bytearray()
    i, n = 0, len(body)
    while i < n:
        c = body[i : i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = body[i + 1 : i + 2]
            if nxt in _PDF_ESCAPES:
                out += _PDF_ESCAPES[nxt]
                i += 2
                continue
            if nxt in _OCTAL:  # octal escape, 1-3 digits 0-7 (PDF spec);
                # b"8"/b"9" are NOT octal — isdigit() here made int(_, 8)
                # raise on malformed escapes like (\8) and kill the task
                j = i + 1
                while j < min(i + 4, n) and body[j : j + 1] in _OCTAL:
                    j += 1
                out.append(int(body[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            if nxt in (b"\n", b"\r"):  # line continuation: both dropped
                i += 2
                if nxt == b"\r" and body[i : i + 1] == b"\n":
                    i += 1  # \<CRLF> consumes the full newline
                continue
            out += nxt  # unknown escape: backslash ignored, char kept
            i += 2
            continue
        out += c
        i += 1
    return out.decode("latin-1")


# one token: a parenthesis string (with escapes) or a non-space run
_TOKEN_RE = re.compile(rb"\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>|\[|\]|[^\s\[\]()]+")


def _content_spans(stream: bytes) -> Iterator[tuple[float, float, str]]:
    """(x, y, text) spans from one content stream.  Tracks the text cursor
    through Td/TD/Tm inside BT/ET; Tj/'/TJ emit."""
    in_text = False
    x = y = 0.0
    lx = ly = 0.0  # line start (Td is relative to line start)
    stack: list[bytes] = []
    pending_strings: list[bytes] = []

    def flt(tok: bytes) -> float:
        try:
            return float(tok)
        except ValueError:
            return 0.0

    for m in _TOKEN_RE.finditer(stream):
        tok = m.group(0)
        if tok == b"BT":
            in_text = True
            x = y = lx = ly = 0.0
            stack.clear()
            continue
        if tok == b"ET":
            in_text = False
            stack.clear()
            continue
        if not in_text:
            continue
        if tok[:1] == b"(":
            pending_strings.append(tok[1:-1])
            stack.append(tok)
            continue
        if tok in (b"Td", b"TD"):
            if len(stack) >= 2:
                lx += flt(stack[-2])
                ly += flt(stack[-1])
                x, y = lx, ly
            stack.clear()
            pending_strings.clear()
            continue
        if tok == b"Tm":
            if len(stack) >= 6:
                lx, ly = flt(stack[-2]), flt(stack[-1])
                x, y = lx, ly
            stack.clear()
            pending_strings.clear()
            continue
        if tok == b"T*":
            x, y = lx, ly
            stack.clear()
            pending_strings.clear()
            continue
        if tok in (b"Tj", b"'"):
            if pending_strings:
                yield x, y, _decode_pdf_string(pending_strings[-1])
            stack.clear()
            pending_strings.clear()
            continue
        if tok == b"TJ":
            if pending_strings:
                yield x, y, "".join(_decode_pdf_string(s) for s in pending_strings)
            stack.clear()
            pending_strings.clear()
            continue
        if tok in (b"[", b"]"):
            continue
        stack.append(tok)
        if len(stack) > 8:  # bound operand memory on garbage streams
            del stack[:-8]


def extract_pdf_spans(raw: bytes) -> Iterator[tuple[int, float, float, str]]:
    """(page, x, y, text) for every text span in the document.  Page number
    = 1-based index of the content stream containing text (machine-written
    single-stream-per-page layout, the common case for text PDFs)."""
    if not raw.startswith(b"%PDF"):
        return
    page = 0
    for header, data in _object_streams(raw):
        spans = list(_content_spans(data))
        if not spans:
            continue
        page += 1
        for x, y, text in spans:
            yield page, x, y, text


def read_pdf_directory(
    spark: SparkSession, path: str, glob: str = "*.pdf"
) -> DataFrame:
    """Directory of PDFs → (url, page, x, y, text) spans with file-level
    parallelism (one task per file, like the WARC reader)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def span_rows(path_, content) -> Iterator[tuple]:
        for page, x, y, text in extract_pdf_spans(bytes(content)):
            yield path_, page, x, y, text

    # per-file yield (flat_map_rows): bounds RSS at one document's spans,
    # the WARC reader's discipline
    return files.mapInPandas(
        flat_map_rows(span_rows, PDF_SPANS_SCHEMA, ("path", "content")),
        schema=PDF_SPANS_SCHEMA,
    )


def write_pdf(path: str, pages: list[list[tuple[float, float, str]]]) -> None:
    """Deterministic minimal PDF writer: one content stream per page of
    (x, y, text) spans, uncompressed — round-trips through the reader."""
    objs: list[bytes] = []
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for i, spans in enumerate(pages):
        content_obj = 4 + 2 * i
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {content_obj} 0 R /Resources << /Font "
                f"<< /F1 {3 + 2 * n_pages} 0 R >> >> >>"
            ).encode()
        )
        parts = [b"BT /F1 12 Tf"]
        prev_x = prev_y = 0.0
        for x, y, text in spans:
            esc = (
                text.encode("latin-1", "replace")
                .replace(b"\\", b"\\\\")
                .replace(b"(", b"\\(")
                .replace(b")", b"\\)")
            )
            parts.append(
                f"{x - prev_x:g} {y - prev_y:g} Td".encode() + b" (" + esc + b") Tj"
            )
            prev_x, prev_y = x, y
        parts.append(b"ET")
        stream = b"\n".join(parts)
        objs.append(
            f"<< /Length {len(stream)} >>\nstream\n".encode()
            + stream
            + b"\nendstream"
        )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    with open(path, "wb") as f:
        f.write(bytes(out))
