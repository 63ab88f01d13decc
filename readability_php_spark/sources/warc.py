"""WARC ingestion: Common-Crawl archive files → pages DataFrame.

The corpus the north rule targets ships as WARC (ISO 28500): gzip members of
``WARC/1.0`` records.  This reader turns a directory of ``.warc`` /
``.warc.gz`` files into the engine's pages schema
``(url, warc_ts, html, text, lang)`` with **file-level parallelism**:
``spark.read.format("binaryFile")`` gives one row per archive, and an
Arrow-batched ``mapInPandas`` parses records — at Common-Crawl scale each
~1 GB WARC is one task, so parallelism = number of archives, which is
exactly how CC jobs are sharded in practice.

Pure-Python record parser (no warcio in this container); handles
``response`` records, chunked-free HTTP payloads, and per-record gzip
members (the Common-Crawl layout).
"""

from __future__ import annotations

import datetime
import gzip
import io
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators.rowmap import flat_map_rows
from .pages import PAGES_SCHEMA

_CRLF = b"\r\n"


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode("latin-1")
    return headers


def iter_warc_records(raw: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (warc_headers, payload) for each record.  Accepts plain or
    gzip (including multi-member per-record gzip, the Common-Crawl form)."""
    if raw[:2] == b"\x1f\x8b":
        # decompress all members (GzipFile iterates concatenated members)
        raw = gzip.GzipFile(fileobj=io.BytesIO(raw)).read()
    pos = 0
    n = len(raw)
    while pos < n:
        start = raw.find(b"WARC/", pos)
        if start < 0:
            break
        head_end = raw.find(_CRLF + _CRLF, start)
        if head_end < 0:
            break
        headers = _parse_headers(raw[start:head_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            # Content-Length missing or malformed: without it the next
            # record boundary is unknowable — scanning forward would match
            # 'WARC/' INSIDE this record's payload and fabricate records
            # with payload-controlled headers.  Stop parsing the archive
            # at the last well-formed record instead of poisoning output.
            break
        body_start = head_end + 4
        payload = raw[body_start : body_start + length]
        yield headers, payload
        pos = body_start + length


def _http_payload(payload: bytes) -> bytes:
    """Strip the HTTP response envelope from a response record payload."""
    if payload[:5] in (b"HTTP/",):
        sep = payload.find(_CRLF + _CRLF)
        if sep >= 0:
            return payload[sep + 4 :]
    return payload


def _warc_ts(value: Optional[str]):
    if not value:
        return None
    try:
        return datetime.datetime.strptime(value, "%Y-%m-%dT%H:%M:%SZ")
    except ValueError:
        return None


def warc_records_to_rows(raw: bytes) -> Iterator[tuple]:
    for headers, payload in iter_warc_records(raw):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        html = _http_payload(payload)
        yield (url, _warc_ts(headers.get("warc-date")), html, None, None)


def _read_archives(spark: SparkSession, path: str, glob: str, records_to_rows) -> DataFrame:
    """Directory of archives → pages DataFrame, one task per archive and
    one yielded frame per archive: accumulating a whole input batch of
    ~1 GB archives' decompressed records unbounds executor memory, while
    per-archive frames cap RSS at one archive."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
    )
    return files.mapInPandas(
        flat_map_rows(records_to_rows, PAGES_SCHEMA, ("content",)),
        schema=PAGES_SCHEMA,
    )


def read_warc_directory(spark: SparkSession, path: str, glob: str = "*.warc*") -> DataFrame:
    """Directory of WARC files → pages DataFrame (one task per archive)."""
    return _read_archives(spark, path, glob, warc_records_to_rows)


# --- test/bench support: deterministic WARC writer --------------------------

def write_warc(path: str, pages: list[tuple[str, str, bytes]], compress: bool = False) -> None:
    """Write (url, iso_ts, html_bytes) pages as a WARC file (response
    records with an HTTP envelope) — used by tests; no external data."""
    out = io.BytesIO()
    for url, ts, html in pages:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            + b"Content-Length: " + str(len(html)).encode() + _CRLF + _CRLF + html
        )
        rec_headers = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: " + url.encode() + _CRLF +
            b"WARC-Date: " + ts.encode() + _CRLF +
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode() + _CRLF + _CRLF
        )
        out.write(rec_headers + http + _CRLF + _CRLF)
    data = out.getvalue()
    if compress:
        data = gzip.compress(data)
    with open(path, "wb") as f:
        f.write(data)


# --- WET (extracted-text conversion records) ---------------------------------

def wet_records_to_rows(raw: bytes) -> Iterator[tuple]:
    """WET files are WARC containers whose ``conversion`` records carry the
    pre-extracted plain text (Common Crawl ships WARC/WAT/WET triples; many
    training pipelines start from WET and skip HTML extraction entirely).
    Same container parser, different record type and payload semantics."""
    for headers, payload in iter_warc_records(raw):
        if headers.get("warc-type") != "conversion":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        text = payload.decode("utf-8", errors="replace")
        yield (url, _warc_ts(headers.get("warc-date")), None, text, None)


def read_wet_directory(spark: SparkSession, path: str, glob: str = "*.wet*") -> DataFrame:
    """Directory of WET files → pages DataFrame with ``text`` populated and
    ``html`` null (one task per archive, same sharding shape as WARC)."""
    return _read_archives(spark, path, glob, wet_records_to_rows)


def write_wet(path: str, docs: list[tuple[str, str, str]], compress: bool = False) -> None:
    """Write (url, iso_ts, text) docs as a WET file (conversion records) —
    test support, no external data."""
    out = io.BytesIO()
    for url, ts, text in docs:
        body = text.encode("utf-8")
        rec_headers = (
            b"WARC/1.0\r\n"
            b"WARC-Type: conversion\r\n"
            b"WARC-Target-URI: " + url.encode() + _CRLF +
            b"WARC-Date: " + ts.encode() + _CRLF +
            b"Content-Type: text/plain\r\n"
            b"Content-Length: " + str(len(body)).encode() + _CRLF + _CRLF
        )
        out.write(rec_headers + body + _CRLF + _CRLF)
    data = out.getvalue()
    if compress:
        data = gzip.compress(data)
    with open(path, "wb") as f:
        f.write(data)
