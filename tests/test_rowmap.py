"""The row-batch harness (operators/rowmap.py): one output row per input
row for 1→1 operators, no empty frames for 1→n operators, and every
schema column on an empty batch."""

from collections import Counter

import pandas as pd

from readability_php_spark.config import Configuration
from readability_php_spark.kernel import extract
from readability_php_spark.operators.extract import (
    EXTRACT_SCHEMA,
    extract_operator,
    make_extract_batches,
)
from readability_php_spark.operators.rowmap import flat_map_rows, map_rows
from readability_php_spark.sources.charset import sniff_decode
from readability_php_spark.sources.pages import PAGES_SCHEMA
from readability_php_spark.sources.warc import (
    read_warc_directory,
    warc_records_to_rows,
)

CFG = Configuration(fix_relative_urls=True, article_byline=True, substitute_entities=True)

_PARA = (
    "<p>The harbour committee met on Tuesday to discuss the dredging plan, "
    "which has been delayed twice, and agreed to publish its findings.</p>\n"
)
BIG_PAGE = (
    "<html><head><title>Big page</title></head><body><article>"
    + _PARA * (1_000_000 // len(_PARA))
    + "</article></body></html>"
).encode()

AWKWARD_ROWS = [
    ("https://example.com/none", None),
    ("https://example.com/empty", b""),
    ("https://example.com/binary", bytes(range(256)) * 4),
    ("https://example.com/bad-utf8", b"<html><body><p>caf\xe9 \xff\xfe \xc3</p></body></html>"),
    ("https://example.com/big", BIG_PAGE),
    # a duplicate url: the multiset, not the set, must survive
    ("https://example.com/empty", b""),
]


def _kernel_error(url, raw):
    html = "" if raw is None else sniff_decode(raw)[0]
    return extract(html, CFG.with_overrides(original_url=url), url=url).error


def test_extract_one_row_per_input_on_awkward_pages(spark):
    pages = spark.createDataFrame(AWKWARD_ROWS, "url string, html binary").repartition(3)
    rows = extract_operator(pages, CFG).select("url", "html_bytes", "error").collect()
    assert Counter(r.url for r in rows) == Counter(u for u, _ in AWKWARD_ROWS)
    got = {(r.url, r.html_bytes): r.error for r in rows}
    for url, raw in AWKWARD_ROWS:
        assert got[(url, len(raw or b""))] == _kernel_error(url, raw), url
    assert got[("https://example.com/none", 0)] is not None
    assert got[("https://example.com/empty", 0)] is not None
    assert got[("https://example.com/big", len(BIG_PAGE))] is None


def test_map_rows_one_frame_per_batch_and_carry():
    schema = PAGES_SCHEMA
    batches = [
        pd.DataFrame({"url": ["a", "b", "c"], "tag": ["en", "de", "fr"]}),
        pd.DataFrame({"url": [], "tag": []}),
        pd.DataFrame({"url": ["d"], "tag": ["es"]}),
    ]
    fn = map_rows(lambda url: (url, None, url.upper(), None, None), schema, ("url",), ("tag",))
    frames = list(fn(iter(batches)))
    assert len(frames) == len(batches)
    for pdf, out in zip(batches, frames):
        assert list(out.columns) == schema.fieldNames() + ["tag"]
        assert out["url"].tolist() == pdf["url"].tolist()
        assert out["html"].tolist() == [u.upper() for u in pdf["url"]]
        assert out["tag"].tolist() == pdf["tag"].tolist()


def test_extract_empty_batch_has_every_column():
    empty = pd.DataFrame({"url": pd.Series([], dtype=object), "html": pd.Series([], dtype=object)})
    (out,) = list(make_extract_batches(CFG)(iter([empty])))
    assert list(out.columns) == EXTRACT_SCHEMA.fieldNames()
    assert len(out) == 0
    (out,) = list(make_extract_batches(CFG, carry=("warc_ts",))(iter([empty.assign(warc_ts=[])])))
    assert list(out.columns) == EXTRACT_SCHEMA.fieldNames() + ["warc_ts"]


def test_flat_map_rows_yields_no_empty_frames():
    fn = flat_map_rows(
        lambda n: ((f"u{n}-{i}", None, None, None, None) for i in range(n)),
        PAGES_SCHEMA,
        ("n",),
    )
    frames = list(fn(iter([pd.DataFrame({"n": [0, 2, 0]}), pd.DataFrame({"n": [1, 0]})])))
    assert [f["url"].tolist() for f in frames] == [["u2-0", "u2-1"], ["u1-0"]]
    assert all(list(f.columns) == PAGES_SCHEMA.fieldNames() for f in frames)


WARCINFO_ONLY = (
    b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Type: application/warc-fields\r\n"
    b"Content-Length: 20\r\n\r\nsoftware: test-suite\r\n\r\n"
)


def test_warc_without_response_records_yields_nothing(spark, tmp_path):
    fn = flat_map_rows(warc_records_to_rows, PAGES_SCHEMA, ("content",))
    assert list(fn(iter([pd.DataFrame({"content": [WARCINFO_ONLY]})]))) == []
    (tmp_path / "info.warc").write_bytes(WARCINFO_ONLY)
    assert read_warc_directory(spark, str(tmp_path)).collect() == []
