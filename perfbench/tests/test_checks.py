"""The output checks catch missing, duplicate, stray, errored and altered rows."""

import pandas as pd
import pytest

import checks
import gen


@pytest.fixture(scope="module")
def clean():
    from readability_php_spark.config import Configuration
    from readability_php_spark.kernel import extract
    from readability_php_spark.sources.charset import sniff_decode

    pages = gen.generate("short_pages", 3, limit=6)
    config = Configuration(fix_relative_urls=True, article_byline=True, substitute_entities=True)
    rows = []
    for p in pages:
        r = extract(sniff_decode(p.html)[0], config.with_overrides(original_url=p.url), url=p.url)
        rows.append({"url": p.url, **{f: getattr(r, f) for f in checks.FIELDS}})
    return pages, pd.DataFrame(rows), config


def test_clean_output_passes(clean):
    pages, out, config = clean
    assert checks.failed_urls(pages, out) == set()
    assert checks.unexpected_urls(pages, out) == set()
    assert checks.kernel_mismatches(pages, out, config) == []


def test_missing_duplicate_and_stray_rows(clean):
    pages, out, config = clean
    bad = pd.concat([out.iloc[1:], out.iloc[[1]]], ignore_index=True)
    bad.loc[len(bad)] = dict(out.iloc[2], url="http://stray.example/")
    assert checks.failed_urls(pages, bad) == {pages[0].url, pages[1].url}
    assert checks.unexpected_urls(pages, bad) == {"http://stray.example/"}
    assert checks.kernel_mismatches(pages[:2], bad, config) == [
        f"{pages[0].url}: 0 output rows", f"{pages[1].url}: 2 output rows"]


def test_errored_and_altered_rows(clean):
    pages, out, config = clean
    bad = out.copy()
    bad.loc[2, "title"] = "changed"
    bad.loc[3, "error"] = "unparseable"
    assert checks.failed_urls(pages, bad) == {pages[3].url}
    assert checks.kernel_mismatches(pages, bad, config) == [
        f"{pages[2].url}: title", f"{pages[3].url}: error"]
