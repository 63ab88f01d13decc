"""Targeted unit tests for scoring/candidate-selection semantics (A1-A11)
— quirks that golden fixtures exercise only incidentally."""

import re

from readability_php_spark.config import Configuration
from readability_php_spark.kernel import extract
from readability_php_spark.kernel.readability import Readability
from readability_php_spark.kernel.scan import get_nodes
from readability_php_spark.kernel.scoring import rate_nodes

CFG = Configuration(article_byline=True)

LONG = (
    "This sentence has enough words, with commas, to score as real content "
    "for the paragraph scorer, every single time. "
)


def run(html, cfg=CFG):
    r = Readability(cfg)
    return r, r.parse(html)


def test_comma_scoring_php_explode_quirk():
    # A1: score includes count(explode(',')) = commas + 1
    r = Readability(CFG)
    r.dom = r.load_html(
        f"<html><body><div><p>{'word ' * 10}, one, two, three commas here.</p>"
        f"<p>{LONG}</p></div></body></html>"
    )
    els = get_nodes(r, r.dom.body.first_child)
    rate_nodes(r, els)
    # parent div initialized with +5 tag prior and received paragraph scores
    div = None
    for el in r.dom.iter_desc("div"):
        if el.initialized:
            div = el
    assert div is None or div.content_score != 0


def test_body_fallback_when_no_candidates():
    # A7: all paragraphs under 25 chars → top candidate is synthesized div
    html = "<html><body><p>short.</p><p>also short.</p></body></html>"
    r = extract(html, Configuration(char_threshold=1))
    assert r.error is None
    assert r.content_html.startswith("<div>")
    assert "short." in r.extracted_text


def test_sibling_merge_pulls_good_paragraph():
    # A11: a sibling <p> with >80 chars and zero link density joins the article
    para = LONG * 3
    html = (
        f"<html><body><div><div id='main'><p>{para}</p><p>{para}</p></div>"
        f"<p>{LONG}</p></div></body></html>"
    )
    r = extract(html, Configuration(char_threshold=100))
    assert r.error is None
    # the standalone sibling paragraph made it into the article
    assert r.extracted_text.count(LONG.strip()[:30]) >= 3


def test_sibling_non_block_retagged_to_div():
    # A11 retags an appended sibling that isn't div/article/section/p to
    # <div>; here the outer <div> holding both paragraphs wins, so the
    # <blockquote> is inside the top candidate, not a sibling of it, and
    # keeps its tag
    para = LONG * 4
    html = (
        "<html><body><div>"
        f"<blockquote id='bq'><p>{para}</p></blockquote>"
        f"<p>{para} And more, with commas, and length.</p>"
        "</div></body></html>"
    )
    r = extract(html, Configuration(char_threshold=100))
    assert r.error is None
    assert re.findall(r"<(/?\w+)", r.content_html) == [
        "div", "blockquote", "p", "/p", "/blockquote", "p", "/p", "/div"
    ]
    assert '<blockquote id="bq">' in r.content_html
    assert r.extracted_text.count(LONG.strip()[:30]) == 8


def test_video_embed_survives_clean():
    # C2: iframe with a youtube URL survives the unconditional clean
    para = LONG * 6
    html = (
        f"<html><body><div><p>{para}</p>"
        '<iframe src="https://www.youtube.com/embed/xyz"></iframe>'
        f"<p>{para}</p></div></body></html>"
    )
    r = extract(html, Configuration(char_threshold=100))
    assert r.error is None
    assert "youtube.com/embed/xyz" in (r.content_html or "")


def test_non_video_iframe_removed():
    para = LONG * 6
    html = (
        f"<html><body><div><p>{para}</p>"
        '<iframe src="https://ads.example.com/frame"></iframe>'
        f"<p>{para}</p></div></body></html>"
    )
    r = extract(html, Configuration(char_threshold=100))
    assert r.error is None
    assert "ads.example.com" not in (r.content_html or "")


def test_byline_rel_author_wins_without_length_check():
    # M4 precedence quirk: rel="author" alone triggers, even for long text
    longname = "Name " * 40  # > 100 chars, would fail isValidByline
    para = LONG * 6
    html = (
        f'<html><body><div><span rel="author">{longname}</span>'
        f"<p>{para}</p><p>{para}</p></div></body></html>"
    )
    r = extract(html, Configuration(article_byline=True, char_threshold=100))
    assert r.byline == longname.strip()


def test_byline_class_requires_valid_length():
    longname = "Name " * 40
    para = LONG * 6
    html = (
        f'<html><body><div><span class="byline">{longname}</span>'
        f"<p>{para}</p><p>{para}</p></div></body></html>"
    )
    r = extract(html, Configuration(article_byline=True, char_threshold=100))
    assert r.byline is None  # >100 chars and no rel=author → rejected


def test_data_table_descendants_protected_from_conditional_clean():
    # C3+C4: the PHP reference protects DESCENDANTS of data tables (ancestor
    # check, src/Readability.php:1467), not the table itself (unlike
    # Readability.js).  A link-heavy div inside a <th>-marked table survives;
    # the same div outside would be conditionally cleaned.
    inner_div = (
        "<div>" + "".join(f"<a href='/{i}'>link {i}</a> " for i in range(8)) + "</div>"
    )
    para = LONG * 6
    content = "".join(
        f"<tr><td>cell text with words {i}, commas, and more content</td></tr>"
        for i in range(10)
    )
    html = (
        f"<html><body><div><p>{para}</p>"
        f"<table><tr><th>k</th></tr>{content}<tr><td>{inner_div}</td></tr></table>"
        f"<p>{para}</p></div></body></html>"
    )
    r = extract(html, Configuration(char_threshold=100))
    assert r.error is None
    if "<table" in (r.content_html or ""):
        # table survived (enough commas) → its inner link div must too
        assert "link 7" in r.content_html
    # control: the same div outside any table is removed
    html2 = (
        f"<html><body><div><p>{para}</p>{inner_div}"
        f"<p>{para}</p></div></body></html>"
    )
    r2 = extract(html2, Configuration(char_threshold=100))
    assert "link 7" not in (r2.content_html or "")
