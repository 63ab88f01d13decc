"""Property-based robustness tests (hypothesis).

The 10^12-row invariant: NO input may crash the kernel — bad rows become
error values.  These fuzz the parser/serializer/kernel with adversarial
HTML-ish strings.
"""

from hypothesis import example, given, settings, strategies as st

from readability_php_spark.config import Configuration
from readability_php_spark.dom import parse_html, serialize
from readability_php_spark.kernel import extract

# tag-soup generator: fragments of open/close tags, attrs, entities, junk
_tags = st.sampled_from(
    ["div", "p", "a", "span", "table", "tr", "td", "li", "ul", "br", "script",
     "style", "h1", "body", "html", "head", "svg", "form", "foo-bar", "P"]
)
_fragment = st.one_of(
    st.text(max_size=20),
    _tags.map(lambda t: f"<{t}>"),
    _tags.map(lambda t: f"</{t}>"),
    _tags.map(lambda t: f"<{t} class='x y' id=z>"),
    _tags.map(lambda t: f"<{t} onclick=\"a<b\" data-x='1&amp;2'/>"),
    st.sampled_from(["<!-- c -->", "<![CDATA[x]]>", "<!DOCTYPE html>", "<?php ?>",
                     "&amp;", "&nbsp;", "&#60;", "&bogus;", "<", ">", "&", '"',
                     "<a href=/x/>", "<td nowrap>", "< notag", "</>", "<>"]),
)
_soup = st.lists(_fragment, max_size=40).map("".join)


def _element_tree(doc):
    return [(e.tag, sorted(e.attrs.items())) for e in doc.iter_desc()]


@settings(max_examples=150, deadline=None)
@given(_soup)
@example("a &#60;b&#62; c")  # escaped markup in text must stay text
def test_parse_never_raises(soup):
    # parse and serialize never raise, and one serialize∘parse round
    # reaches a fixpoint: re-parsing the output rebuilds the same element
    # tree, and re-serializing it gives the same bytes — except inside
    # <script>/<style>, whose raw text the serializer escapes and the
    # parser keeps verbatim, so '<script><div></script>' gains one
    # '&amp;' layer per round
    doc = parse_html(soup)
    out = serialize(doc)
    again = parse_html(out)
    assert _element_tree(again) == _element_tree(doc)
    if "<script" not in soup.lower() and "<style" not in soup.lower():
        assert serialize(again) == out


@settings(max_examples=100, deadline=None)
@given(_soup)
def test_extract_never_raises(soup):
    r = extract(f"<html><body>{soup}</body></html>", Configuration())
    assert r is not None  # error column, never an exception


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=300))
def test_serializer_escaping_roundtrip(text):
    # any text content survives serialize→parse unchanged
    from readability_php_spark.dom.node import Document, Element, Text

    d = Document()
    p = Element("p")
    p.append_child(Text(text))
    d.append_child(p)
    out = serialize(p)
    re_doc = parse_html(f"<html><body>{out}</body></html>")
    ps = re_doc.get_elements_by_tag_name("p")
    assert len(ps) == 1
    # \r is normalized to &#xD; by C14N and decoded back by charref handling
    assert ps[0].text_content == text


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=400))
def test_extract_arbitrary_bytes(raw):
    r = extract(raw.decode("utf-8", errors="replace"), Configuration())
    assert r is not None


def test_extract_pathological_sizes_complete():
    """100k-deep nesting and 50k-wide sibling pages must complete (bounded
    by MAX_OPEN_DEPTH / iterative walks), not hang or blow the stack."""
    import time as _t

    deep = "<html><body>" + "<div>" * 100_000 + "x" + "</div>" * 100_000 + "</body></html>"
    t0 = _t.perf_counter()
    assert extract(deep, Configuration()) is not None
    assert _t.perf_counter() - t0 < 60
    wide = (
        "<html><body>"
        + "".join(f"<p>paragraph {i} with some words.</p>" for i in range(50_000))
        + "</body></html>"
    )
    t0 = _t.perf_counter()
    r = extract(wide, Configuration())
    assert r.error is None and r.extracted_text
    assert _t.perf_counter() - t0 < 120


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=600))
def test_pdf_spans_never_raise(raw):
    from readability_php_spark.sources.pdf import extract_pdf_spans

    # arbitrary bytes, and the same bytes dressed up as a PDF with stream
    # markers — the parser must yield spans or nothing, never raise
    list(extract_pdf_spans(raw))
    list(extract_pdf_spans(b"%PDF-1.4\n1 0 obj\nstream\n" + raw + b"\nendstream\nendobj"))
