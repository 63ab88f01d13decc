"""Seeded corpus generator: pages and file layout are a pure function of
(workload, seed).

Every workload keeps its shape fixed across seeds -- page count, size
strata, archetype mix and file count -- and the seed only chooses the text,
the exact sizes inside each stratum and the page-to-file placement.  So two
seeds do the same amount of work and a run-to-run spread measures the
program, not the corpus.

Archetypes follow the kernel branches of SURVEY.md section 2: og/twitter and
JSON-LD metadata (M1/M2), bylines (M4), unlikely-candidate classes (F4),
hidden nodes (F2), ``<br>`` chains (P2), ``<font>`` (P3), data vs layout
tables (C3/C10), lazy images (C12/M6), RTL text (M9) and comment threads.
"""

from __future__ import annotations

import gzip
import hashlib
import math
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

TEXT_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.txt.gz")

ARCHETYPES = (
    "metadata", "byline", "unlikely", "hidden", "br_chain",
    "font", "tables", "lazy_images", "rtl", "comments",
)

#: upper edges of the reported size histogram, in KB
HIST_EDGES_KB = (2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048)


@dataclass(frozen=True)
class Spec:
    pages: int
    files: int
    min_kb: float
    max_kb: float
    #: a ``<br>``-chain page's size is capped here: its P2 rebuild is
    #: quadratic, and one 1.6 MB chain page alone would outlast a run
    br_max_kb: float = 1024.0


SPECS = {
    # log-spread crawl pages, ten archetypes at every size
    "crawl_mix": Spec(pages=100, files=40, min_kb=1, max_kb=1600),
    # 1-4 KB template pages; three in four fall under char_threshold and retry
    "short_pages": Spec(pages=1400, files=40, min_kb=1, max_kb=4),
    # crawl pages without the megabyte tail, for eight waves of small commits
    "resume_after_crash": Spec(pages=160, files=16, min_kb=1, max_kb=96),
}


@dataclass(frozen=True)
class Page:
    url: str
    html: bytes
    archetype: str


def _texts() -> list[str]:
    with gzip.open(TEXT_PATH, "rt", encoding="utf-8") as f:
        return [line.rstrip("\n") for line in f if line.strip()]


class _Writer:
    """Draws article text and boilerplate from the documents sample."""

    def __init__(self, rng: random.Random, texts: list[str]) -> None:
        self.rng = rng
        self.texts = texts

    def row(self) -> str:
        return self.rng.choice(self.texts)

    def words(self, n: int) -> str:
        w = self.row().split()
        return " ".join(w[i % len(w)] for i in range(n))

    def sentence(self) -> str:
        # commas feed the A1 paragraph score
        parts = self.row().split()
        cut = max(1, len(parts) // 4)
        return ", ".join(" ".join(parts[i:i + cut]) for i in range(0, len(parts), cut)) + "."


def _head(w: _Writer, title: str, archetype: str, encoding: str) -> str:
    h = [f'<meta charset="{encoding}">', f"<title>{title} | The Daily {w.words(1).title()}</title>"]
    if archetype == "metadata":
        desc = w.words(24)
        h += [
            f'<meta property="og:title" content="{title}">',
            f'<meta property="og:description" content="{desc}">',
            '<meta property="og:image" content="/media/lead.jpg">',
            '<meta property="og:site_name" content="The Daily">',
            f'<meta name="twitter:title" content="{title}">',
            '<meta name="twitter:creator" content="@desk">',
            '<script type="application/ld+json">{"@context":"https://schema.org",'
            f'"@type":"NewsArticle","headline":"{title}","author":{{"name":"{w.words(2)}"}}}}</script>',
        ]
    h.append('<link rel="stylesheet" href="/static/site.css"><script>var ads=[];</script>')
    return "".join(h)


def _chrome_top(w: _Writer) -> str:
    links = "".join(f'<li><a href="/section/{i}">{w.words(1)}</a></li>' for i in range(8))
    return (f'<header class="site-header"><nav class="menu navigation"><ul>{links}</ul></nav>'
            f'<div class="banner ad-break">{w.words(6)}</div></header>')


def _chrome_bottom(w: _Writer) -> str:
    rel = "".join(f'<li><a href="/story/{i}.html">{w.words(5)}</a></li>' for i in range(5))
    return (f'<aside class="sidebar related"><h3>Related</h3><ul>{rel}</ul></aside>'
            f'<div class="share social"><a href="#">share</a> <a href="#">tweet</a></div>'
            f'<footer class="footer"><p>{w.words(12)}</p><a href="javascript:void(0)">top</a></footer>')


def _block(w: _Writer, archetype: str, i: int) -> str:
    """One unit of article body in the page's archetype."""
    s = w.sentence()
    if archetype == "br_chain":
        return f"{s} {w.sentence()}<br><br>\n"
    if archetype == "font":
        return f'<p><font face="Georgia" size="3">{s}</font> {w.sentence()}</p>\n'
    if archetype == "hidden" and i % 3 == 0:
        return (f'<p>{s}</p><div style="display:none" class="promo">{w.sentence()}</div>'
                f'<p hidden>{w.words(10)}</p>\n')
    if archetype == "unlikely" and i % 3 == 0:
        return (f'<p>{s}</p><div class="sidebar related-posts">{w.words(20)}</div>'
                f'<div class="comment-ad widget">{w.words(8)}</div>\n')
    if archetype == "tables" and i % 4 == 0:
        if i % 8 == 0:
            cells = "".join(
                f"<tr><td>{w.words(1)}</td><td>{r}</td><td>{r * 7}</td></tr>" for r in range(12)
            )
            return (f"<table><caption>{w.words(4)}</caption><thead><tr><th>k</th><th>n</th>"
                    f"<th>v</th></tr></thead><tbody>{cells}</tbody></table><p>{s}</p>\n")
        return f'<table role="presentation"><tr><td><p>{s}</p></td></tr></table>\n'
    if archetype == "lazy_images" and i % 2 == 0:
        return (f'<figure><img class="lazy" src="data:image/gif;base64,R0lGOD" '
                f'data-src="/media/{i}.jpg" alt="{w.words(3)}"><figcaption>{w.words(6)}'
                f"</figcaption></figure><p>{s}</p>\n")
    if archetype == "comments" and i % 2 == 1:
        return f'<div class="comment" id="c{i}"><p class="comment-author">{w.words(2)}</p><p>{s}</p></div>\n'
    return f"<p>{s} {w.sentence()}</p>\n"


def _crawl_page(w: _Writer, url: str, archetype: str, target: int) -> Page:
    title = w.words(8).capitalize()
    encoding = "windows-1252" if w.rng.random() < 0.1 else "utf-8"
    head = _head(w, title, archetype, encoding)
    byline = ""
    if archetype == "byline":
        byline = f'<p class="byline">By <a rel="author" href="/people/x">{w.words(2).title()}</a></p>'
    body_attr = ' dir="rtl"' if archetype == "rtl" else ""
    top = f"<!DOCTYPE html><html><head>{head}</head><body{body_attr}>{_chrome_top(w)}"
    art_open = f'<div id="main" class="article-container"><h1>{title}</h1>{byline}<div class="article-body entry-content">'
    if archetype == "br_chain":
        art_open += "<div>"
    if archetype == "comments":
        art_open += f"<p>{w.sentence()} {w.sentence()}</p></div><div class='comments' id='comments'>"
    bottom = ("</div>" if archetype == "br_chain" else "") + "</div></div>" + _chrome_bottom(w) + "</body></html>"
    size = len(top) + len(art_open) + len(bottom)
    body: list[str] = []
    i = 0
    while size < target or i < 2:  # the smallest pages still get an article
        b = _block(w, archetype, i)
        body.append(b)
        size += len(b)
        i += 1
    html = top + art_open + "".join(body) + bottom
    if encoding == "windows-1252":
        # a legacy-encoded page: non-utf-8 bytes send sniff_decode down
        # its meta-prescan path
        raw = html.replace("<h1>", "<h1>Café ", 1).encode("cp1252", errors="replace")
    else:
        raw = html.encode("utf-8")
    return Page(url, raw, archetype)


def _short_page(w: _Writer, url: str, target: int, standfirst: bool) -> Page:
    title = w.words(6).capitalize()
    # the template's standfirst lifts a page over char_threshold
    lede = f'<p class="standfirst">{w.row()} {w.row()}</p>' if standfirst else ""
    top = (f'<!DOCTYPE html><html><head><meta charset="utf-8"><title>{title}</title>'
           f'<meta name="description" content="{w.words(12)}"></head><body>'
           f'<div class="header"><a href="/">home</a> <a href="/about">about</a></div>'
           f'<div class="content"><h1>{title}</h1>{lede}<p>{w.row()}</p></div>')
    top += '<footer class="footer"><ul class="links">'
    bottom = "</ul></footer></body></html>"
    filler: list[str] = []
    size = len(top) + len(bottom)
    i = 0
    while size < target:
        f = f'<li><a href="/p/{i}">{w.words(6)}</a></li>'
        filler.append(f)
        size += len(f)
        i += 1
    return Page(url, (top + "".join(filler) + bottom).encode("utf-8"), "short")


def _stratified_sizes(rng: random.Random, spec: Spec) -> list[int]:
    """One size per page, one page per equal-width log stratum."""
    lo, hi = math.log(spec.min_kb * 1024), math.log(spec.max_kb * 1024)
    return [int(math.exp(lo + (i + rng.random()) / spec.pages * (hi - lo))) for i in range(spec.pages)]


def generate(workload: str, seed: int, limit: int | None = None) -> list[Page]:
    spec = SPECS[workload]
    rng = random.Random(f"{workload}:{seed}")
    w = _Writer(rng, _texts())
    sizes = _stratified_sizes(rng, spec)[:limit]
    pages = []
    if workload == "short_pages":
        # a fixed quarter of the pages, spread without a period that a
        # strided sample could alias with
        standfirst = set(rng.sample(range(spec.pages), spec.pages // 4))
    for i, size in enumerate(sizes):
        url = f"http://site{i % 37}.example/{workload}/{seed}/{i}.html"
        if workload == "short_pages":
            pages.append(_short_page(w, url, size, standfirst=i in standfirst))
            continue
        # the archetype cycles within each run of len(ARCHETYPES) strata,
        # so every archetype, <br> chains included, appears at every size
        arche = ARCHETYPES[i % len(ARCHETYPES)]
        if arche == "br_chain":
            size = min(size, int(spec.br_max_kb * 1024))
        pages.append(_crawl_page(w, url, arche, size))
    return pages


def placement(workload: str, seed: int, n_pages: int) -> list[list[int]]:
    """Page indices per file: a seeded shuffle dealt round-robin."""
    spec = SPECS[workload]
    order = list(range(n_pages))
    random.Random(f"{workload}:{seed}:layout").shuffle(order)
    return [order[f::spec.files] for f in range(spec.files)]


def write_corpus(pages: list[Page], files: list[list[int]], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    for f, idx in enumerate(files):
        table = pa.table(
            {"url": [pages[i].url for i in idx], "html": [pages[i].html for i in idx]},
            schema=schema,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))


def corpus_digest(pages: list[Page], files: list[list[int]]) -> str:
    h = hashlib.sha256()
    for f, idx in enumerate(files):
        h.update(f"file{f}".encode())
        for i in idx:
            h.update(pages[i].url.encode() + b"\x1f" + pages[i].html + b"\x1e")
    return h.hexdigest()[:16]


def describe(pages: list[Page], files: list[list[int]]) -> dict:
    """Size histogram, archetype mix and byte shares for the run output."""
    hist = {f"<={e}KB": 0 for e in HIST_EDGES_KB}
    mix: dict[str, int] = {}
    mix_bytes: dict[str, int] = {}
    for p in pages:
        kb = len(p.html) / 1024
        hist[next(f"<={e}KB" for e in HIST_EDGES_KB if kb <= e or e == HIST_EDGES_KB[-1])] += 1
        mix[p.archetype] = mix.get(p.archetype, 0) + 1
        mix_bytes[p.archetype] = mix_bytes.get(p.archetype, 0) + len(p.html)
    total = sum(mix_bytes.values())
    return {
        "pages": len(pages),
        "files": len(files),
        "html_mb": round(total / 1e6, 3),
        "size_histogram": {k: v for k, v in hist.items() if v},
        "archetype_pages": mix,
        "archetype_byte_share": {k: round(v / total, 4) for k, v in mix_bytes.items()},
    }
