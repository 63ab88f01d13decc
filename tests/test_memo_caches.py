"""The kernel's memos (readability_php_spark/memo.py) must be bounded in
BYTES, not just entries: keys run up to 4 KB, so an entry cap alone lets
an adversarial corpus of distinct large keys pin hundreds of MB per
long-lived Python worker (round-4 advice).  One BoundedMemo carries the
policy; the parser's start-tag memo and the three scan/scoring memos use
it, and a clear must never change what they compute."""

from readability_php_spark.dom import parser as parser_mod
from readability_php_spark.dom.serializer import serialize
from readability_php_spark.kernel import nodeutil, scan
from readability_php_spark.memo import MEMO_BYTE_BUDGET, BoundedMemo

KERNEL_MEMOS = (
    parser_mod._TAG_CACHE, nodeutil._WEIGHT_CACHE, scan._BYLINE_CACHE, scan._F4_CACHE
)


def test_memo_byte_budget():
    memo = BoundedMemo(200_000, max_key=4096)
    memo.byte_budget = 1000
    for i in range(50):
        key = f"div class=\"{'x' * 90}{i:04d}\""
        assert memo.put(key, i) == i
        assert memo.key_bytes <= 1000 + len(key)
    # the memo cleared at least once and never held > budget+one-key bytes
    assert len(memo) < 50
    assert sum(len(k) for k in memo) <= 1000 + 110
    assert memo.key_bytes == sum(len(k) for k in memo)


def test_memo_counts_utf8_bytes():
    # non-ASCII keys are charged their UTF-8 size, not their code-point
    # count — a 4-bytes-per-char key corpus must hit the budget 4x sooner
    memo = BoundedMemo(200_000, max_key=4096)
    key = "div data-x=\"" + "\U0001F600" * 100 + "\""  # 413 UTF-8 bytes
    memo.put(key, 1)
    assert memo.key_bytes == len(key.encode()) == 413
    memo.put("ascii", 2)
    assert memo.key_bytes == 418


def test_memo_entry_cap_and_key_bound():
    memo = BoundedMemo(3, max_key=8)
    for k in "abcd":
        memo.put(k, k)
    assert memo == {"d": "d"}  # the 4th put found 3 entries and cleared
    assert memo.put("x" * 9, 5) == 5  # over max_key: returned, not stored
    assert "x" * 9 not in memo and memo.key_bytes == 1
    memo.clear()
    assert memo == {} and memo.key_bytes == 0


def test_kernel_memos_share_the_policy():
    # every kernel memo is the shared BoundedMemo with the 16 MiB budget,
    # its entry cap and key bound; a hit is the builtin dict.get
    assert [(m.max_entries, m.max_key) for m in KERNEL_MEMOS] == [
        (200_000, 4097), (100_000, 4096), (100_000, 4096), (100_000, 4096)
    ]
    for m in KERNEL_MEMOS:
        assert type(m) is BoundedMemo and m.byte_budget == MEMO_BYTE_BUDGET
    assert BoundedMemo.get is dict.get


def test_tag_cache_still_correct_across_clear(monkeypatch):
    # parse the same doc with a tiny budget (constant clearing) and the
    # default one: identical trees
    html = (
        "<html><body>"
        + "".join(
            f'<p class="c{i} longclassname-{i}">t{i}</p>' for i in range(40)
        )
        + "</body></html>"
    )
    parser_mod._TAG_CACHE.clear()
    d1 = parser_mod.parse_html(html)
    parser_mod._TAG_CACHE.clear()
    monkeypatch.setattr(parser_mod._TAG_CACHE, "byte_budget", 64)
    d2 = parser_mod.parse_html(html)
    assert len(parser_mod._TAG_CACHE) <= 3  # it really cleared
    assert serialize(d1) == serialize(d2)
    parser_mod._TAG_CACHE.clear()


def test_weight_cache_byte_budget(monkeypatch):
    nodeutil._WEIGHT_CACHE.clear()
    monkeypatch.setattr(nodeutil._WEIGHT_CACHE, "byte_budget", 500)
    for i in range(30):
        nodeutil._string_weight(f"{'y' * 60}{i:03d}")
    assert sum(len(k) for k in nodeutil._WEIGHT_CACHE) <= 500 + 63
    # classification stays correct regardless of clears
    assert nodeutil._string_weight("article-body") == 25
    assert nodeutil._string_weight("comment footer") == -25
    nodeutil._WEIGHT_CACHE.clear()


def test_scan_cache_byte_budgets(monkeypatch):
    for memo in (scan._F4_CACHE, scan._BYLINE_CACHE):
        memo.clear()
        monkeypatch.setattr(memo, "byte_budget", 400)
    for i in range(30):
        s = f"{'z' * 50}{i:03d}"
        scan._f4_unlikely(s)
        scan._byline_hit(s)
    assert sum(len(k) for k in scan._F4_CACHE) <= 400 + 53
    assert sum(len(k) for k in scan._BYLINE_CACHE) <= 400 + 53
    # classifications stay correct
    assert scan._f4_unlikely("sidebar comment") is True
    assert scan._f4_unlikely("main article") is False
    assert scan._byline_hit("byline") is True
    scan._F4_CACHE.clear()
    scan._BYLINE_CACHE.clear()
