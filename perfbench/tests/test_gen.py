"""The generator is a pure function of (workload, seed)."""

import pytest

import gen


@pytest.mark.parametrize("workload", sorted(gen.SPECS))
def test_same_seed_same_corpus(workload, tmp_path):
    a = gen.generate(workload, 7)
    b = gen.generate(workload, 7)
    files = gen.placement(workload, 7, len(a))
    assert files == gen.placement(workload, 7, len(b))
    assert gen.corpus_digest(a, files) == gen.corpus_digest(b, files)
    gen.write_corpus(a, files, str(tmp_path / "x"))
    gen.write_corpus(b, files, str(tmp_path / "y"))
    for f in sorted(p.name for p in (tmp_path / "x").iterdir()):
        assert (tmp_path / "x" / f).read_bytes() == (tmp_path / "y" / f).read_bytes()


@pytest.mark.parametrize("workload", sorted(gen.SPECS))
def test_seed_changes_content_not_shape(workload):
    a, b = gen.generate(workload, 1), gen.generate(workload, 2)
    fa, fb = gen.placement(workload, 1, len(a)), gen.placement(workload, 2, len(b))
    assert gen.corpus_digest(a, fa) != gen.corpus_digest(b, fb)
    da, db = gen.describe(a, fa), gen.describe(b, fb)
    assert da["pages"] == db["pages"] and da["files"] == db["files"]
    assert da["archetype_pages"] == db["archetype_pages"]
    # stratified sizes: total bytes differ by a few percent at most
    assert abs(da["html_mb"] - db["html_mb"]) / da["html_mb"] < 0.1


def test_crawl_mix_has_br_chains_at_every_size():
    pages = gen.generate("crawl_mix", 3)
    spec = gen.SPECS["crawl_mix"]
    tenth = len(pages) // 10
    for d in range(10):
        assert any(p.archetype == "br_chain" for p in pages[d * tenth:(d + 1) * tenth]), d
    br = max(len(p.html) for p in pages if p.archetype == "br_chain")
    assert br > 0.5 * spec.br_max_kb * 1024  # large chain pages, not sized away
    assert all(p.html.count(b"<br><br>") > 0 for p in pages if p.archetype == "br_chain")


def test_short_pages_are_small():
    pages = gen.generate("short_pages", 5, limit=500)
    assert all(900 <= len(p.html) <= 4 * 1024 + 200 for p in pages)
