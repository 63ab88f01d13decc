"""Output checks, run after the timed region.

- every input url appears in the output exactly once, with no ``error``;
- on a deterministic sample, the pipeline's rows equal ``kernel.extract``
  called directly on the same bytes with the same per-row configuration;
- an order-insensitive digest of the output rows, for comparison with the
  digest recorded for the default seed.
"""

from __future__ import annotations

import json
import os
from collections import Counter

#: result fields compared between the pipeline and a direct kernel call
FIELDS = ("title", "byline", "content_html", "extracted_text", "excerpt", "image",
          "images", "site_name", "direction", "error", "attempts")

#: output columns that vary from run to run (task placement, timing)
UNSTABLE = ("partition_id", "extract_ms")

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_digests.json")


def read_output(spark, output_path: str):
    return spark.read.parquet(output_path).toPandas()


def failed_urls(pages, out) -> set[str]:
    """Input urls without exactly one error-free output row."""
    got = Counter(out["url"])
    errored = set(out.loc[out["error"].notna(), "url"])
    return {p.url for p in pages if got[p.url] != 1 or p.url in errored}


def unexpected_urls(pages, out) -> set[str]:
    """Output urls that no input row has."""
    return set(out["url"]) - {p.url for p in pages}


def sample(pages, seed: int, n: int, max_bytes: int) -> list:
    """Every k-th page under ``max_bytes`` from a seed-chosen offset."""
    small = [p for p in pages if len(p.html) <= max_bytes]
    step = max(1, len(small) // n)
    return small[seed % step::step][:n]


def kernel_mismatches(pages, out, config) -> list[str]:
    from readability_php_spark.kernel import extract
    from readability_php_spark.sources.charset import sniff_decode

    counts = Counter(out["url"])
    rows = out.set_index("url")
    bad = []
    for p in pages:
        if counts[p.url] != 1:
            bad.append(f"{p.url}: {counts[p.url]} output rows")
            continue
        html, _enc = sniff_decode(p.html)
        direct = extract(html, config.with_overrides(original_url=p.url), url=p.url)
        row = rows.loc[p.url]
        for f in FIELDS:
            got = row[f]
            want = getattr(direct, f)
            if f == "images":
                got = list(got) if got is not None else []
            elif got is not None and not isinstance(got, str):
                got = None if got != got else int(got)  # NaN is null
            if got != want:
                bad.append(f"{p.url}: {f}")
    return bad


def output_digest(out) -> str:
    from tools.check_oracles import value_hash

    return value_hash(out.drop(columns=list(UNSTABLE)))


def recorded_digest(workload: str, seed: int) -> str | None:
    with open(DIGESTS_PATH) as f:
        rec = json.load(f)
    if seed != rec["seed"]:
        return None
    return rec["digests"].get(workload)
