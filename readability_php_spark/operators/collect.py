"""The one size-probe dispatch of the size-adaptive operators
(connected components, PageRank, k-means): collect a relation to the
driver when it is small, otherwise hand it to the distributed loop."""

from __future__ import annotations

from pyspark.sql import DataFrame


def collect_at_most(df: DataFrame, n: int) -> "list | None":
    """The rows of ``df`` when it has at most ``n`` of them, else None
    (always None for ``n == 0``, which forces the distributed path).

    Probe and fetch are ONE bounded job: ``limit(n + 1).collect()`` never
    holds more than n + 1 rows however large ``df`` is, and when it fits
    those rows ARE the full relation — no separate count pass."""
    if not n:
        return None
    rows = df.limit(n + 1).collect()
    return rows if len(rows) <= n else None
