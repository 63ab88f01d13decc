"""The vectorized extraction operator: Arrow-batched ``mapInPandas``.

This is the Spark realization of the whole kernel pipeline S1..R2
(SURVEY.md §2.9): one logical stage, fused per row, executed
partition-parallel on Python workers with Arrow transfer.  Per the input
hint there is **no per-row Python UDF** — batches in, batches out; the
batch harness is the shared one in :mod:`.rowmap` (``map_rows``).

Scale design (north rule):
- the kernel is closure-captured once per worker process (module import),
  not per row;
- every row yields exactly one output row (``map_rows`` builds one per
  input row); failures become the ``error`` column — a bad page can never
  kill the job;
- lineage/metrics ride along as columns (``partition_id``, ``html_bytes``,
  ``extract_ms``) and are aggregated into the per-partition manifest by
  plans/pipeline.py.
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..config import Configuration
from ..kernel import extract as kernel_extract
from ..sources.charset import sniff_decode
from .rowmap import map_rows

EXTRACT_SCHEMA = StructType([
    StructField("url", StringType(), True),
    StructField("title", StringType(), True),
    StructField("byline", StringType(), True),
    StructField("content_html", StringType(), True),
    StructField("extracted_text", StringType(), True),
    StructField("excerpt", StringType(), True),
    StructField("image", StringType(), True),
    StructField("images", ArrayType(StringType()), True),
    StructField("site_name", StringType(), True),
    StructField("direction", StringType(), True),
    StructField("error", StringType(), True),
    StructField("attempts", IntegerType(), True),
    StructField("partition_id", IntegerType(), True),
    StructField("html_bytes", LongType(), True),
    StructField("extract_ms", DoubleType(), True),
])


def make_extract_batches(
    config: Configuration,
    carry: tuple[str, ...] = (),
):
    """Returns the mapInPandas function.  Each row's own url is substituted
    as OriginalURL so relative links absolutize against the page's true
    location (the reference is single-doc and takes this via config —
    src/Configuration.php:59; corpus-scale it must be per-row).
    ``carry``: input columns echoed through unchanged (e.g. warc_ts for
    streaming watermarks)."""

    def extract_row(url, raw) -> tuple:
        nbytes = len(raw) if raw is not None else 0
        cfg = config.with_overrides(original_url=url) if url else config
        t0 = time.perf_counter()
        if raw is None:
            html = ""
        elif isinstance(raw, (bytes, bytearray, memoryview)):
            # charset sniff (BOM → strict-utf-8 trial → meta prescan →
            # latin-1): crawl payloads carry no trustworthy encoding; a
            # hard utf-8 decode garbles every legacy-encoded page.  Valid
            # utf-8 input decodes exactly as before.
            html, _enc = sniff_decode(bytes(raw))
        else:
            html = str(raw)
        res = kernel_extract(html, cfg, url=url)
        ms = (time.perf_counter() - t0) * 1000.0
        tc = TaskContext.get()
        return (
            url, res.title, res.byline, res.content_html, res.extracted_text,
            res.excerpt, res.image, res.images, res.site_name, res.direction,
            res.error, res.attempts, tc.partitionId() if tc is not None else -1,
            nbytes, ms,
        )

    return map_rows(extract_row, EXTRACT_SCHEMA, ("url", "html"), carry)


def extract_operator(
    pages: DataFrame,
    config: Optional[Configuration] = None,
    *,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """pages(url, html, ...) → extracted columns (EXTRACT_SCHEMA).

    ``carry``: extra input columns echoed through the batch unchanged
    (cheaper than a join-back on url, and preserves streaming columns like
    warc_ts for downstream watermarks).  The projection to (url, html,
    *carry) happens here so Catalyst prunes the scan to exactly what the
    operator consumes."""
    config = config or Configuration(
        fix_relative_urls=True, article_byline=True, substitute_entities=True
    )
    in_fields = {f.name: f for f in pages.schema.fields}
    schema = StructType(
        EXTRACT_SCHEMA.fields + [in_fields[c] for c in carry]
    )
    cols = ["url", "html", *carry]
    return pages.select(*cols).mapInPandas(
        make_extract_batches(config, carry=carry), schema=schema
    )


def composite_render(extracted: DataFrame, col_name: str = "rendered"):
    """S6 — the reference's ``__toString()`` composite render
    (src/Readability.php:1680-1683): ``<h1>{title}</h1>{content}``.
    Pure column algebra (JVM concat, whole-stage codegen); PHP sprintf
    renders null as '' — coalesce mirrors that."""
    from pyspark.sql import functions as F

    return extracted.withColumn(
        col_name,
        F.concat(
            F.lit("<h1>"),
            F.coalesce(F.col("title"), F.lit("")),
            F.lit("</h1>"),
            F.coalesce(F.col("content_html"), F.lit("")),
        ),
    )
