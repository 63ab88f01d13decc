"""Driver-side spans around the program's layers, patched from outside.

Nothing here edits the package: each wrapper replaces a name in the module
that calls it (``kernel.readability.parse_html``,
``operators.extract.kernel_extract``, ...) for the length of a ``with``
block.  Spark workers import the shipped zip, so these wrappers only see
work done in this process: the in-process kernel pass and the driver-side
steps of ``run_extract_job``.

A span's self time is its duration minus the time of the spans it
encloses, so the self times of one document add up to its extract time.
"""

from __future__ import annotations

import contextlib
import re
import statistics
import time
from collections import Counter, defaultdict

import pyarrow as pa

_START_TAG = re.compile(rb"<[A-Za-z]")


class Tracer:
    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.durations: dict[str, list[float]] = defaultdict(list)
        self._open: list[float] = []  # child time inside each open span

    def wrap(self, name: str, fn, keep_durations: bool = False):
        def traced(*args, **kwargs):
            self._open.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = self._open.pop()
                self.self_s[name] += dt - child
                self.calls[name] += 1
                if keep_durations:
                    self.durations[name].append(dt)
                if self._open:
                    self._open[-1] += dt

        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """``targets``: (module, attribute, span name[, keep durations])."""
        saved = []
        try:
            for module, attr, name, *keep in targets:
                saved.append((module, attr, getattr(module, attr)))
                setattr(module, attr, self.wrap(name, getattr(module, attr), bool(keep)))
            yield self
        finally:
            for module, attr, fn in reversed(saved):
                setattr(module, attr, fn)


def _kernel_targets():
    from readability_php_spark.kernel import readability as rd
    from readability_php_spark.kernel import scoring
    from readability_php_spark.operators import extract as op

    metadata = ("scan_meta_values", "coalesce_metadata", "get_article_title",
                "find_main_image_fallback", "collect_images", "to_absolute_uri")
    return [
        (op, "kernel_extract", "kernel.extract", True),
        (op, "sniff_decode", "sources.charset.sniff_decode"),
        (rd, "parse_html", "dom.parser.parse_html"),
        (rd, "remove_scripts", "kernel.prep"),
        (rd, "prep_document", "kernel.prep"),
        *[(rd, m, "kernel.metadata") for m in metadata],
        (rd, "get_nodes", "kernel.scan.get_nodes"),
        (rd, "rate_nodes", "kernel.scoring.rate_nodes"),
        (scoring, "prep_article", "kernel.cleanup.prep_article"),
        (rd, "post_process_content", "kernel.cleanup.post_process"),
        (rd, "serialize", "dom.serializer.serialize"),
        (rd, "deep_clone", "dom.node.deep_clone"),
    ]


#: kernel spans reported as ``<name>_ms_per_doc``; with the readability
#: self time they cover all of ``kernel.extract``
KERNEL_PHASES = (
    "dom.parser.parse_html", "kernel.prep", "kernel.metadata", "kernel.scan.get_nodes",
    "kernel.scoring.rate_nodes", "kernel.cleanup.prep_article", "kernel.cleanup.post_process",
    "dom.serializer.serialize", "dom.node.deep_clone",
)


def kernel_pass(pages, config, batch_rows: int) -> dict:
    """Run the extraction operator's batch function in this process over
    ``pages`` cut into ``batch_rows``-row Arrow batches, the way a Python
    worker sees them, and return the per-layer kernel metrics."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from readability_php_spark.operators.extract import EXTRACT_SCHEMA, make_extract_batches

    out_schema = to_arrow_schema(EXTRACT_SCHEMA)
    in_schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    tr = Tracer()
    arrow_in = arrow_out = batch_fn = 0.0
    attempts: list[int] = []
    operator_ms = 0.0
    extract_batches = make_extract_batches(config)
    with tr.patched(_kernel_targets()):
        for lo in range(0, len(pages), batch_rows):
            chunk = pages[lo:lo + batch_rows]
            batch = pa.RecordBatch.from_pydict(
                {"url": [p.url for p in chunk], "html": [p.html for p in chunk]}, schema=in_schema
            )
            t0 = time.perf_counter()
            pdf = batch.to_pandas()
            t1 = time.perf_counter()
            (result,) = list(extract_batches(iter([pdf])))
            t2 = time.perf_counter()
            pa.RecordBatch.from_pandas(result, schema=out_schema, preserve_index=False)
            t3 = time.perf_counter()
            arrow_in += t1 - t0
            batch_fn += t2 - t1
            arrow_out += t3 - t2
            attempts += [int(a) for a in result["attempts"]]
            operator_ms += float(result["extract_ms"].sum())
    docs = len(pages)
    ext = tr.durations["kernel.extract"]
    extract_total = sum(ext)
    per_doc = {name: tr.self_s[name] * 1000 / docs for name in KERNEL_PHASES}
    rd_self = tr.self_s["kernel.extract"] * 1000 / docs
    q = statistics.quantiles(ext, n=100, method="inclusive") if len(ext) > 1 else ext * 99
    sniff = tr.self_s["sources.charset.sniff_decode"]
    m = {
        "operators.extract.arrow_in_ms_per_doc": arrow_in * 1000 / docs,
        "operators.extract.arrow_out_ms_per_doc": arrow_out * 1000 / docs,
        "operators.extract.batch_overhead_ms_per_doc": (batch_fn - extract_total - sniff) * 1000 / docs,
        "sources.charset.sniff_decode_ms_per_doc": sniff * 1000 / docs,
        "dom.parser.parse_calls_per_doc": tr.calls["dom.parser.parse_html"] / docs,
        "kernel.readability.self_ms_per_doc": rd_self,
        "kernel.attempts_per_doc": sum(attempts) / docs,
        "kernel.retry_share": sum(a > 1 for a in attempts) / docs,
        "kernel.attempt_yield": docs / max(sum(attempts), 1),
        "kernel.extract_ms_p50": statistics.median(ext) * 1000,
        "kernel.extract_ms_p99": q[98] * 1000,
        "kernel.extract_samples": docs,
        "kernel.elements_per_doc": sum(len(_START_TAG.findall(p.html)) for p in pages) / docs,
        "kernel.html_kb_per_doc": sum(len(p.html) for p in pages) / 1024 / docs,
        # share of the operator's own per-row timer (its extract_ms column:
        # charset sniff plus kernel) that the spans account for
        "kernel.phase_coverage": (
            (sum(per_doc.values()) + rd_self) * docs + sniff * 1000
        ) / operator_ms,
    }
    for name, v in per_doc.items():
        m[f"{name}_ms_per_doc"] = v
    return m


class PlanSpans:
    """Driver-side spans of ``run_extract_job``'s commit path: the manifest
    probe, the snapshot commit and the two parquet writes, told apart by
    their target path."""

    def __init__(self, output_path: str, manifest_path: str) -> None:
        self.output_path = output_path
        self.manifest_path = manifest_path
        self.tracer = Tracer()

    @contextlib.contextmanager
    def patched(self):
        from pyspark.sql import readwriter

        from readability_php_spark.plans import pipeline, snapshots

        tr = self.tracer
        write_parquet = readwriter.DataFrameWriter.parquet
        names = {self.output_path: "plans.pipeline.data_commit",
                 self.manifest_path: "plans.pipeline.manifest_commit"}

        def parquet(writer, path, *args, **kwargs):
            name = names.get(path, "plans.other_write")
            return tr.wrap(name, write_parquet)(writer, path, *args, **kwargs)

        readwriter.DataFrameWriter.parquet = parquet
        try:
            with tr.patched([
                (pipeline, "read_manifest", "plans.pipeline.resume_probe"),
                (snapshots, "commit_snapshot", "plans.snapshots.commit_snapshot"),
            ]):
                yield self
        finally:
            readwriter.DataFrameWriter.parquet = write_parquet

    def metrics(self) -> dict:
        s = self.tracer.self_s
        return {
            "plans.pipeline.resume_probe_s": s["plans.pipeline.resume_probe"],
            "plans.pipeline.data_commit_s": s["plans.pipeline.data_commit"],
            "plans.pipeline.manifest_commit_s": s["plans.pipeline.manifest_commit"],
            "plans.snapshots.commit_snapshot_s": s["plans.snapshots.commit_snapshot"],
        }
