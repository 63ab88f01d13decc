"""The one row-batch harness: how a per-row Python function becomes a
Spark batch operator.

Every per-row Python operator (HTML extraction, image/audio/media
decoding, video frame sampling, the WARC/WET/PDF readers) reaches Spark
through one of the two functions here.  Each returns the function
``mapInPandas`` runs on a Python worker: Arrow batches arrive as pandas
frames, ``fn`` runs once per input row on that row's values in ``cols``
order, and the tuples it returns (in schema field order) are gathered
column-wise into the output frame.

- :func:`map_rows` — 1→1: exactly one output row per input row and one
  output frame per input batch (an empty batch gives an empty frame with
  every column), so the one-row-per-input contract holds by
  construction.  Turning a failure into an ``error`` value is ``fn``'s
  job: the error prefixes and partial fields differ per operator.
- :func:`flat_map_rows` — 1→n: ``fn`` yields 0..n tuples per input row,
  and each input row's tuples leave as their own frame, so a worker holds
  at most one input row's output (one archive, one PDF) at a time.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql.types import StructType


def _frame(rows: list, names: list) -> pd.DataFrame:
    if not rows:
        return pd.DataFrame({name: [] for name in names})
    columns = zip(*rows, strict=True)
    return pd.DataFrame(dict(zip(names, map(list, columns), strict=True)))


def _rows(pdf: pd.DataFrame, cols: Sequence[str]) -> Iterator[tuple]:
    return zip(*(pdf[c].tolist() for c in cols))


def map_rows(
    fn: Callable[..., tuple],
    schema: StructType,
    cols: Sequence[str],
    carry: Sequence[str] = (),
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """1→1 batch function: ``fn(*row)`` returns one tuple per input row.
    ``carry``: input columns appended to each output frame unchanged."""
    names = schema.fieldNames()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = _frame([fn(*row) for row in _rows(pdf, cols)], names)
            for c in carry:
                out[c] = pdf[c].values
            yield out

    return batches


def flat_map_rows(
    fn: Callable[..., Iterable[tuple]],
    schema: StructType,
    cols: Sequence[str],
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """1→n batch function: ``fn(*row)`` yields 0..n tuples per input row;
    one frame per input row that produced any."""
    names = schema.fieldNames()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for row in _rows(pdf, cols):
                rows = list(fn(*row))
                if rows:
                    yield _frame(rows, names)

    return batches
