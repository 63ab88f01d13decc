"""The wave-incremental dedup chain — built once, run by both the CLI job
(``jobs/dedup_job.py``) and its oracle gate (``q_incremental_dedup``), so
the DuckDB oracle certifies exactly the plan that ships:

    wave (id, text, ...)
      └─ dropDuplicates(id, text)        # verbatim double ingestion
      └─ exact_dedup                     # intra-wave, min-id keeper
      └─ bloom_incremental_exact_dedup   # Bloom-pruned corpus verification
      └─ incremental_fuzzy_dedup         # MinHash-LSH wave-vs-corpus

Checkpoint placement is the gate's measured one: the collapsed wave and
the after-exact frame are ``localCheckpoint``-ed (without them the
union+dropDuplicates lineage and the bloom probe chain replay inside
every downstream consumer; lazy persists instead measured 7.5-9.9 s →
16-25 s), the intra-wave stage is not (it feeds only the bloom chain,
and folding it in measured ~1.5 s faster).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.bloom import bloom_incremental_exact_dedup
from ..operators.dedup import exact_dedup, incremental_fuzzy_dedup


@dataclass
class WaveDedup:
    wave: DataFrame  # verbatim-row-collapsed input wave (checkpointed)
    intra: DataFrame  # after intra-wave exact dedup
    after_exact: DataFrame  # after corpus verification (checkpointed)
    kept: DataFrame  # the surviving wave rows
    append_bands: Optional[DataFrame]  # signature-table delta; None without fuzzy


def wave_incremental_dedup(
    wave: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    bloom: "tuple[int, int] | None",
    fuzzy: "dict | None",
) -> WaveDedup:
    """Dedup a new ingestion ``wave`` against an ingested ``corpus``.

    ``bloom``: ``(m_bits, k)`` of the corpus fingerprint filter; None
    skips both exact stages (``intra`` and ``after_exact`` are then the
    collapsed wave).  ``fuzzy``: keyword arguments of
    :func:`incremental_fuzzy_dedup` (``num_hashes``, ``bands``,
    ``shingle_n``, ``threshold``, ``corpus_bands``); None skips the fuzzy
    stage (``kept`` is then ``after_exact``).

    The verbatim duplicate ROWS (same id, same text — crash-retry double
    ingestion) collapse first: the downstream keepers are keyed per (id,
    fingerprint) and would otherwise pass both physical copies.  Bloom
    verdicts are per ROW and ride the operator's output — no id rejoin
    (an id repeated with two texts gets two independent verdicts)."""
    wave = wave.dropDuplicates([id_col, text_col]).localCheckpoint()
    intra = after_exact = wave
    if bloom is not None:
        m_bits, k = bloom
        intra = exact_dedup(wave, text_col=text_col, id_col=id_col)
        after_exact = (
            bloom_incremental_exact_dedup(
                intra, corpus, m_bits=m_bits, k=k,
                text_col=text_col, id_col=id_col,
            )
            .filter(~F.col("is_dup"))
            .drop("bloom_candidate", "is_dup")
            .localCheckpoint()
        )
    kept, append_bands = after_exact, None
    if fuzzy is not None:
        kept, append_bands = incremental_fuzzy_dedup(
            after_exact, corpus, text_col=text_col, id_col=id_col, **fuzzy
        )
    return WaveDedup(wave, intra, after_exact, kept, append_bands)
