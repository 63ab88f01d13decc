"""Wave-incremental dedup job: drop documents of a NEW ingestion wave
that duplicate an already-ingested corpus — without re-processing the
corpus per wave.

The chain itself is ``readability_php_spark.plans.dedup_pipeline.
wave_incremental_dedup`` — the same plan function the ``incremental_dedup``
oracle gate runs.  Two stages, each per-wave-sized:

- **exact** (default on): intra-wave exact dedup (min-id keeper per
  fingerprint), then Bloom-pruned verification against the corpus —
  the corpus fingerprints feed a (widx, bits) filter relation sized by
  ``--bloom-fp``; definitely-new docs skip the corpus join entirely and
  bloom positives are exactly verified (results bit-identical to a
  plain anti-join; see operators/bloom.py).  In a maintained deployment
  the filter table would be persisted and ``bloom_merge``-updated per
  wave rather than rebuilt — rebuilding here keeps the job stateless.
- **fuzzy** (``--fuzzy``): MinHash-LSH wave-vs-corpus candidate join
  against a maintained signature table (``--signature-table``; built
  once on the bootstrap run, appended with each wave's kept docs'
  bands), n-gram Jaccard verification, joint connected components with
  the corpus-wins keeper rule (operators/dedup.py::
  incremental_fuzzy_dedup).

Output: the surviving wave rows at ``--output``; a one-line JSON
metrics summary on stdout.  Usage::

    spark-submit jobs/dedup_job.py \
      --wave new_pages.parquet --corpus corpus.parquet --output kept/ \
      --fuzzy --signature-table sigs/
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--wave", required=True, help="new wave parquet")
    ap.add_argument("--corpus", required=True, help="ingested corpus parquet")
    ap.add_argument("--output", required=True, help="kept wave rows out")
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--no-exact", action="store_true",
                    help="skip the exact stage (corpus already covers it)")
    ap.add_argument("--bloom-fp", type=float, default=0.01,
                    help="Bloom false-positive design rate (filter sized "
                         "from the corpus count)")
    ap.add_argument("--fuzzy", action="store_true",
                    help="enable MinHash-LSH near-dup stage")
    ap.add_argument("--fuzzy-threshold", type=float, default=0.8)
    ap.add_argument("--num-hashes", type=int, default=16)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--shingle-n", type=int, default=3)
    ap.add_argument("--signature-table", default=None,
                    help="maintained (id, band, band_hash) parquet dir: "
                         "read if present (MUST match num-hashes/bands/"
                         "shingle-n — persist them with the table), and "
                         "appended with this wave's delta after the run")
    ap.add_argument("--master", default=None,
                    help="local testing only; omit under spark-submit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from readability_php_spark.operators.bloom import optimal_params
    from readability_php_spark.plans.dedup_pipeline import (
        wave_incremental_dedup,
    )

    builder = SparkSession.builder.appName("wave-incremental-dedup")
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()

    wave = spark.read.parquet(args.wave)
    corpus = spark.read.parquet(args.corpus)
    metrics = {"wave_in": wave.count()}

    bloom = None
    if not args.no_exact:
        # one-column corpus count sizes the filter for the design FP rate
        n_corpus = corpus.count()
        bloom = optimal_params(max(n_corpus, 1), args.bloom_fp)
        metrics["bloom_bits"], metrics["bloom_hashes"] = bloom

    fuzzy = None
    if args.fuzzy:
        corpus_bands = None
        if args.signature_table:
            # FS-agnostic existence probe (os.path only sees local paths;
            # s3://hdfs:// tables would silently re-bootstrap every wave,
            # appending duplicate corpus bands each run).  Only the
            # path-missing condition maps to bootstrap; credential or
            # corruption errors re-raise.
            from readability_php_spark.plans.pipeline import (
                _try_read_parquet,
            )

            corpus_bands = _try_read_parquet(spark, args.signature_table)
        fuzzy = dict(
            num_hashes=args.num_hashes, bands=args.bands,
            shingle_n=args.shingle_n, threshold=args.fuzzy_threshold,
            corpus_bands=corpus_bands,
        )

    stages = wave_incremental_dedup(
        wave, corpus, id_col=args.id_col, text_col=args.text_col,
        bloom=bloom, fuzzy=fuzzy,
    )
    if bloom is not None:
        metrics["after_intra_exact"] = stages.intra.count()
        metrics["after_exact"] = stages.after_exact.count()

    stages.kept.write.mode("overwrite").parquet(args.output)
    metrics["kept"] = spark.read.parquet(args.output).count()
    if args.fuzzy:
        metrics["after_fuzzy"] = metrics["kept"]
    if stages.append_bands is not None and args.signature_table:
        # bands commit AFTER the output: a crash between the two leaves
        # the benign state (output committed, bands missing — the next
        # run at worst re-verifies) instead of a signature table
        # polluted with duplicate rows for a wave that never shipped
        stages.append_bands.write.mode("append").parquet(args.signature_table)
    print("dedup done: " + json.dumps(metrics, sort_keys=True))


if __name__ == "__main__":
    main()
