"""The composed training-data prep pipeline: raw crawl pages → packed,
deduped, scrubbed, split training text.

This is the end-to-end shape a pretraining data team actually runs, built
entirely from this repo's operators:

    pages (url, html[, lang], ...)
      └─ extract_operator          # Arrow-batched kernel, error column
      └─ filter(error IS NULL)
      └─ scrub_pii                 # email/IPv4 redaction (JVM regex)
      └─ exact_dedup               # md5-fingerprint keep-lowest-url
      └─ fuzzy_dedup               # MinHash-LSH → Jaccard verify →
      │                            #   connected components → keep-min-url
      │                            #   (exact_fuzzy_dedup: checkpoint between)
      └─ line_dedup                # cross-corpus boilerplate lines
      └─ c4/gopher rules (opt)     # published heuristic filter sets
      └─ substring dedup (opt)     # Lee et al. ExactSubstr span removal
      └─ quality + length filters  # token count / quality score
      └─ score_logreg (optional)   # model-based filter: pre-trained
      │                            #   classifier over hashed-TF features
      └─ hash_split                # deterministic train/val/test
      └─ pack_documents            # token-budget packing per (split, lang)
      └─ write partitionBy(split)

Every stage is deterministic (content-keyed hashes, no rand()), so the
whole pipeline is re-runnable and auditable: the same corpus always yields
the same training set, regardless of cluster size or partitioning.

**Keying**: every join, dedup keeper choice, and packing order uses the
``url`` itself — globally unique by construction.  ``doc_id =
xxhash64(url)`` is emitted as a *convenience column only*: a 64-bit hash
key collides with ~4B docs in flight (birthday bound), and a collision
used as a join/window key would silently cross-join distinct documents or
make the packing prefix-sum nondeterministic.  The url never is.

Scale notes: stages 1-3 are narrow maps over the scan; exact_dedup is one
32-byte-key aggregate; fuzzy_dedup is signature-scan + bucket-local pairs +
O(log diameter) clustering (see operators/dedup.py); line_dedup is one
md5-key aggregate + reassembly; split is a map; packing is one window per
(split, lang) — and per (split, lang, bucket) via
``pack_documents_bucketed`` when one language dominates the corpus; the
final write shuffles on split for compact output.  Nothing here is
quadratic and no stage moves the raw HTML after extraction.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import Configuration
from ..operators.dedup import exact_dedup, fuzzy_dedup, line_dedup
from ..operators.extract import extract_operator
from ..operators.packing import pack_documents
from ..operators.sampling import hash_split
from ..operators.scrub import scrub_pii
from ..operators.text_analysis import token_count
from .pipeline import _try_read_parquet, tune_session_for_extraction


def exact_fuzzy_dedup(
    docs: DataFrame, *, id_col: str, num_hashes: int, bands: int, threshold: float
) -> DataFrame:
    """The text dedup chain: exact fingerprint dedup → ``localCheckpoint``
    → MinHash-LSH fuzzy dedup.  The eager checkpoint materializes the
    exact-dedup output once, so the fuzzy chain's four consumers (LSH
    input, both Jaccard sides, the final anti-join) stop replaying the
    upstream subtree per job.  The checkpoint cuts lineage: losing an
    executor during fuzzy dedup fails the job instead of recomputing
    its blocks.  ``run_training_prep`` and the ``training_prep_fuzzy``
    gate both call this."""
    return fuzzy_dedup(
        exact_dedup(docs, id_col=id_col).localCheckpoint(),
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )


@dataclass
class PrepResult:
    output_path: str
    docs_in: int
    docs_extracted: int
    docs_after_dedup: int
    docs_final: int
    split_counts: dict


def run_training_prep(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    *,
    config: Optional[Configuration] = None,
    min_tokens: int = 20,
    pack_budget: int = 2048,
    fractions: Optional[dict] = None,
    line_min_count: int = 2,
    fuzzy: bool = True,
    fuzzy_threshold: float = 0.8,
    fuzzy_num_hashes: int = 16,
    fuzzy_bands: int = 4,
    classifier: Optional[tuple] = None,
    classifier_threshold: float = 0.5,
    quality_labels: Optional[DataFrame] = None,
    quality_dim: int = 64,
    quality_iters: int = 20,
    quality_lr: float = 1.0,
    c4_rules: bool = False,
    gopher_rules: bool = False,
    substring_n: Optional[int] = None,
    substring_min_copies: int = 2,
    substring_keep: str = "first",
    dsir_target: Optional[DataFrame] = None,
    dsir_budget: Optional[int] = None,
    dsir_buckets: int = 65536,
    chunk_max_tokens: Optional[int] = None,
    chunk_stride: Optional[int] = None,
    shuffle_seed: Optional[int] = None,
    tokenizer: Optional[tuple] = None,
    checkpoint_dir: Optional[str] = None,
) -> PrepResult:
    """pages(url, html[, lang]) → packed training rows at ``output_path``
    (parquet, partitioned by split), plus conservation metrics.

    ``fuzzy=False`` skips the near-duplicate stage (MinHash-LSH → n-gram
    Jaccard ≥ ``fuzzy_threshold`` → connected components → keep the
    lexicographically-smallest url per cluster) for corpora already
    fuzzy-deduped upstream.

    ``classifier=(weights, bias)`` — e.g. from
    :func:`~readability_php_spark.operators.classify.train_logreg` on a
    labeled sample — enables model-based quality filtering: docs scoring
    below ``classifier_threshold`` on hashed-TF features (dim =
    ``len(weights)``) are dropped after line dedup.  The stage adds the
    embedding's two compact-key shuffles; scoring itself is a broadcast
    map.

    ``quality_labels`` — a ``(url, label 0/1)`` DataFrame of seed
    judgments — trains that classifier IN-PIPELINE instead: the model
    fits on the labeled urls' text AS THE SCORER SEES IT (extract →
    scrub → dedup → line-dedup → token filter), so there is zero
    train/serve feature skew — including the line-dedup boilerplate
    removal a pre-pipeline trainer cannot replay (it needs full-corpus
    line counts).  Labeled urls the pipeline itself drops (dedup losers,
    under ``min_tokens``) simply don't contribute examples — by
    construction no such doc ever reaches scoring either.  Mutually
    exclusive with ``classifier``; training cost is
    ``quality_iters`` × (one dim-row gradient agg over the labeled
    subset), driver traffic ``dim+1`` floats per step.

    ``c4_rules`` / ``gopher_rules`` enable the published heuristic
    filters between dedup and the token filter: C4 (Raffel et al. 2020)
    rewrites each doc to its surviving lines and drops docs failing the
    doc flags; Gopher (Rae et al. 2021) drops docs failing its rule set.
    Both are shuffle-free projections
    (:func:`~readability_php_spark.operators.text_analysis.c4_quality_rules`
    / ``gopher_quality_rules``).

    ``substring_n`` enables exact duplicated-substring REMOVAL (Lee et
    al. 2022 ExactSubstr,
    :func:`~readability_php_spark.operators.dedup.exact_substring_dedup`):
    corpus-wide duplicated ``substring_n``-token runs are cut from all
    but one copy (``substring_keep="none"`` cuts every copy).  Runs
    after the line-level rules — RefinedWeb's ordering — and before the
    token filter, so token counts reflect the post-edit text.  Edited
    docs are rebuilt with single-space joins (line structure collapses —
    the chunking caveat); untouched docs ship verbatim.

    ``dsir_target`` + ``dsir_budget`` enable DSIR data selection (Xie et
    al. 2023, :mod:`~readability_php_spark.operators.importance`): after
    every other doc-level filter, keep the ``dsir_budget`` surviving docs
    whose hashed unigram+bigram profile is most like the target frame's
    (length-normalized importance score, deterministic tie-break).  The
    target only contributes its n-gram distribution — any small
    ``(text)`` DataFrame of exemplar docs works; it is never joined
    against the corpus.  Cost: ONE tokenization pass over the surviving
    docs (the per-doc bucket counts are checkpointed and reused for the
    raw distribution and the scoring join) plus one over the target;
    scores are quantized before ranking so the selected set is
    deterministic across partitionings.

    ``chunk_max_tokens`` enables the chunk→pack composition ("chunk down,
    then pack up"): after the token/quality filters, each document is cut
    into ``chunk_max_tokens``-token windows advancing ``chunk_stride``
    (see :func:`~readability_php_spark.operators.packing.chunk_documents`)
    and the CHUNKS are what packing stitches into sequences.  The split
    stays keyed on the PARENT url, so every chunk of a document lands in
    one split — overlapping windows of the same text never straddle
    train/val/test.  **Chunking is lossy on whitespace**: chunk text is
    the document's tokens re-joined with single spaces, so newlines and
    runs of spaces (line/paragraph structure) collapse; case is
    preserved.  Leave ``chunk_max_tokens=None`` to ship verbatim text.

    ``tokenizer`` — a ``(merge_table, encoded_vocab)`` pair as returned
    by :func:`~readability_php_spark.operators.bpe.bpe_train` — switches
    EVERY token budget in the pipeline from whitespace word counts to
    real tokenizer token counts: ``n_tokens`` (and thus the
    ``min_tokens`` filter), the ``chunk_max_tokens`` windows, and the
    ``pack_budget`` packing are all measured in BPE tokens of the
    trained vocabulary.  Whitespace counts under-fill CJK/code and
    over-fill prose by 1.3-2× against any real vocabulary — training
    sequences are budgeted in tokenizer tokens, so a tokenizer-aware
    prep run should always pass one.  Cost model: per-word trained
    segmentation size; words outside the trained vocabulary are
    segmented by applying the learned merges (the open-vocab encode),
    computed ONCE into a vocabulary-sized (word, word_tokens) relation
    that every consumer broadcast-joins (one extra corpus word scan +
    the OOV fold chain over OOV words only).  Chunking under a
    tokenizer uses the cost-model law of
    :func:`~readability_php_spark.operators.packing.chunk_documents_by_cost`
    (non-overlapping; ``chunk_stride`` is whitespace-indexed and is
    rejected in combination — a stride has no meaning in cost space).
    Train the tokenizer on the corpus first (``bpe_train`` — typically
    on a prior prep output or a sample); the classifier/DSIR stages are
    unaffected (they hash words, not tokens).

    ``shuffle_seed`` orders packing by a seeded keyed hash instead of
    the unit id: url order fills each training sequence with one site's
    adjacent pages; the shuffle mixes sources within every pack, and —
    being a pure function of (unit_id, seed) — stays deterministic
    across reruns and cluster sizes.  ``None`` keeps url order.

    ``checkpoint_dir`` makes the pipeline resumable: the extract→scrub→
    dedup output and its conservation counters are committed there
    (data first, stats marker second — torn checkpoints recompute), and a
    rerun resumes from the committed stage instead of re-extracting the
    corpus.  Same discipline as the extract job's manifest resume.

    Telemetry discipline: no action exists solely to drive a counter on
    an unpersisted input.  docs_in/docs_extracted come from ONE aggregate
    over the persisted extraction output (which every later stage reuses
    from cache); docs_after_dedup is the materializing action of the
    persisted dedup output; docs_final/split_counts come from reading
    back the written parquet."""
    tune_session_for_extraction(spark)
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    # fail before the corpus extracts, not an hour into the run
    if tokenizer is not None:
        if not (isinstance(tokenizer, tuple) and len(tokenizer) == 2):
            raise ValueError(
                "tokenizer must be the (merge_table, encoded_vocab) pair "
                "returned by bpe_train"
            )
        if chunk_stride is not None:
            raise ValueError(
                "chunk_stride is whitespace-token-indexed and has no "
                "meaning under a tokenizer cost model — BPE-budgeted "
                "chunking is non-overlapping (leave chunk_stride=None)"
            )
    if dsir_target is not None and dsir_budget is None:
        raise ValueError(
            "dsir_target requires dsir_budget (how many docs to keep)"
        )
    if dsir_budget is not None:
        if dsir_target is None:
            raise ValueError(
                "dsir_budget without dsir_target does nothing — pass the "
                "exemplar target frame too"
            )
        if dsir_budget <= 0:
            raise ValueError(
                f"dsir_budget must be positive, got {dsir_budget}"
            )

    # --- stage checkpoint: the extract→scrub→dedup chain is the expensive
    # half of the pipeline; with ``checkpoint_dir`` its output (plus the
    # conservation counters) is committed to parquet, and a rerun resumes
    # from it instead of re-extracting the corpus.  Commit order makes the
    # checkpoint crash-safe: ``cleaned`` data first, the tiny ``stats``
    # marker second — a run that died mid-write leaves no stats, so the
    # next run recomputes rather than trusting a torn checkpoint.
    ck = checkpoint_dir.rstrip("/") if checkpoint_dir else None
    # every knob that shapes the checkpointed stage's OUTPUT; a resume
    # under different values would silently serve wrong data, so (same
    # discipline as run_extract_job's bucketing guard) mismatches refuse
    # to resume instead.  Input staleness is the caller's contract, as
    # with any checkpoint: point a changed corpus at a fresh dir.
    stage_params = (
        f"fuzzy={fuzzy},fuzzy_threshold={fuzzy_threshold},"
        f"fuzzy_num_hashes={fuzzy_num_hashes},fuzzy_bands={fuzzy_bands},"
        f"line_min_count={line_min_count},"
        "config=" + (
            "default"
            if config is None
            # logger excluded: an injected logger object is run-local and
            # never shapes the extracted output
            else repr(sorted(
                (k, v) for k, v in vars(config).items() if k != "logger"
            ))
        )
    )
    cleaned = None
    extracted = None
    if ck is not None:
        cleaned_ck = _try_read_parquet(spark, ck + "/cleaned")
        stats_ck = (
            _try_read_parquet(spark, ck + "/stats")
            if cleaned_ck is not None
            else None
        )
        if cleaned_ck is not None and stats_ck is not None:
            stats = stats_ck.first()
            if stats["stage_params"] != stage_params:
                raise ValueError(
                    f"checkpoint at {ck} was written with stage params\n  "
                    f"{stats['stage_params']}\nbut this run uses\n  "
                    f"{stage_params}\nResuming would serve data produced "
                    "under different dedup/extraction settings; use a "
                    "fresh checkpoint dir or the original parameters."
                )
            docs_in = stats["docs_in"]
            docs_extracted = stats["docs_extracted"]
            docs_after_dedup = stats["docs_after_dedup"]
            cleaned = cleaned_ck

    if cleaned is None:
        has_lang = "lang" in pages.columns
        extracted = extract_operator(
            pages,
            config or Configuration(substitute_entities=True),
            carry=("lang",) if has_lang else (),
        ).select(
            "url",
            "error",
            F.col("extracted_text").alias("text"),
            (F.col("lang") if has_lang else F.lit("und")).alias("lang"),
        )
        # persist PRE-filter so one aggregate yields both pages-in and
        # extracted-ok counts (extract emits exactly one row per input
        # page); the slim projection keeps the cache at text-size, not
        # html-size
        extracted = extracted.persist()
        _c = extracted.agg(
            F.count("*").alias("n_in"),
            F.count(F.when(F.col("error").isNull(), 1)).alias("n_ok"),
        ).first()
        docs_in, docs_extracted = _c["n_in"], _c["n_ok"]
        docs = extracted.filter(F.col("error").isNull()).select(
            "url", "text", "lang"
        )

        scrubbed = scrub_pii(docs, text_col="text", out_col="text_s").select(
            "url", F.col("text_s").alias("text"), "lang"
        )
        # exact dedup BEFORE line/fuzzy dedup: identical docs must collapse
        # to one kept copy first — both so shared lines aren't deleted from
        # every copy, and so byte-identical mega-groups never reach the LSH
        # buckets' quadratic-in-bucket pair expansion
        if fuzzy:
            unique_docs = exact_fuzzy_dedup(
                scrubbed,
                id_col="url",
                num_hashes=fuzzy_num_hashes,
                bands=fuzzy_bands,
                threshold=fuzzy_threshold,
            )
        else:
            unique_docs = exact_dedup(scrubbed, id_col="url")
        cleaned = line_dedup(
            unique_docs, text_col="text", id_col="url", min_count=line_min_count
        ).join(unique_docs.select("url", "lang"), "url")
        # the count doubles as the cache-materializing action; every
        # downstream branch (tokens, split, pack, pack-text join) reads the
        # cached dedup output instead of recomputing the whole dedup chain
        cleaned = cleaned.persist()
        docs_after_dedup = cleaned.count()
        if ck is not None:
            cleaned.write.mode("overwrite").parquet(ck + "/cleaned")
            spark.createDataFrame(
                [(docs_in, docs_extracted, docs_after_dedup, stage_params)],
                "docs_in long, docs_extracted long, docs_after_dedup long, "
                "stage_params string",
            ).write.mode("overwrite").parquet(ck + "/stats")

    # published heuristic filters, post-dedup / pre-token-filter:
    # ``c4_rules`` REWRITES each document to its C4-surviving lines and
    # drops docs failing the C4 doc flags; ``gopher_rules`` drops docs
    # failing the Gopher rule set (doc-level only, text untouched).  Both
    # run after line_dedup so boilerplate removal and the heuristics see
    # the same text the tokenizer will; both are shuffle-free projections
    # plus one url join for the rewritten text.
    filtered = cleaned.select(
        "url", "lang", F.col("text_clean").alias("text")
    )
    if c4_rules:
        from ..operators.text_analysis import c4_quality_rules

        c4 = c4_quality_rules(filtered, text_col="text", id_col="url")
        filtered = (
            filtered.select("url", "lang")
            .join(
                c4.filter("keep").select(
                    "url", F.col("text_clean").alias("text")
                ),
                "url",
            )
            .select("url", "lang", "text")
        )
    if gopher_rules:
        from ..operators.text_analysis import gopher_quality_rules

        g = gopher_quality_rules(filtered, text_col="text", id_col="url")
        filtered = filtered.join(
            g.filter("keep").select("url"), "url", "left_semi"
        )
    if substring_n is not None:
        from ..operators.dedup import exact_substring_dedup

        # after the line rules (their line structure is intact), before
        # the token filter (counts must see the post-edit text); a doc
        # cut below min_tokens falls out at the filter like any other
        sub = exact_substring_dedup(
            filtered,
            n=substring_n,
            text_col="text",
            id_col="url",
            min_copies=substring_min_copies,
            keep=substring_keep,
        )
        filtered = (
            filtered.select("url", "lang")
            .join(sub.select("url", "text"), "url")
            .select("url", "lang", "text")
        )

    cost_vocab = None
    if tokenizer is not None:
        from ..operators.bpe import bpe_word_cost_vocab

        merge_table, encoded_vocab = tokenizer
        # vocabulary-sized by construction (trained vocab + this
        # corpus' OOV words, Heaps'-bounded) — checkpoint once, every
        # consumer (doc counts here, cost-model chunking below)
        # broadcast-joins it instead of re-running the OOV fold chain
        cost_vocab = bpe_word_cost_vocab(
            filtered, encoded_vocab, merge_table, text_col="text"
        ).localCheckpoint()
        doc_tokens = (
            filtered.select(
                "url",
                F.explode(
                    F.filter(
                        F.split(F.trim(F.col("text")), r"\s+"),
                        lambda x: x != F.lit(""),
                    )
                ).alias("word"),
            )
            .join(F.broadcast(cost_vocab), "word")
            .groupBy("url")
            .agg(F.sum("word_tokens").alias("n_tokens"))
        )
        # left join + zero-fill: zero-word docs have no word rows but
        # must still flow through the min_tokens filter like the
        # whitespace path (they only survive min_tokens=0)
        with_tokens = (
            filtered.join(doc_tokens, "url", "left")
            .select(
                "url", "lang", "text",
                F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            )
        )
    else:
        with_tokens = filtered.select(
            "url", "lang", "text",
            token_count(F.col("text")).alias("n_tokens"),
        )
    with_tokens = with_tokens.filter(F.col("n_tokens") >= min_tokens)

    if quality_labels is not None:
        if classifier is not None:
            raise ValueError(
                "pass either a pre-trained classifier OR quality_labels "
                "to train one in-pipeline, not both"
            )
        from ..operators.classify import train_logreg
        from ..operators.text_analysis import hashed_tf_embedding

        # duplicate label rows (a label file concatenated from two
        # sources) would double-weight their url's feature row in the
        # gradient AND make the survival warning below fire spuriously —
        # first label wins per url
        quality_labels = quality_labels.select("url", "label").dropDuplicates(
            ["url"]
        )
        # train on the labeled urls' text exactly as the scoring stage
        # below will see it: same frame, same transform chain, zero skew
        seed = with_tokens.join(
            quality_labels.select("url"), "url", "left_semi"
        )
        # fail FAST and loudly if the pipeline's own filters ate the seed
        # set (dedup losers, min_tokens): train_logreg's late "empty
        # feature set" error would otherwise surface only after the full
        # corpus extract→dedup ran; a partially-surviving seed trains on
        # the survivors, which deserves a visible warning, not silence.
        # Both counts are bounded scans of the persisted/parquet-backed
        # dedup output + the tiny label set.
        n_labels = quality_labels.count()
        n_seed = seed.count()
        if n_seed == 0:
            raise ValueError(
                f"quality_labels: none of the {n_labels} labeled urls "
                "survive the pipeline's extraction/dedup/min_tokens "
                "filters — the classifier has nothing to train on. Check "
                "that label urls match the corpus urls exactly and that "
                "the labeled docs clear min_tokens."
            )
        if n_seed < n_labels:
            import warnings

            warnings.warn(
                f"quality_labels: only {n_seed}/{n_labels} labeled urls "
                "survive the pipeline filters; the classifier trains on "
                "the survivors",
                stacklevel=2,
            )
        feats = hashed_tf_embedding(
            seed, text_col="text", id_col="url", dim=quality_dim
        ).join(quality_labels.select("url", "label"), "url")
        classifier = train_logreg(
            feats, dim=quality_dim, iterations=quality_iters, lr=quality_lr
        )

    if classifier is not None:
        from ..operators.classify import score_logreg
        from ..operators.text_analysis import hashed_tf_embedding

        if min_tokens < 1:
            # the left_semi join below keeps only docs the classifier
            # SCORED; a zero-token doc has no hashed-TF row, so it would
            # vanish unscored and uncounted — enforce the invariant the
            # join depends on instead of documenting it in a comment
            raise ValueError(
                "classifier-based filtering requires min_tokens >= 1 "
                "(zero-token docs have no embedding row and would be "
                "dropped silently)"
            )
        weights, bias = classifier
        emb = hashed_tf_embedding(
            with_tokens, text_col="text", id_col="url", dim=len(weights)
        )
        keep = score_logreg(
            emb, weights, bias, threshold=classifier_threshold
        ).filter("keep").select("url")
        # min_tokens >= 1 guarantees every surviving doc has an embedding,
        # so the semi join filters on score alone
        with_tokens = with_tokens.join(keep, "url", "left_semi")

    if dsir_target is not None:
        from ..operators.importance import dsir_select

        # DSIR runs LAST among the doc-level filters so its budget buys
        # docs that already cleared dedup + heuristics + classifier; the
        # target pool only contributes its hashed-n-gram distribution, so
        # any (text) frame works — it never joins the corpus
        sel = dsir_select(
            with_tokens,
            dsir_target,
            text_col="text",
            id_col="url",
            budget=dsir_budget,
            buckets=dsir_buckets,
            length_normalize=True,
        )
        with_tokens = with_tokens.join(
            sel.select("url"), "url", "left_semi"
        )

    if chunk_max_tokens is not None:
        # chunk down, then pack up: the packing unit becomes the chunk,
        # keyed "url#chunk_id" (globally unique — url is, and chunk_id is
        # strictly increasing per url).  parent_url keeps document
        # lineage and is the split key below.
        if cost_vocab is not None:
            from ..operators.packing import chunk_documents_by_cost

            chunks = chunk_documents_by_cost(
                with_tokens,
                cost_vocab,
                max_tokens=chunk_max_tokens,
                text_col="text",
                id_col="url",
            )
        else:
            from ..operators.packing import chunk_documents

            chunks = chunk_documents(
                with_tokens,
                max_tokens=chunk_max_tokens,
                stride=chunk_stride,
                text_col="text",
                id_col="url",
            )
        units = chunks.join(with_tokens.select("url", "lang"), "url").select(
            F.concat(
                F.col("url"), F.lit("#"), F.col("chunk_id").cast("string")
            ).alias("unit_id"),
            F.col("url").alias("parent_url"),
            "lang",
            F.col("chunk_text").alias("text"),
            F.col("n_chunk_tokens").alias("n_tokens"),
        )
    else:
        units = with_tokens.select(
            F.col("url").alias("unit_id"),
            F.col("url").alias("parent_url"),
            "lang",
            "text",
            "n_tokens",
        )

    # split on the PARENT url: chunks of one document (overlapping text)
    # must never straddle train/val/test
    split = hash_split(units, fractions, key_col="parent_url")
    order_col, passthrough = "unit_id", ()
    if shuffle_seed is not None:
        # seeded global shuffle BEFORE packing: url order fills a pack
        # with one site's adjacent pages; ordering by a keyed hash mixes
        # sources within every training sequence while staying fully
        # deterministic (stable across reruns and cluster sizes — the
        # same md5 machinery as hash_split).  The unit id is appended as
        # an explicit tie-break so the order is total even across the
        # hash's 2^32 buckets; zero-padding keeps string order numeric
        # (the hash maxes at 4294967295 — exactly 10 digits).
        from ..operators.sampling import hash_uniform

        split = split.withColumn(
            "_shuffle",
            F.concat(
                F.lpad(
                    hash_uniform(F.col("unit_id"), shuffle_seed).cast(
                        "string"
                    ),
                    10,
                    "0",
                ),
                F.lit("#"),
                F.col("unit_id"),
            ),
        )
        order_col, passthrough = "_shuffle", ("unit_id",)
    packed = pack_documents(
        split, budget=pack_budget, group_cols=("split", "lang"),
        order_col=order_col, tokens_col="n_tokens",
        passthrough_cols=passthrough,
    ).drop("_shuffle").join(
        split.select("unit_id", "parent_url", "text"), "unit_id"
    )
    packed = packed.withColumnRenamed("unit_id", "url")
    # doc_id: sortable convenience for downstream consumers, NOT a key
    packed = packed.withColumn("doc_id", F.xxhash64("url"))

    packed.repartition("split").write.mode("overwrite").partitionBy(
        "split"
    ).parquet(output_path)

    from pyspark.errors import AnalysisException

    try:
        out = spark.read.parquet(output_path)
        split_counts = {
            r.split: r.n
            for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
        }
    except AnalysisException as e:
        # a fully-filtered corpus writes zero data files (only _SUCCESS);
        # that exact condition reads back as UNABLE_TO_INFER_SCHEMA and
        # means "empty output", not a failure. Anything else re-raises
        # (same discipline as pipeline._try_read_parquet).
        get_cond = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", lambda: None
        )
        if (get_cond() or "") != "UNABLE_TO_INFER_SCHEMA":
            raise
        split_counts = {}
    if extracted is not None:
        extracted.unpersist()
        cleaned.unpersist()  # only cached on the compute path
    return PrepResult(
        output_path=output_path,
        docs_in=docs_in,
        docs_extracted=docs_extracted,
        docs_after_dedup=docs_after_dedup,
        docs_final=sum(split_counts.values()),
        split_counts=split_counts,
    )
