"""Text-analysis operators for training-data pipelines — all JVM-native.

Every function here is pure ``pyspark.sql.functions`` column algebra: no
Python UDFs, so the whole thing stays inside WholeStageCodegen and scales
linearly with executors.  Each has an exact ANSI-SQL twin in
``__spark_entry__.oracle_sql`` (DuckDB), which is the correctness gate.

Operators: token counting (whitespace + BPE-ish word/punct regex),
quality scoring (length/punct/stopword ratios), n-gram language ID
(stopword-hit argmax), and document fingerprinting (normalized md5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# per-language top stopwords for the langid heuristic; short, frequent,
# reasonably exclusive. Order matters: ties break by list order.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "nicht"],
    "fr": ["le", "la", "les", "et", "des"],
    "es": ["el", "los", "las", "una", "y"],
}


def token_count(text: Column) -> Column:
    """Whitespace tokenization count (empty string AND null → 0; without
    the null leg, size(split(NULL)) = -1 would flow into packing prefix
    sums and quality filters as a negative token count)."""
    t = F.trim(text)
    return F.when(t.isNull() | (t == ""), F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish pre-tokenizer count: word pieces + standalone punctuation
    (the GPT-2 pre-tokenizer shape: letters | digits | punct runs); null
    text counts 0, like :func:`token_count`."""
    return F.coalesce(
        F.size(
            F.regexp_extract_all(
                text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"), F.lit(0)
            )
        ),
        F.lit(0),
    )


def stopword_hits(text: Column, lang: str) -> Column:
    pat = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of lowercase, whitespace-collapsed text.
    (md5 so DuckDB can reproduce it bit-for-bit.)"""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def analyze(
    documents: DataFrame,
    text_col: str = "text",
    passthrough: "tuple[str, ...]" = (),
) -> DataFrame:
    """documents(doc_id, text, ...) → per-doc analysis frame.

    ``passthrough`` names input columns carried through unchanged
    (appended after the computed columns) — callers that need e.g. the
    declared ``lang`` next to ``lang_pred`` get it in the SAME projection
    instead of joining back to the input, which would duplicate this
    operator's whole upstream subtree in the plan (optimization round:
    the join-back shape ran exact_dedup + this projection twice in
    q_training_filter).

    Two-stage projection on purpose: the expensive regex primitives (one
    regexp_count per language, token split, punct strip) are materialized
    once in the lower select; the upper select only does arithmetic over
    those column refs.  Catalyst's CollapseProject keeps non-cheap
    expressions from being inlined more than once, so each regex scans the
    text exactly one time — the naive single-select form evaluated every
    language's stopword regex up to 3× (greatest + when-chain)."""
    # null text behaves as the empty document throughout: without the
    # coalesces a NULL length would make least(NULL/2000, 1) = 1.0 (least
    # skips nulls) and an unparseable page would score ~0.7 quality
    t = F.coalesce(F.col(text_col), F.lit(""))
    prims = documents.select(
        "doc_id",
        token_count(t).alias("_words"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        F.length(t).alias("_n"),
        F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", "")).alias("_punct"),
        *[
            stopword_hits(t, lang).alias(f"_hits_{lang}")
            for lang in LANG_STOPWORDS
        ],
        fingerprint(t).alias("fp"),
        *passthrough,
    )

    n = F.col("_n")
    words = F.col("_words")
    stop = F.col("_hits_en")
    punct = F.col("_punct")
    len_component = F.least(n / F.lit(2000.0), F.lit(1.0))
    stop_ratio = F.when(words > 0, stop / words).otherwise(F.lit(0.0))
    stop_component = F.least(stop_ratio * 8.0, F.lit(1.0))
    punct_ratio = F.when(n > 0, punct / n).otherwise(F.lit(0.0))
    punct_component = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.least(punct_ratio * 4.0, F.lit(1.0))
    )
    quality = F.round(
        0.4 * len_component + 0.3 * stop_component + 0.3 * punct_component, 4
    )

    hits = {lang: F.col(f"_hits_{lang}") for lang in LANG_STOPWORDS}
    best = F.greatest(*hits.values())
    lang_pred = F.lit("und")
    for lang in reversed(list(LANG_STOPWORDS)):
        lang_pred = F.when(
            (hits[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(lang_pred)

    return prims.select(
        "doc_id",
        words.alias("n_tokens"),
        "n_bpe_tokens",
        quality.alias("quality"),
        lang_pred.alias("lang_pred"),
        "fp",
        *passthrough,
    )


def repetition_signals(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals (the quality filters
    used to drop templated/spammy pages before training):

    - ``dup_line_frac``  — fraction of lines that are repeats of an earlier
      line in the same document;
    - ``dup_word_frac``  — fraction of word occurrences beyond each word's
      first;
    - ``top_bigram_frac`` — share of all word-bigram occurrences taken by
      the single most frequent bigram.

    All pure array/lambda column algebra (codegen'd); the per-row distinct
    scan is O(distinct × n) on in-memory arrays — no shuffle, no UDF."""
    lines = F.split(F.col(text_col), "\n")
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    nw = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(nw - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(nw - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    nb = F.size(bigrams)
    # max multiplicity = longest equal run in the SORTED array — O(n log n).
    # (The first shape tried, count-per-distinct via filter, is O(distinct·n)
    # per row: ~2.7M element compares on a 2k-word doc, measured 73 s for
    # 5k docs at sf0.1.  The DuckDB oracle keeps the quadratic form — same
    # values, and the oracle only ever runs at tiny scale.)
    top_bigram = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return documents.select(
        id_col,
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines), 4
        ).alias("dup_line_frac"),
        F.when(
            nw > 0,
            F.round(F.lit(1.0) - F.size(F.array_distinct(words)) / nw, 4),
        ).otherwise(F.lit(0.0)).alias("dup_word_frac"),
        F.when(nb > 0, F.round(top_bigram / nb, 4))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


#: the Gopher paper's required stop words: a doc must contain >= 2 of them
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_required_stopwords: int = 2,
) -> DataFrame:
    """The Gopher rule set (Rae et al. 2021, §A1.1) as one column-algebra
    operator: per document, every rule's measured value, a per-rule pass
    flag, and the composite ``keep``.  The published heuristics a
    pretraining curator runs verbatim — word-count window, mean word
    length window, symbol-to-word ratio (# and ...), bullet/ellipsis line
    fractions, alphabetic-word fraction, and the required-stop-word
    count.  Emitting the measured values (not just ``keep``) is
    deliberate: threshold tuning is a per-corpus exercise and re-running
    the scan per candidate threshold is the thing to avoid at 100 TB.

    Scale shape: one narrow projection over the scan — split/filter/
    aggregate lambda algebra per row, no shuffle, no UDF; every rule
    shares the single tokenization."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != F.lit(""))
    nw = F.size(words)
    mean_wl = F.when(
        nw > 0,
        F.aggregate(
            words, F.lit(0.0), lambda acc, w: acc + F.length(w)
        ) / nw,
    ).otherwise(F.lit(0.0))
    n_symbols = (
        F.size(F.split(t, "#", -1)) - 1
        + F.size(F.split(t, r"\.\.\.", -1)) - 1
        + F.size(F.split(t, "…", -1)) - 1
    )
    lines = F.filter(
        F.split(t, "\n"), lambda ln: F.trim(ln) != F.lit("")
    )
    nl = F.size(lines)
    bullet_frac = F.when(
        nl > 0,
        F.size(
            F.filter(
                lines,
                lambda ln: F.trim(ln).rlike(r"^(•|‣|▪|\*|-)\s"),
            )
        ) / nl,
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        nl > 0,
        F.size(
            F.filter(
                lines,
                lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$"),
            )
        ) / nl,
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        nw > 0,
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / nw,
    ).otherwise(F.lit(0.0))
    lower_words = F.transform(words, F.lower)
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPWORDS]),
            lambda s: F.array_contains(lower_words, s),
        )
    )
    m = documents.select(
        id_col,
        nw.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(
            F.when(nw > 0, n_symbols / nw).otherwise(F.lit(0.0)), 4
        ).alias("symbol_word_ratio"),
        F.round(bullet_frac, 4).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        n_stop.alias("n_required_stopwords"),
    )
    flags = m.select(
        "*",
        ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).alias(
            "pass_word_count"
        ),
        (
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
        ).alias("pass_mean_word_len"),
        (F.col("symbol_word_ratio") <= max_symbol_word_ratio).alias(
            "pass_symbol_ratio"
        ),
        (F.col("bullet_line_frac") <= max_bullet_line_frac).alias(
            "pass_bullet_lines"
        ),
        (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac).alias(
            "pass_ellipsis_lines"
        ),
        (F.col("alpha_word_frac") >= min_alpha_word_frac).alias(
            "pass_alpha_words"
        ),
        (F.col("n_required_stopwords") >= min_required_stopwords).alias(
            "pass_stopwords"
        ),
    )
    return flags.select(
        "*",
        (
            F.col("pass_word_count")
            & F.col("pass_mean_word_len")
            & F.col("pass_symbol_ratio")
            & F.col("pass_bullet_lines")
            & F.col("pass_ellipsis_lines")
            & F.col("pass_alpha_words")
            & F.col("pass_stopwords")
        ).alias("keep"),
    )


def c4_quality_rules(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_kept_lines: int = 3,
    badwords: "list[str] | None" = None,
) -> DataFrame:
    """The C4 cleanup rules (Raffel et al. 2020, §2.2) as one
    column-algebra pass — the canonical LINE-level complement to the
    doc-level :func:`gopher_quality_rules`:

    line-level (the text is REWRITTEN to the surviving lines):
    - keep only lines ending in terminal punctuation (``. ! ? "``);
    - keep only lines with at least ``min_line_words`` words;
    - drop any line containing the word "javascript" (case-insensitive);

    doc-level (``keep`` flag):
    - at least ``min_kept_lines`` lines survive;
    - the document contains no "lorem ipsum" and no curly bracket;
    - no word from ``badwords`` (caller-supplied blocklist; C4 used the
      LDNOOBW list, which ships no license fit for embedding here).

    Emits ``(id, text_clean, n_lines_in, n_lines_kept, keep)`` — callers
    filter on ``keep`` and train on ``text_clean``.

    Scale shape: one narrow projection over the scan — split + lambda
    filters + array_join per row; no shuffle, no UDF."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(t, "\n"), lambda ln: F.trim(ln) != F.lit(""))
    kept_lines = F.filter(
        lines,
        lambda ln: F.rtrim(ln).rlike(r'[.!?"]$')
        & (
            F.size(
                F.filter(
                    F.split(F.trim(ln), r"\s+"), lambda w: w != F.lit("")
                )
            )
            >= F.lit(min_line_words)
        )
        & ~F.lower(ln).rlike("javascript"),
    )
    text_clean = F.array_join(kept_lines, "\n")
    lower_doc = F.lower(t)
    doc_ok = (
        (F.size(kept_lines) >= F.lit(min_kept_lines))
        & ~lower_doc.contains("lorem ipsum")
        & ~t.contains("{")
    )
    if badwords:
        toks = F.split(F.lower(F.trim(t)), r"\s+")
        n_bad = F.size(
            F.filter(
                F.array(*[F.lit(w.lower()) for w in badwords]),
                lambda w: F.array_contains(toks, w),
            )
        )
        doc_ok = doc_ok & (n_bad == 0)
    return documents.select(
        id_col,
        text_clean.alias("text_clean"),
        F.size(lines).alias("n_lines_in"),
        F.size(kept_lines).alias("n_lines_kept"),
        doc_ok.alias("keep"),
    )


def tfidf_keywords(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Corpus-TF-IDF keyword extraction: top-``k`` terms per document by
    ``tf * idf`` with ``idf = ln((N+1)/(df+1)) + 1`` (smoothed).  The
    corpus-statistics demo op: needs a global document-frequency table, not
    just per-row algebra.

    Scores are rounded to 6 decimals BEFORE ranking (ln differs in the last
    ulp across libm implementations; ranking on raw doubles would make the
    cross-engine top-k unstable), ties broken by term ascending.

    Scale shape: explode → (doc, term) count agg → df agg keyed on
    ``xxhash64(term)`` (8-byte keys, not vocabulary strings — at web-corpus
    vocabulary scale the df join shuffles hashes; a 64-bit collision merges
    two terms' df counts, odds ~N²/2^65, and the DuckDB oracle joining on
    the raw string evidences the absence) → per-doc window top-k.  N (the
    corpus document count) rides in as a broadcast 1-row aggregate instead
    of a separate ``count()`` action, so non-parquet sources are scanned
    once, by one job.  All aggregations map-side combine."""
    from pyspark.sql.window import Window

    n_docs_df = documents.agg(F.count("*").cast("double").alias("_n_docs"))
    words = documents.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = words.groupBy("id", "term").agg(F.count("*").alias("tf")).withColumn(
        "tk", F.xxhash64("term")
    )
    n_words = words.groupBy("id").agg(F.count("*").alias("n_words"))
    df_tbl = tf.groupBy("tk").agg(F.count("*").alias("df"))
    scored = (
        tf.join(n_words, "id")
        .join(df_tbl, "tk")
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            "id",
            "term",
            F.round(
                (F.col("tf") / F.col("n_words"))
                * (F.log((F.col("_n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col), "term", "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ngram_lm_score(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
) -> DataFrame:
    """CCNet-style statistical-LM quality signal: score every document by
    the mean log-probability of its token bigrams under an add-k-smoothed
    bigram model trained on the corpus itself —

        P(w2 | w1) = (c(w1,w2) + k) / (c(w1,·) + k·V)

    with V the corpus vocabulary size.  Returns ``(id, n_bigrams,
    lm_score)`` for every document with at least one bigram (≥2 tokens);
    higher (less negative) = more typical of the corpus, the standard
    perplexity-bucket filter for pretraining data (CCNet trains KenLM on
    Wikipedia; the train-corpus choice is the caller's — pass a reference
    corpus' counts by unioning it in upstream).

    Cross-engine: counts are integers, the only floats are ln() (last-ulp
    across libm) and the mean's summation order (~1e-16 relative), so the
    4-decimal round is stable.

    Scale shape: bigrams are per-row column algebra (no shuffle to
    build); one map-side-combined count agg on ``(bk, ck)`` =
    ``(xxhash64(w1,w2), xxhash64(w1))`` — 8-byte keys, not vocabulary
    strings — yields the per-bigram counts, and the per-context counts
    aggregate over that DISTINCT-BIGRAM relation (bk determines ck, so
    ``sum(c12) group by ck`` is exact): the ck shuffle carries one row
    per distinct bigram instead of one per occurrence, which is the
    scale win (a Zipf-hot context like "of" no longer ships its every
    occurrence into the ck agg).  Physically the agg subtree replays for
    the context branch — the lambda-heavy scan defeats exchange-reuse
    canonicalization — but the replay is the map-side-combined agg, not
    extra shuffle volume.  The two count tables join each other first
    (small ⋈ small), then the corpus joins once on ``(bk, ck)``.  Every
    corpus-side shuffle is either a partial-agg groupBy or a sort-merge
    join — both absorb Zipf-hot bigrams ("of the") via map-side combine
    / AQE skew-split, which is why this is deliberately NOT a
    count-window formulation: a window partitioned on bk would funnel a
    hot bigram's every occurrence through one task with no partial
    aggregation and no AQE split.  V rides as a broadcast 1-row
    aggregate (no separate count() action).  A 64-bit key collision
    merges two bigrams' counts (odds ~N²/2^65); the DuckDB oracle
    joining on raw strings evidences the absence."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    docs = documents.select(F.col(id_col).alias("id"), toks.alias("a"))
    # sequence(0, size-2) would produce a DESCENDING [0,-1] for 1-token
    # docs (Spark default step is -1 when start > stop) — filter first.
    big = (
        docs.filter(F.size("a") >= 2)
        .select(
            "id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(a) - 2),"
                    " i -> struct(a[i] AS w1, a[i + 1] AS w2))"
                )
            ).alias("bg"),
        )
        .select("id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    keyed = big.select(
        "id",
        F.xxhash64("w1", "w2").alias("bk"),
        F.xxhash64("w1").alias("ck"),
    )
    pair_counts = keyed.groupBy("bk", "ck").agg(F.count("*").alias("c12"))
    context_counts = pair_counts.groupBy("ck").agg(
        F.sum("c12").alias("c1")
    )
    counts = pair_counts.join(context_counts, "ck")
    vocab = docs.select(F.explode("a").alias("tok")).agg(
        F.count_distinct("tok").cast("double").alias("_v")
    )
    lp = F.log(
        (F.col("c12") + F.lit(add_k)) / (F.col("c1") + F.lit(add_k) * F.col("_v"))
    )
    return (
        keyed.join(counts, ["bk", "ck"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(lp), 4).alias("lm_score"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "lm_score")
    )


def hashed_tf_embedding(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Feature-hashed TF embeddings (the hashing trick): token t votes its
    count into dimension hash(t) mod ``dim``; the vector is the
    L2-normalized count profile, components rounded to 6 decimals for
    cross-engine stability.  Returns (id, embedding: array<double>) for
    every document with at least one token.

    This closes the text → vector gap in the similarity stack: the
    cosine/ANN/IVF/near-dup operators no longer require externally
    computed embeddings — hashed TF at dim 64-256 is the standard cheap
    signal for embedding-cosine near-dup detection and coarse clustering.

    ``hash_fn="xxhash64"`` is the production path (one JVM intrinsic per
    token); ``"md5"`` derives the dimension from the leading 8 hex digits
    (same decode as the minhash family) so DuckDB can replay it.

    Scale shape: explode → one (id, dim) map-side-combined count agg →
    one per-id agg building a dim→count map → O(dim + tokens) per doc
    column algebra (map lookup per dimension — never O(dim x tokens)).
    Two shuffles total, both on compact keys."""
    words = documents.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    if hash_fn == "md5":
        d = (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
            % F.lit(dim)
        )
    elif hash_fn == "xxhash64":
        d = F.pmod(F.xxhash64(F.col("tok")), F.lit(dim))
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    counts = words.groupBy("id", d.alias("d")).agg(
        F.count("*").cast("double").alias("c")
    )
    maps = counts.groupBy("id").agg(
        F.map_from_entries(F.collect_list(F.struct("d", "c"))).alias("m")
    )
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("bigint")), F.lit(0.0)),
    )
    vec = maps.select("id", raw.alias("v"))
    norm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    return vec.select(
        F.col("id").alias(id_col),
        F.transform(F.col("v"), lambda x: F.round(x / norm, 6)).alias("embedding"),
    )


def _rank_boundaries(
    scored: DataFrame,
    ranks: "tuple[int, ...]",
    score_col: str,
    id_col: str,
    plan_sink: "list | None" = None,
) -> list:
    """Exact ``(score, id)`` element at each 1-based global DESCENDING
    rank, WITHOUT a global single-partition sort.

    Shape: range-repartition on the sort key (globally ordered partitions
    of ~n/P rows each), count rows per partition (bounded collect — one
    long per partition), convert each global rank to (partition, local
    rank) by prefix sums, then fetch the boundary rows with a window
    PARTITIONED by partition id — every task sorts only its own slice; no
    stage funnels the corpus through one task.  Returns boundaries in
    ``ranks`` order."""
    from pyspark.sql.window import Window

    spark = scored.sparkSession
    num_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 8)
    part = (
        scored.select(F.col(id_col).alias("_id"), F.col(score_col).alias("_s"))
        .repartitionByRange(num_parts, F.desc("_s"), F.desc("_id"))
        .withColumn("_p", F.spark_partition_id())
        # persisted so the count action and the boundary fetch see the
        # SAME physical placement (range boundaries are sampled per plan
        # execution; the cache pins one outcome)
        .persist()
    )
    try:
        counts = {
            r["_p"]: r["n"]
            for r in part.groupBy("_p").agg(F.count("*").alias("n")).collect()
        }
        # range partitions are emitted in key order → prefix-sum offsets
        offset, offsets = 0, {}
        for p in sorted(counts):
            offsets[p] = offset
            offset += counts[p]
        # global rank k lives in partition p at local rank k - offsets[p]
        targets: dict = {}
        for k in ranks:
            for p in sorted(counts):
                if offsets[p] < k <= offsets[p] + counts[p]:
                    targets.setdefault((p, k - offsets[p]), []).append(k)
                    break
        cond = None
        for p, lr in targets:
            c = (F.col("_p") == p) & (F.col("_lr") == lr)
            cond = c if cond is None else (cond | c)
        w = Window.partitionBy("_p").orderBy(F.desc("_s"), F.desc("_id"))
        fetch = part.withColumn("_lr", F.row_number().over(w)).filter(cond)
        if plan_sink is not None:  # test hook: physical plan of the fetch
            plan_sink.append(
                fetch._jdf.queryExecution().executedPlan().toString()
            )
        by_rank = {}
        for r in fetch.collect():
            for k in targets[(r["_p"], r["_lr"])]:
                by_rank[k] = (r["_s"], r["_id"])
        return [by_rank[k] for k in ranks]
    finally:
        part.unpersist()


def score_buckets(
    scored: DataFrame,
    score_col: str = "lm_score",
    id_col: str = "doc_id",
    names: tuple = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet-style head/middle/tail assignment: rank the scored set
    descending (best first, ties broken by id), find the two exact
    boundary elements at ranks ceil(n/3) and ceil(2n/3), and label each
    doc by comparing its (score, id) tuple against those boundaries.
    Deterministic and exactly replayable cross-engine — no float
    quantile interpolation.

    Scale shape: boundary location is distributed — range-repartition on
    the sort key, per-partition counts, then a partition-local ranking
    window (see :func:`_rank_boundaries`); no stage sorts the corpus in a
    single task.  Assignment itself is a broadcast tuple comparison, a
    narrow map.  At 10^12 docs the same code holds; optionally estimate
    the boundaries on a ``hash_sample`` of the scored set first (CCNet
    fits its perplexity cutoffs on a sample too) — this function composes
    with sampling.py unchanged."""
    # persisted for the boundary actions (count + partition counts +
    # boundary fetch); the returned assignment recomputes the scored plan
    # once at action time, after the unpersist — callers that reuse it
    # should persist themselves
    scored = scored.persist()
    n = scored.count()  # bounded: one long
    if n == 0:
        scored.unpersist()
        # limit(0) on the full projection keeps the empty path's schema
        # identical to the non-empty path (all input columns + bucket)
        return scored.withColumn("bucket", F.lit(names[1])).limit(0)
    k1, k2 = -(-n // 3), -(-2 * n // 3)  # ceil
    b1, b2 = _rank_boundaries(scored, (k1, k2), score_col, id_col)
    scored.unpersist()

    def at_least(bound):
        s, i = bound
        return (F.col(score_col) > F.lit(s)) | (
            (F.col(score_col) == F.lit(s)) & (F.col(id_col) >= F.lit(i))
        )

    bucket = (
        F.when(at_least(b1), F.lit(names[0]))
        .when(at_least(b2), F.lit(names[1]))
        .otherwise(F.lit(names[2]))
    )
    return scored.withColumn("bucket", bucket)
