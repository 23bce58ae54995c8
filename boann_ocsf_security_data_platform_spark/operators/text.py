"""Text-analysis operators for training-data pipelines.

All pure Column expressions (JVM-side, codegen'd, shuffle-free): at 100 TB
these run at scan bandwidth. Every operator is deliberately expressible in
portable SQL so the DuckDB oracle can verify it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hash_fns import hash64, normalize_text
from .cache import materialize
from .gates import merge_pinned, sized_shuffle

# Tiny deterministic stopword lists per language for the n-gram/stopword
# language-ID heuristic. Order matters: ties break toward the first listed.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "para", "en", "que"),
}

STOPWORDS_EN = LANG_STOPWORDS["en"] + ("this", "with", "as", "on", "be", "are")


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the lowercased text (empty tokens dropped).

    Token-identical to the original normalize-then-split form —
    collapsing whitespace runs to one space and splitting on it yields
    the same non-empty pieces as splitting on ``\\s+`` directly, with
    leading/trailing runs producing empty strings the filter drops
    either way (verified: zero mismatching token lists over the full
    sf0.1 corpus) — but in ONE regex pass over the text instead of two
    (round 13, guide §1.2 per-task work: every text operator pays this
    expression at scan time)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def bpe_ish_tokens(col: Column | str) -> Column:
    """BPE-ish sub-word segmentation: split on whitespace AND on
    letter/digit/punctuation boundaries (a cheap, deterministic stand-in
    for a real tokenizer's pre-tokenization pass)."""
    c = F.col(col) if isinstance(col, str) else col
    marked = F.regexp_replace(
        F.lower(c), r"([0-9]+|[^a-z0-9\s]+)", r" $1 "
    )
    return F.filter(F.split(F.trim(marked), r"\s+"), lambda t: t != "")


def _with_word_ngrams(
    df: DataFrame, text_col: str, n: int, out_col: str
) -> DataFrame:
    """Attach the word n-gram array as a column, with the token array
    MATERIALIZED in its own projection first: referencing the raw
    ``tokens(text)`` expression inside the per-element gram lambda makes
    Spark re-evaluate the split for EVERY gram (no common-subexpression
    elimination across lambda scope) — O(words²) characters per document.
    A multi-referenced intermediate column survives CollapseProject, so
    the split runs once per row (same trick as
    dedup.with_hashed_shingles' _word_hashes)."""
    toked = df.withColumn("_toks", tokens(F.col(text_col)))
    t = F.col("_toks")
    if n == 2:
        # Bigram fast path (round 13): zip_with over the token array and
        # its shift — one concat per gram — measured 2.25x faster than
        # the positional slice+array_join lambda (which re-slices the
        # array per position) and gram-identical on the full sf0.1
        # corpus. Bigrams are the hot path: the LM, DSIR, PMI and
        # Kneser-Ney families all pay this expression per corpus scan.
        grams = F.when(
            F.size(t) >= 2,
            F.zip_with(
                F.slice(t, 1, F.size(t) - 1),
                F.slice(t, 2, F.size(t) - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
    else:
        grams = F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.array_join(F.slice(t, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    return toked.withColumn(out_col, grams).drop("_toks")


def text_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics + composite score.

    Metrics follow the usual pretraining-filter recipe (length, mean word
    length, stopword ratio, punctuation/digit density). The score is a
    transparent linear blend — callers threshold it to filter.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda w: w.isin(*STOPWORDS_EN))
    )
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()]", ""))
    digits = F.length(F.regexp_replace(t, r"[^0-9]", ""))

    mean_word_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, digits / n_chars).otherwise(F.lit(0.0))

    length_ok = (n_tokens >= 10) & (n_tokens <= 100000)
    word_len_ok = (mean_word_len >= 2.0) & (mean_word_len <= 15.0)

    score = (
        F.lit(0.25) * length_ok.cast("double")
        + F.lit(0.25) * word_len_ok.cast("double")
        + F.lit(0.25) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.25) * (1 - F.least((punct_ratio + digit_ratio) * 4, F.lit(1.0)))
    )

    return df.select(
        "*",
        n_tokens.alias("n_tokens"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language ID: score each candidate language by the
    share of tokens in its stopword list; argmax wins, 'und' (undetermined)
    when nothing matches."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    scores = {
        lang: F.when(
            n > 0, F.size(F.filter(toks, lambda w: w.isin(*words))) / n
        ).otherwise(F.lit(0.0))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # reversed so the FIRST language in dict order wins ties
    for lang in reversed(list(scores)):
        pred = F.when(best == scores[lang], F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return df.select(
        "*", F.round(best, 6).alias("lang_score"), pred.alias("lang_pred")
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint over the canonicalized text —
    the exact-dedup / provenance key."""
    return df.withColumn("fingerprint", F.md5(normalize_text(F.col(text_col))))


# PII patterns deliberately conservative and ENGINE-PORTABLE (RE2-safe: no
# backreferences/lookaround so the same regex runs in Spark, DuckDB, and
# most scrubbing stacks).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "ipv4": r"([0-9]{1,3}\.){3}[0-9]{1,3}",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Replace PII spans with ``[TYPE]`` placeholders — the standard
    pre-training scrub. Chained ``regexp_replace`` stays a pure Column
    expression (codegen'd, scan-bandwidth); order matters: SSN before phone
    so the more specific pattern claims its span first."""
    c = F.col(text_col)
    for kind in ("email", "ssn", "phone", "ipv4"):
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return df.withColumn(out_col, c)


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
    ctx_len: int = 512,
) -> DataFrame:
    """Assign documents to fixed-size training sequences ("packing"): in a
    deterministic per-shard order, each document starts at the running
    token offset of everything before it, and its pack id is that offset
    divided by the context length — the streaming-concatenation packing a
    pretraining dataloader performs, computed as ONE window scan.

    No driver loop and no state: exclusive prefix sum over ``shard_col``
    (shards are independent, so packing parallelizes across them at 100 TB
    and the shuffle is the one window repartition). Documents may straddle
    a pack boundary — the concat-then-chunk semantic, matching how packed
    pretraining batches are actually cut.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df.withColumn("n_tokens", F.size(tokens(F.col(text_col))).cast("long"))
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        out.withColumn("pack_id", F.floor(cum_before / ctx_len).cast("long"))
        .withColumn("pack_offset", (cum_before % ctx_len).cast("long"))
    )


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 100,
) -> DataFrame:
    """Corpus vocabulary: top-``top_n`` tokens by total occurrence count
    with document frequency — the tokenizer-training / vocab-pruning
    aggregate.

    Two hash-aggregates (token counts get map-side partial aggregation;
    doc_freq distincts (token, doc) first) and the global top-N plans as
    TakeOrderedAndProject — each partition ships only its local top-N, so
    the driver never sees the full vocabulary. Ties at the cut break on
    the token itself for cross-engine determinism.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    agg = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct(id_col).alias("doc_freq"),
    )
    return agg.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(top_n)


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition signals (the Gopher / RefinedWeb filter
    family): word-level duplicate fraction, duplicate-2-gram instance
    fraction, and the character share claimed by the most frequent 2-gram.
    Boilerplate and degenerate generations score high on all three; the
    caller thresholds them as keep/drop gates.

    Row-local array expressions only — no explode, no shuffle, scan
    bandwidth at any scale. Per-row work is O(w log w) in the document's
    own word count: the 2-grams are ``array_sort``-ed once, then ONE
    run-length fold counts duplicate instances and the best
    ``count × length`` cover (round 9 — replaces the original nested
    filter-inside-aggregate, O(w²) per row, 26 s at sf1 for a row-local
    projection; same counts, so identical output: instance multiplicity
    is order-free).
    """
    step = df.withColumn("_ws", tokens(F.col(text_col)))
    n = F.size(F.col("_ws"))
    step = step.withColumn(
        "_grams",
        F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("_ws"), i),
                    F.element_at(F.col("_ws"), i + 1),
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    g = F.col("_grams")
    ng = F.size(g)
    norm_len = F.length(normalize_text(F.col(text_col)))
    # run-length fold over the sorted grams: equal grams are adjacent, so
    # one left-to-right pass tracks (prev, current run length, duplicate
    # instances so far, best run·length). A gram equal to its predecessor
    # extends the run — the instance joining a run of 1 retroactively
    # counts both members (+2), later members +1 — exactly "instances
    # whose gram appears more than once". NULL prev sentinel: the first
    # comparison is NULL, so when() takes the run=1 branch.
    _run = lambda acc, x: (  # noqa: E731 - shared by two struct fields
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
    )
    rep = F.aggregate(
        F.array_sort(g),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("dup"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            _run(acc, x).alias("run"),
            (
                acc["dup"]
                + F.when(
                    x == acc["prev"],
                    F.when(acc["run"] == 1, F.lit(2)).otherwise(F.lit(1)),
                ).otherwise(F.lit(0))
            ).alias("dup"),
            F.greatest(acc["best"], _run(acc, x) * F.length(x)).alias(
                "best"
            ),
        ),
    )
    dup_gram_instances = rep["dup"]
    top_gram_chars = rep["best"]
    return step.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        F.round(
            F.when(n > 0, 1 - F.size(F.array_distinct(F.col("_ws"))) / n).otherwise(
                0.0
            ),
            6,
        ).alias("dup_word_frac"),
        F.round(
            F.when(ng > 0, dup_gram_instances / ng).otherwise(0.0), 6
        ).alias("dup_2gram_frac"),
        F.round(
            F.when((ng > 0) & (norm_len > 0), top_gram_chars / norm_len).otherwise(
                0.0
            ),
            6,
        ).alias("top_2gram_cover"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 32,
    stride: int = 16,
) -> DataFrame:
    """Split each document into overlapping fixed-size token windows — the
    RAG / embedding-indexing chunker. Chunk starts advance by ``stride``
    tokens (stride < size → overlap); the final chunk may be short.

    ``sequence`` + ``transform`` + one ``explode`` — the only data movement
    is the generate itself; chunks inherit the parent's partition, so a
    downstream embed/encode stage runs without a shuffle. Empty documents
    yield no chunks.
    """
    step = df.withColumn("_ws", tokens(F.col(text_col)))
    n = F.size(F.col("_ws"))
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(stride)))
    step = step.select(
        F.col(id_col), F.col("_ws"), F.explode(starts).alias("_start")
    )
    chunk = F.slice(F.col("_ws"), F.col("_start"), size)
    return step.select(
        F.col(id_col),
        (F.floor((F.col("_start") - 1) / stride) + 1).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, the scikit-style smoothing) — the
    keyword-extraction / corpus-exploration primitive.

    Document frequency re-aggregates the (doc, term) counts rather than
    re-distincting the raw token stream — on real corpora the distinct
    (doc, term) set is an order of magnitude smaller than the token
    instances, so the second aggregate reads the reduced side (on the
    synthetic tiny-vocabulary corpus the two coincide and the rewrite is
    timing-neutral). A broadcast one-row corpus count supplies N, and the
    per-doc top-k plans as WindowGroupLimit (partial top-k before the
    shuffle). Score is rounded BEFORE ranking and ties break on the term
    so the cut is deterministic across engines.
    """
    from pyspark.sql import Window

    w = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = w.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    idf = F.log((F.col("_n_docs") + F.lit(1.0)) / (F.col("df_t") + F.lit(1.0))) + 1.0
    scored = (
        tf.join(  # df table is vocabulary-sized
            merge_pinned(dft, pin_shuffle_join), "term"
        )
        .join(F.broadcast(n_docs))
        .withColumn("score", F.round(F.col("tf") * idf, 6))
    )
    win = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            "term",
            F.col("tf").cast("long").alias("tf"),
            "score",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    top_k: int | None = None,
) -> DataFrame:
    """Corpus-wide word n-gram frequencies — the language-model statistics
    primitive (bigram/trigram tables for contamination screens, boilerplate
    discovery, perplexity-free LM baselines).

    N-grams are built ROW-LOCALLY with array higher-order functions
    (``transform(sequence(...))`` over a positional ``slice``), so the only
    shuffle is the final count aggregate — map-side combined, and the
    distinct n-gram space (≪ token instances on real corpora) is what moves.
    No explode-then-self-join: joining the token stream to itself on
    position would shuffle every token ``n`` times.

    With ``top_k`` the global cut plans as TakeOrderedAndProject (each
    partition ships only its local top-k); ties break on the n-gram text so
    the cut is deterministic. Returns ``ngram, n_occurrences``.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    counted = (
        _with_word_ngrams(df, text_col, n, "_grams")
        .select(F.explode("_grams").alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    if top_k is not None:
        counted = counted.orderBy(
            F.desc("n_occurrences"), F.asc("ngram")
        ).limit(top_k)
    return counted


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    pin_shuffle_join: bool = True,
    carry_cols: tuple = (),
) -> DataFrame:
    """Corpus-bigram language-model score per document (CCNet-style
    quality signal without an external LM): the mean log-probability of
    the document's bigram instances under an add-``alpha``-smoothed bigram
    model fit on the corpus itself,
    ``P(w2|w1) = (C(w1 w2) + α) / (C(w1 ·) + α·V)``.

    Low scores flag gibberish / boilerplate-fragment documents whose word
    transitions the corpus has never seen; high scores flag fluent,
    typical text — the standard perplexity-bucket filter for pretraining
    data, self-contained (the corpus is its own LM).

    Plan shape at 100 TB (round-13 restructure): bigrams are built
    ROW-LOCALLY (no token self-join); the (doc, bigram) frame ``dg`` is
    computed ONCE and persisted — the round-12 form rebuilt it three
    times because Catalyst inferred join-key IsNotNull filters into one
    branch but not the others, so the shared subtree stopped being
    canonically equal and ReuseExchange never fired (plan-verified:
    four corpus scans for one score). The full per-gram model —
    C(w1 w2), C(w1 ·) and the smoothed log-prob — is assembled in GRAM
    SPACE (ctx joins back onto cbi, not onto the fact-sized stream, so
    the corpus frame is never shuffled by w1 at all), and exactly one
    fact-sized join attaches it, sized from the measured dg count above
    the pin and broadcast below it. Documents with <2 tokens return
    NULL score.

    Numerically identical to the round-12 form: c_bi/c_ctx are exact
    integer sums, _logp is computed from the same (c_bi, c_ctx, v)
    integers per gram, and the per-doc aggregate is the same expression
    over the same rows — only partitioning changed, which the 6-dp
    round already had to absorb (cross-engine sum order).

    Returns ``(id_col, n_bigrams, lm_score)``.
    """
    dg = materialize(
        _with_word_ngrams(df, text_col, 2, "_grams")
        .select(F.col(id_col), F.explode("_grams").alias("bigram"))
        .groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("n")),
        disk=pin_shuffle_join,
    )
    cbi = materialize(
        dg.groupBy("bigram")
        .agg(F.sum("n").alias("c_bi"))
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
    )
    ctx = cbi.groupBy("w1").agg(F.sum("c_bi").alias("c_ctx"))
    vocab = df.select(F.explode(tokens(F.col(text_col))).alias("tok")).agg(
        F.count_distinct("tok").alias("v")
    )
    # The complete per-gram model — C(w1 w2), C(w1 ·), V, and the smoothed
    # log-prob — is assembled entirely in GRAM SPACE: ctx joins back onto
    # cbi (round-13 restructure; the old form joined ctx onto the
    # (doc, bigram) stream, shuffling the fact-sized frame by w1 a second
    # time for values derivable from the gram table).
    model = (
        cbi.join(merge_pinned(ctx, pin_shuffle_join), "w1")
        .join(F.broadcast(vocab))
        .select(
            "bigram",
            F.log(
                (F.col("c_bi") + F.lit(alpha))
                / (F.col("c_ctx") + F.lit(alpha) * F.col("v"))
            ).alias("_logp"),
        )
    )
    # ONE fact-sized join attaches the model: dg ⋈ model on bigram. Above
    # the pin both sides are hash-repartitioned to a count-derived
    # partition number (the q8 _widen_fact_shuffle discipline — the
    # measured count is a cache-metadata scan since dg persists) so the
    # sort-merge sorts ~4 M rows per task instead of riding AQE's
    # compressed-bytes advisory; AQE's skew-join split handles the hot
    # first-word keys, which is why this is a JOIN and not a window — a
    # whole-partition window over w1 buffers the hottest word's entire
    # group per task and OOM'd the 8 g heap at sf100 (measured this
    # round, both at 23 and 260 window partitions). Below the pin the
    # model broadcasts and dg never reshuffles.
    if pin_shuffle_join:
        n_dg = dg.count()
        joined = sized_shuffle(dg, "bigram", n_dg).join(
            sized_shuffle(model, "bigram", n_dg), "bigram"
        )
    else:
        joined = dg.join(merge_pinned(model, pin_shuffle_join), "bigram")
    scored = joined.groupBy(id_col).agg(
        F.sum("n").alias("n_bigrams"),
        F.round(
            F.sum(F.col("n") * F.col("_logp")) / F.sum("n"), 6
        ).alias("lm_score"),
    )
    # carry_cols ride the left side of the ONE doc-grain join — a caller
    # re-joining the corpus for extra columns fuses a second same-key
    # SMJ + corpus scan into the scoring pipeline (round-12 scan-all
    # find on corpus_ccnet_buckets).
    return (
        df.select(id_col, *carry_cols)
        .join(merge_pinned(scored, pin_shuffle_join), id_col, "left")
        .withColumn("n_bigrams", F.coalesce("n_bigrams", F.lit(0)))
    )


def dsir_importance(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    pin_shuffle_join: bool = True,
    hash_fn=hash64,
    carry_cols: tuple = (),
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every corpus
    document by how target-like its hashed n-gram feature distribution is,
    ``log w(d) = Σ_f∈d log( p_target(f) / p_raw(f) )`` over hashed bigram
    features — the cheap, tokenizer-free way to upsample domain-relevant
    pretraining data toward a small high-quality target set.

    Features are bigrams hashed into ``n_buckets`` buckets (the DSIR
    trick: a BOUNDED feature space regardless of vocabulary), with
    add-``alpha`` smoothing on both distributions. The whole model is two
    ``n_buckets``-row aggregates joined into ONE log-ratio table that
    BROADCASTS — per-document scoring is a broadcast join plus one
    aggregate, so the corpus shuffles once (on ``id_col``, map-side
    combined) no matter how large it is. Sampling from the weights is the
    caller's move (e.g. ``weighted_sample`` over ``exp(dsir_logweight)``
    or a Gumbel-top-k on the log weights).

    Returns ``(id_col, n_feats, dsir_logweight)``; documents with <2
    tokens have 0 features and NULL weight.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")

    def feats(df: DataFrame) -> DataFrame:
        return (
            _with_word_ngrams(df, text_col, 2, "_grams")
            .select(F.col(id_col), F.explode("_grams").alias("_g"))
            .select(id_col, (hash_fn(F.col("_g")) % n_buckets).alias("bucket"))
        )

    # Round-13 pass-count fix (guide §2.4, plan-verified): the instance-
    # grade form tokenized + md5-hashed the CORPUS three times (scoring,
    # raw_c, and n_raw's re-aggregation) and the target twice (tgt_c,
    # n_tgt) — Catalyst planned every branch as its own scan because the
    # scalar totals re-derived the bucket counts from scratch. Now the
    # corpus collapses ONCE to the per-(doc, bucket) multiplicity frame
    # ``fg`` (materialized), raw_c derives from fg, and the two
    # bucket-count tables (≤ n_buckets rows each) are materialized so the
    # scalar totals are sums over ≤1024 cached rows, not corpus re-scans.
    # c_raw/c_tgt/n_feats are exact integer sums either way;
    # dsir_logweight becomes Σ m·logratio instead of logratio summed m
    # times — algebraically identical, same 6-dp round that already
    # absorbs cross-engine accumulation order.

    # (A repartition(id_col) that would let fg's aggregate and the final
    # per-doc aggregate share one exchange was measured and rejected: an
    # InMemoryRelation over an AQE plan reports unknown output
    # partitioning, so the downstream aggregate re-exchanges anyway and
    # the repartition only fattens the shuffle from post-partial-agg
    # rows to raw instances.)
    fg = materialize(
        feats(corpus)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("m")),
        disk=pin_shuffle_join,
    )
    # full-outer join of the two bucket-count tables: buckets unseen in one
    # distribution still carry their smoothed floor via coalesce(count, 0)
    raw_c = materialize(fg.groupBy("bucket").agg(F.sum("m").alias("c_raw")))
    tgt_c = materialize(
        feats(target).groupBy("bucket").agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    n_raw = raw_c.agg(F.sum("c_raw").alias("n_raw"))
    n_tgt = tgt_c.agg(F.sum("c_tgt").alias("n_tgt"))
    model = (
        raw_c.join(tgt_c, "bucket", "full_outer")
        .join(F.broadcast(n_raw))
        .join(F.broadcast(n_tgt))
        .select(
            "bucket",
            F.log(
                (
                    (F.coalesce("c_tgt", F.lit(0)) + F.lit(alpha))
                    / (F.col("n_tgt") + F.lit(alpha) * n_buckets)
                )
                / (
                    (F.coalesce("c_raw", F.lit(0)) + F.lit(alpha))
                    / (F.col("n_raw") + F.lit(alpha) * n_buckets)
                )
            ).alias("logratio"),
        )
    )
    scored = (
        fg.join(F.broadcast(model), "bucket")  # model ≤ n_buckets rows
        .groupBy(id_col)
        .agg(
            F.sum("m").alias("n_feats"),
            F.round(
                F.sum(F.col("m") * F.col("logratio")), 6
            ).alias("dsir_logweight"),
        )
    )
    # carry_cols ride the left side of the ONE doc-grain join — callers
    # needing extra corpus columns (e.g. source) must not re-join the
    # corpus afterwards: that second same-key join fuses with this one
    # into a double-scan sorter pipeline (round-12 scan-all find on
    # corpus_importance_ess).
    return (
        corpus.select(id_col, *carry_cols)
        .join(  # doc-grain scores
            merge_pinned(scored, pin_shuffle_join), id_col, "left"
        )
        .withColumn("n_feats", F.coalesce("n_feats", F.lit(0)))
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_score: float = 0.75,
    min_tokens: int = 10,
    lang_whitelist: tuple[str, ...] | None = None,
) -> DataFrame:
    """The composite pretraining keep/drop gate: quality score + length +
    (optional) language whitelist. Pure column predicates over the metric
    operators — one scan, no shuffle; returns the surviving rows with their
    metrics attached."""
    scored = text_quality(df, text_col)
    out = scored.filter(
        (F.col("quality_score") >= min_score)
        & (F.col("n_tokens") >= min_tokens)
    )
    if lang_whitelist:
        out = lang_id(out, text_col).filter(
            F.col("lang_pred").isin(*lang_whitelist)
        )
    return out


def domain_cap(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    max_per_domain: int = 100,
) -> DataFrame:
    """Cap every domain at ``max_per_domain`` documents, chosen by
    deterministic hash order — the per-site / per-source downsampling step
    that stops a single crawl domain from dominating the training mix.

    Ordering by ``hash64(id)`` (not by id) makes the survivors an unbiased
    uniform sample of the domain, yet fully reproducible across runs,
    engines, and cluster sizes (unlike ``sampleBy``, whose draw depends on
    the seed AND the partitioning). Spark 4 plans the row_number-≤-k filter
    as a map-side partial WindowGroupLimit, so the shuffle carries at most
    ``max_per_domain`` rows per (partition, domain) — the cap itself bounds
    the data movement at 100 TB.
    """
    from pyspark.sql import Window

    key = hash64(F.concat(F.lit("cap:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(domain_col).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_domain)
        .drop("_rn")
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    score_col: str = "quality_score",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Greedy per-domain corpus selection under a token budget: walk each
    domain's documents best-score-first and keep a document iff the budget
    is not yet exhausted when its turn comes — the "take the best N tokens
    per domain" curriculum/budgeting step of a training-data pipeline.

    One window scan (exclusive prefix sum of ``tokens_col`` ordered by
    score desc, id asc): a document is kept when the tokens accumulated
    BEFORE it are under budget, so the last kept document may straddle the
    boundary — the same concat-then-cut semantic as sequence packing.
    Domains are independent window partitions; at 100 TB the single shuffle
    is the window repartition by domain.
    """
    from pyspark.sql import Window

    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    w = (
        Window.partitionBy(domain_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0)).cast("long")
    return (
        df.withColumn("tokens_before", cum_before)
        .filter(F.col("tokens_before") < budget)
    )


def strip_frequent_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    max_doc_ratio: float = 0.5,
) -> DataFrame:
    """Corpus-frequency boilerplate removal (the C4 recipe): split every
    document into segments (lines by default), drop each segment whose
    document frequency exceeds ``max_doc_ratio`` of the corpus (navigation
    chrome, cookie banners, license headers), and reassemble the survivors
    in their original order. With ``delim=" "`` it degrades to
    document-frequency stopword pruning (the index-building variant).

    Plan shape: ONE explode feeds one hash-aggregate for per-segment
    document frequency (map-side combinable, distinct on (seg, doc));
    the surviving boilerplate set — by construction small, only segments
    shared by > ratio of ALL documents — collapses to a single-row array
    that broadcasts back onto the corpus, so the removal itself is a
    row-local ``filter(split(text), s -> !array_contains(boiler, s))``:
    original order is free, no anti-join shuffle, and the corpus is
    scanned exactly twice (count + rewrite) regardless of size. Documents
    whose every segment is boilerplate survive with empty text (the
    caller's length filter drops them explicitly — silent row loss would
    skew corpus accounting).
    """
    segs = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), delim, -1)).alias("seg")
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    boiler_arr = (
        segs.filter(F.col("seg") != "")
        .groupBy("seg")
        .agg(F.countDistinct(id_col).alias("df_seg"))
        .join(F.broadcast(n_docs))
        .filter(F.col("df_seg") > F.lit(max_doc_ratio) * F.col("_n_docs"))
        .agg(F.collect_list("seg").alias("_boiler"))
    )
    cleaned = F.array_join(
        F.filter(
            F.split(F.col(text_col), delim, -1),
            lambda s: ~F.array_contains(F.col("_boiler"), s),
        ),
        delim,
    )
    return (
        df.join(F.broadcast(boiler_arr))
        .select(F.col(id_col), cleaned.alias("cleaned_text"))
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword retrieval over the corpus — the lexical-search baseline
    every RAG stack needs next to its vector index.

    Okapi BM25 with the standard smoothed idf
    (ln(1 + (N - df + 0.5)/(df + 0.5))): per-document score is the sum
    over matched query terms of idf · tf·(k1+1)/(tf + k1·(1 − b + b·|d|/avg|d|)).

    Scale shape: the token stream filters to the query terms FIRST (a
    broadcast hash lookup against a literal array — the scan discards
    non-query tokens before any shuffle), so the tf aggregate moves only
    matching tokens; document length and corpus stats are one broadcast
    row; the final cut is TakeOrderedAndProject. No inverted index is
    materialized — for repeated query workloads, persist the (term, doc,
    tf) aggregate bucketed by term and this becomes an index lookup.
    Scores round to 6 decimals with id tiebreak for a deterministic cut.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_toks")).select(
        id_col, "_toks", F.size("_toks").alias("dl")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avg_dl")
    )
    hits = base.select(
        id_col, "dl", F.explode("_toks").alias("term")
    ).filter(F.col("term").isin(terms))
    tf = hits.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    score_t = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avg_dl")))
    )
    return (
        tf.join(dft, "term")
        .join(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(score_t), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 10,
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """Sub-document exact dedup — the repeated-passage removal step of the
    C4 / Gopher recipes: split every document into fixed ``seg_words``-word
    segments, keep only the corpus-wide FIRST occurrence of each distinct
    segment (first = minimum ``(doc_id, seg_idx)``), and reassemble each
    document from its surviving segments in order. Complements
    :func:`strip_frequent_segments` (which removes corpus-FREQUENT
    boilerplate everywhere): here every later copy of ANY repeated passage
    is dropped while the first stays, so quoted/syndicated passages stop
    being over-represented in the training mix without deleting them
    entirely.

    Plan shape: one generate (row-local segment construction), one
    hash-aggregate for the per-segment winner (map-side combinable ``min``
    over (doc_id, seg_idx) — NOT a window over the segment key, whose hot
    boilerplate partitions would skew), one equi-join back on the segment
    to filter losers, and one regroup by document for ordered reassembly.
    Documents whose every segment was a later copy survive with empty text
    (callers drop them with a length filter — silent row loss would skew
    corpus accounting).

    Returns ``(id_col, text_deduped, n_seg_kept, n_seg_total)``.
    """
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_ws"))
    n = F.size("_ws")
    n_total = F.ceil(n / F.lit(float(seg_words))).cast("long")
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(seg_words))
    segs = (
        toked.filter(n > 0)
        .select(
            F.col(id_col),
            F.explode(starts).alias("_start"),
            F.col("_ws"),
        )
        .select(
            F.col(id_col),
            (F.floor((F.col("_start") - 1) / seg_words) + 1)
            .cast("long")
            .alias("seg_idx"),
            F.array_join(F.slice("_ws", F.col("_start"), seg_words), " ").alias(
                "seg"
            ),
        )
    )
    winners = segs.groupBy("seg").agg(
        F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("_w")
    )
    kept = (
        segs.join(merge_pinned(winners, pin_shuffle_join), "seg")
        .filter(
            (F.col(id_col) == F.col("_w")[id_col])
            & (F.col("seg_idx") == F.col("_w.seg_idx"))
        )
        .select(id_col, "seg_idx", "seg")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("text_deduped"),
        F.count(F.lit(1)).alias("n_seg_kept"),
    )
    return (
        toked.select(F.col(id_col), n_total.alias("n_seg_total"))
        .join(merge_pinned(reassembled, pin_shuffle_join), id_col, "left")
        .select(
            id_col,
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
            F.coalesce("n_seg_kept", F.lit(0)).cast("long").alias("n_seg_kept"),
            "n_seg_total",
        )
    )


def zipf_stats(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the corpus term-frequency distribution: rank
    terms by frequency and regress ``ln(freq)`` on ``ln(rank)`` over the
    top ``top_n`` terms. A healthy natural-language corpus fits a slope
    near −1; templated/synthetic/spam-heavy corpora drift far from it, so
    the slope is a cheap corpus-level quality signal (and the intercept
    estimates ln of the top term's frequency).

    Scale shape: one token-count aggregate (map-side combined), then a
    ``TakeOrderedAndProject`` cut to ``top_n`` rows — ranking happens on
    the bounded top-N set only (a window over ≤ top_n rows, never over the
    full vocabulary), and the regression aggregate reduces it to one row.

    Returns one row: ``(n_terms, zipf_slope, zipf_intercept, zipf_r2)``.
    """
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    ranked = counts.withColumn("rank", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.expr("regr_slope(ln(cast(freq as double)), ln(cast(rank as double)))"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_intercept(ln(cast(freq as double)), ln(cast(rank as double)))"), 6).alias("zipf_intercept"),
        F.round(F.expr("regr_r2(ln(cast(freq as double)), ln(cast(rank as double)))"), 6).alias("zipf_r2"),
    )


def train_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    end_marker: str = "</w>",
) -> list[tuple[str, str]]:
    """Train byte-pair-encoding merges on the corpus (Sennrich et al.,
    ACL 2016) — the tokenizer-training step of an LLM data pipeline.

    Scalable shape: the corpus collapses FIRST to a (word, freq) vocab
    table (one map-side-combinable aggregate — at 100 TB this is the only
    pass over the data), and every merge iteration then runs on the vocab
    table alone: adjacent symbol pairs explode weighted by word frequency,
    one aggregate picks the most frequent pair (ties: lexicographically
    smallest, deterministic), and a row-local greedy left-to-right fold
    applies the merge. ``localCheckpoint`` cuts the per-iteration lineage
    (n_merges nested transforms would otherwise stack). The vocab table is
    |distinct words| rows regardless of corpus size.

    Returns the ordered merge list ``[(a, b), ...]``.
    """
    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "syms",
            F.concat(
                F.split(F.col("w"), ""),
                F.array(F.lit(end_marker)),
            ),
        )
        .select("syms", "freq")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        sy = F.col("syms")
        pairs = vocab.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(sy) - 1),
                    lambda i: F.struct(
                        F.element_at(sy, i).alias("a"),
                        F.element_at(sy, i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("p.a"), F.asc("p.b"))
            .limit(1)
            .collect()  # bounded: one (pair, count) row — the model step
        )
        if not top or top[0]["n"] < 2:
            break
        a, b = top[0]["p"]["a"], top[0]["p"]["b"]
        merges.append((a, b))
        # greedy left-to-right merge: append each symbol; when the tail of
        # the accumulator is `a` and the incoming symbol is `b`, replace
        # the tail with the merged symbol (standard BPE application order)
        merged = F.aggregate(
            sy,
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.lit(a + b)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = vocab.select(merged.alias("syms"), "freq").localCheckpoint(
            eager=True
        )
    return merges


def bpe_segment(col: Column | str, merges: list[tuple[str, str]], end_marker: str = "</w>"):
    """Apply a trained merge list to a single word column — the encode
    side of :func:`train_bpe_merges` (row-local fold per merge; for long
    merge lists, apply in a mapInPandas body instead of stacking
    expressions). Returns an array<string> of subword symbols."""
    c = F.col(col) if isinstance(col, str) else col
    syms = F.concat(F.split(c, ""), F.array(F.lit(end_marker)))

    def _merge_step(a: str, b: str):
        return lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    for a, b in merges:
        syms = F.aggregate(
            syms, F.array().cast("array<string>"), _merge_step(a, b)
        )
    return syms


def heavy_hitter_tokens(
    df: DataFrame,
    text_col: str = "text",
    min_count_frac: float = 0.0005,
    capacity: int | None = None,
) -> DataFrame:
    """EXACT heavy hitters over the corpus token stream without shuffling
    the full vocabulary: per-partition Misra–Gries summaries (merged with
    the Agarwal et al. 2012 mergeable-summaries rule: add counters, then
    subtract the (capacity+1)-th largest and drop non-positives) produce a
    small candidate set that PROVABLY contains every token with global
    frequency > N/(capacity+1); a broadcast semi-join then recounts only
    the candidates exactly. With ``capacity >= 1/min_count_frac`` the
    output — tokens with freq > N·min_count_frac and their EXACT counts —
    is identical to a full ``GROUP BY token HAVING``, which is the DuckDB
    oracle.

    Scale: the full-vocabulary plan shuffles |vocab| partial counts per
    partition (billions of distinct tokens at 100 TB); this plan ships
    ≤ capacity candidate strings per partition (kilobytes), broadcasts
    their union, and the exact recount aggregates only matching tokens —
    map-side combine keeps the final shuffle ≤ |candidates| rows per
    partition. The MG pass is one Arrow-batched ``mapInPandas`` over the
    exploded token stream (vectorized value_counts per batch; the
    per-unique-token merge touches ≤ capacity + batch-distinct keys).
    """
    cap = capacity or int(round(1.0 / min_count_frac))
    toks = df.select(F.explode(tokens(text_col)).alias("token"))

    def mg_candidates(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, cnt in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            if len(counters) > cap:
                cut = sorted(counters.values(), reverse=True)[cap]
                counters = {t: c - cut for t, c in counters.items() if c > cut}
        yield pd.DataFrame({"token": list(counters.keys())})

    cand = toks.mapInPandas(mg_candidates, "token string").distinct()
    total = toks.count()  # one-row scalar: corpus token count
    threshold = int(total * min_count_frac)
    return (
        toks.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") > F.lit(threshold))
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    hash_keys: bool = False,
    pin_shuffle_join: bool = False,
) -> DataFrame:
    """Substring-level duplication profile à la Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    approximated at word n-gram granularity: a span (n consecutive words)
    is *duplicated* when the identical span occurs in more than one
    distinct document. Returns per-document
    ``(id, n_spans, n_dup_spans, dup_frac)`` — the fraction of a doc's
    span positions whose content also appears elsewhere, the signal the
    paper thresholds to drop boilerplate-heavy documents. Documents
    shorter than ``n`` words have no spans and are excluded.

    Scale: one shuffle keyed on the span (the same key distribution a
    distributed suffix-array build would shuffle on — inherent to
    substring dedup), one count-distinct-doc aggregate, and a semi-join of
    the span stream against the duplicated-span set. ``hash_keys=True``
    (the scale arm, size-gated by the caller like the minhash family)
    shuffles ``xxhash64(span)`` 8-byte keys instead of the ~50-byte span
    strings — ~6x less shuffle I/O on the dominant exchange; per-doc
    output changes only on a cross-document hash collision (odds ≤
    pairs/2⁶⁴). Verbatim string keys below the gate let the DuckDB oracle
    replay the operator exactly. ``pin_shuffle_join`` pins the
    duplicated-span set (a derived aggregate — estimate-hazardous) to
    sort-merge above the measured gate.
    """
    grams = _with_word_ngrams(df.select(id_col, text_col), text_col, n, "_grams")
    span_key = (
        F.xxhash64(F.col("_span")) if hash_keys else F.col("_span")
    )
    # the span stream feeds three consumers
    g = materialize(
        grams.select(id_col, F.explode("_grams").alias("_span"))
        .select(id_col, span_key.alias("span"))
    )
    dup = (
        g.groupBy("span")
        .agg(F.count_distinct(F.col(id_col)).alias("ndocs"))
        .where(F.col("ndocs") > 1)
        .select("span")
    )
    totals = g.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_spans"))
    dups = (
        g.join(merge_pinned(dup, pin_shuffle_join), "span")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    return (
        totals.join(dups, id_col, "left")
        .select(
            id_col,
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"), 4
            ).alias("dup_frac"),
        )
    )


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    max_phrase_words: int = 3,
    stopwords: tuple[str, ...] = STOPWORDS_EN,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal runs of non-stopword words between stopwords/punctuation;
    each word scores degree/frequency (degree = summed length of the
    phrases it appears in — co-occurrence weight); a phrase scores the
    sum of its words' scores; the top-k phrases per document are the
    keywords. Scores round to 6 decimals BEFORE ranking so cross-engine
    summation ULPs cannot flip ranks (ties break on the phrase text).

    Implementation is pure Column expressions + two equi-joined
    aggregates — the phrase split avoids regex lookarounds (RE2-safe for
    the DuckDB oracle) by mapping stopword tokens to a '|' sentinel and
    splitting the re-joined string on it. Scale: the word-stats table is
    vocabulary-sized; the join back to phrase words is an equi-join on
    the word (broadcast when the vocabulary is bounded); the per-doc
    top-k cuts map-side as a WindowGroupLimit.
    """
    stopset = F.array(*[F.lit(s) for s in stopwords])
    cleaned = F.regexp_replace(
        F.lower(F.col(text_col)), r"[^a-z0-9\s]+", " | "
    )
    toks = F.filter(F.split(F.trim(cleaned), r"\s+"), lambda t: t != "")
    mapped = F.transform(
        toks, lambda t: F.when(F.array_contains(stopset, t), F.lit("|")).otherwise(t)
    )
    phrases = F.filter(
        F.transform(
            F.split(F.array_join(mapped, " "), r"\|"), lambda p: F.trim(p)
        ),
        lambda p: (p != "")
        & (F.size(F.split(p, " ")) <= max_phrase_words),
    )
    ph = df.select(F.col(id_col), F.explode(phrases).alias("phrase"))
    pw = ph.select(
        id_col,
        "phrase",
        F.size(F.split(F.col("phrase"), " ")).alias("phlen"),
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    )
    wstat = pw.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("phlen").alias("degree"),
    )
    scored = (
        pw.join(wstat, "w")
        .groupBy(id_col, "phrase")
        .agg(
            F.round(
                F.sum(F.col("degree").cast("double") / F.col("freq")), 6
            ).alias("score")
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("phrase").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            id_col, "phrase", "score", F.col("rank").cast("long").alias("rank")
        )
    )


def compression_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", level: int = 6
) -> DataFrame:
    """Per-document zlib compressibility — the cheap, tokenizer-free
    repetitiveness signal (highly compressible ⇒ boilerplate/templated
    text; near-incompressible ⇒ random noise; natural prose sits in
    between), used as a quality gate alongside the repetition metrics.
    Emits ``(id, n_bytes, n_compressed, ratio)`` with ratio =
    compressed/raw (lower = more repetitive).

    NO SQL oracle is possible (DEFLATE is not expressible in DuckDB), so
    this ships tests-only: determinism, monotonicity on constructed
    repetitive vs random text, and byte-count exactness vs Python zlib.
    Arrow-batched ``mapInPandas`` (the UDF-escape-hatch tier — zlib at
    ~100 MB/s/core is still scan-bandwidth-class); payloads never leave
    their partition.
    """
    from collections.abc import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in it:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, level)))
            n = raw.map(len)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n.astype("int64"),
                    "n_compressed": comp.astype("int64"),
                    "ratio": (
                        comp / n.where(n > 0, 1)
                    ).round(6).astype("float64"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        batches, f"{id_col} long, n_bytes long, n_compressed long, ratio double"
    )


def hash_feature_vector(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 8,
    id_col: str = "doc_id",
    hash_fn=None,
    prefix: str = "f_",
) -> DataFrame:
    """Hashing-trick featurization (the fastText / Vowpal-Wabbit bag-of-
    words recipe): each token hashes to one of ``n_buckets`` buckets and
    the document's feature vector is the per-bucket token count — fixed
    dimensionality with no vocabulary table, which is what makes it the
    cheap text-embedding front for quality classifiers and dedup triage
    at 100 TB (no fit step, no model broadcast, resharding-stable).

    Pure row-local array expressions: tokenize, hash each token once
    (portable md5 hash by default for oracle verification; pass
    ``hash_fn=hash64_fast`` for the xxhash64 production path), count per
    bucket with one ``filter``+``size`` per output column. No shuffle, no
    UDF; emits scalar columns ``f_0 .. f_{n-1}``.
    """
    from ..functions.hash_fns import hash64

    hf = hash_fn or hash64
    # Materialize the hashed-token array in its OWN projection first:
    # embedding the transform(tokens, md5...) expression inside all
    # n_buckets filter lambdas re-tokenizes and re-hashes every token
    # n_buckets times (Spark's subexpression elimination does not reach
    # into higher-order-function lambdas — the bigram-LM lesson;
    # measured 10x linear blowup at sf1 before this split).
    hashed = df.select(
        F.col(id_col),
        F.transform(tokens(F.col(text_col)), lambda w: hf(w)).alias("_h"),
    )
    cols = [
        F.size(
            F.filter(F.col("_h"), lambda h: h % F.lit(n_buckets) == F.lit(b))
        ).cast("long").alias(f"{prefix}{b}")
        for b in range(n_buckets)
    ]
    return hashed.select(F.col(id_col), *cols)


def bpe_segment_pandas(
    df: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "w",
    out_col: str = "pieces",
    end_marker: str = "</w>",
) -> DataFrame:
    """Arrow-batched BPE application for LONG merge lists — the scale
    path the expression-based :func:`bpe_segment` documents: stacking
    one ``aggregate`` fold per merge is fine for tens of merges but
    builds an O(n_merges)-deep expression tree (plan size and codegen
    time grow linearly, and past ~100 merges the plan dwarfs the data).
    Here the merge list ships once per executor as a plain dict and each
    batch applies the STANDARD rank-based BPE encode (repeatedly merge
    the lowest-rank adjacent pair — equivalent to applying merges in
    training order, Sennrich et al. 2016); parity with the expression
    path is pinned by test_bpe_pandas_matches_expression.

    Returns ``df`` plus ``out_col`` (space-joined subword pieces —
    atomic string, driver-sortable). Row-local mapInPandas: no shuffle;
    at 100 TB parallelism = input split count.
    """
    import pandas as pd  # noqa: F811 (module-level import exists)

    ranks = {pair: i for i, pair in enumerate(merges)}
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{fields}, {out_col} string"

    def _encode(word: str) -> str:
        syms = list(word) + [end_marker]
        while len(syms) > 1:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            # merge EVERY occurrence of the chosen pair left-to-right,
            # matching one fold pass of the expression path
            a, b = syms[best], syms[best + 1]
            merged, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == a
                    and syms[i + 1] == b
                ):
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            syms = merged
        return " ".join(syms)

    def batches(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf[out_col] = pdf[word_col].map(_encode)
            yield pdf

    return df.mapInPandas(batches, schema)


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-``k`` retrieval (Robertson & Zaragoza 2009) — the
    sparse lexical-retrieval primitive (the baseline every RAG / data-
    curation retrieval stack starts from). For each query: score(q, d) =
    Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with
    the Lucene non-negative idf = ln(1 + (N − df + 0.5)/(df + 0.5));
    query terms are DISTINCT per query (repeat terms in a query don't
    double-count — documented convention, matched by the oracle).

    Plan shape for 100 TB: tf and document length come from ONE exploded
    token scan (two map-combinable aggregates); N and avgdl ride a
    broadcast one-row frame; the tiny distinct query-term list BROADCASTS
    into an inverted-index-style equi-join on the term (only documents
    containing a query term are ever scored — never a full-corpus scan
    per query); the per-query top-k plans as WindowGroupLimit. Scores are
    rounded BEFORE ranking with a doc-id tie-break so the cut is
    deterministic across engines."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    # the token explode is the dominant cost at 100 TB — materialize the
    # reduced (doc, term) frame so tf, dl, and avgdl all read ONE explode
    # pass instead of re-deriving it per reference
    tf = materialize(
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    q_terms = queries.select(
        F.col(query_id_col),
        F.explode(tokens(F.col(query_text_col))).alias("term"),
    ).distinct()
    # prune to query terms BEFORE any per-term statistics: df(t) only
    # matters for terms that appear in some query, so the inverted-index
    # slice (broadcast semi-join) keeps every downstream frame
    # query-vocabulary-sized, not corpus-vocabulary-sized
    tf_q = tf.join(
        F.broadcast(q_terms.select("term").distinct()), "term", "left_semi"
    )
    dft = tf_q.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    stats = df.agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    ).crossJoin(
        dl.agg(F.avg("dl").alias("_avgdl"))
    )
    idf = F.log(
        1.0
        + (F.col("_n") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))
    )
    scored = (
        tf_q.join(F.broadcast(q_terms), "term")
        .join(dl, id_col)
        .join(F.broadcast(dft), "term")
        .join(F.broadcast(stats))
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum(idf * tf_part), 6).alias("score"))
    )
    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            "score",
            F.col("rank").cast("long").alias("rank"),
        )
    )
