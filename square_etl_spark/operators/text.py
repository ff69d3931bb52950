"""Text-analysis operators (extension surface — SURVEY.md §2.10).

Language ID, quality scoring, token counting, fingerprinting — all as
pure Column expressions (built-in string/regex/higher-order functions,
zero Python UDFs), so a 100 TB corpus pass stays in whole-stage
codegen and parallelizes as a plain map over partitions with no
shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(col: Column | str = "text") -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    t = F.trim(_c(col))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


#: tiny per-language marker lexicons for the n-gram/stopword heuristic.
#: Ordered dict: ties broken by list order (en first).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est"],
    "es": ["el", "los", "las", "y", "de", "que", "un", "una", "es"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "nicht"],
    "zh": ["de5", "shi4", "bu4", "wo3", "ni3", "ta1", "le5", "zai4"],
}


def lang_scores(col: Column | str = "text") -> dict[str, Column]:
    """Per-language marker-hit counts over whitespace tokens."""
    toks = F.split(F.lower(F.trim(_c(col))), r"\s+")
    out = {}
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
    return out


def lang_id(col: Column | str = "text") -> Column:
    """Heuristic language ID: argmax marker count, 'und' if no marker
    hits.  Deterministic tie-break by LANG_MARKERS order."""
    scores = lang_scores(col)
    langs = list(scores.keys())
    best_lang = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        better = scores[lang] > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, scores[lang]).otherwise(best_score)
    return F.when(best_score > 0, best_lang).otherwise(F.lit("und"))


def quality_metrics(col: Column | str = "text") -> dict[str, Column]:
    """Heuristic quality signals: length, token stats, punctuation /
    non-alpha ratios, stopword ratio, mean word length.  All ratios are
    rounded to 6 decimals for cross-engine reproducibility."""
    t = _c(col)
    n_chars = F.length(t)
    toks = token_count(t)
    n_punct = F.length(F.regexp_replace(t, r"[^\.,;:!\?]", ""))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    stop_arr = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    n_stop = F.size(
        F.filter(
            F.split(F.lower(F.trim(t)), r"\s+"),
            lambda w: F.array_contains(stop_arr, w),
        )
    )
    nz = F.when(n_chars > 0, n_chars.cast("double")).otherwise(F.lit(1.0))
    nt = F.when(toks > 0, toks.cast("double")).otherwise(F.lit(1.0))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": toks.cast("long"),
        "punct_ratio": F.round(n_punct / nz, 6),
        "alpha_ratio": F.round(n_alpha / nz, 6),
        "stopword_ratio": F.round(n_stop / nt, 6),
        "mean_token_len": F.round(n_alpha.cast("double") / nt, 6),
    }


def quality_score(col: Column | str = "text") -> Column:
    """Scalar quality score in [0,1]: rewards alpha content and
    stopword presence, penalizes extreme punctuation — a deterministic
    stand-in for model-based quality filters."""
    m = quality_metrics(col)
    raw = (
        0.5 * F.least(m["alpha_ratio"] / F.lit(0.8), F.lit(1.0))
        + 0.3 * F.least(m["stopword_ratio"] / F.lit(0.4), F.lit(1.0))
        + 0.2 * (F.lit(1.0) - F.least(m["punct_ratio"] / F.lit(0.2), F.lit(1.0)))
    )
    return F.round(raw, 6)


def tfidf_top_terms(
    df,
    id_col: str = "doc_id",
    content_col: str = "text",
    k: int = 3,
):
    """Top-k TF-IDF terms per document — pure DataFrame ops.

    Plan: explode tokens → per-(doc, term) counts (tf) ONCE, then
    doc length and document frequency as WINDOWS over that
    (vocab×doc)-sized relation instead of derived aggregates — a
    derived-relation formulation re-runs the corpus-wide token
    aggregation once per consumer (measured: 3 scans, zero
    ReusedExchange, since each branch prunes differently), while the
    window form shuffles only the tf relation: one term-partitioned
    pass for df, then one doc-partitioned pass that computes doc_len
    AND the final rank under the same partitioning.  Scores round to
    6 decimals before ranking (with term tiebreak) for cross-engine
    determinism.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(content_col))), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("term"),
    )
    n_docs = df.count()  # scalar: one lightweight count job, folded as a literal
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.withColumn(
            "df_t", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .withColumn(
            "doc_len", F.sum("tf").over(Window.partitionBy(id_col))
        )
        .withColumn(
            "tfidf",
            F.round(
                (F.col("tf") / F.col("doc_len"))
                * F.log(F.lit(float(n_docs)) / F.col("df_t")),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
    overlap: int = 16,
):
    """Split documents into overlapping fixed-size token windows — the
    context-window chunking step of an LLM training pipeline.

    Chunk k covers tokens [k·step+1, k·step+chunk_size] with
    step = chunk_size − overlap, so consecutive chunks share ``overlap``
    tokens; the final chunk is short rather than padded; empty docs
    yield no chunks.  Emits (id, chunk_idx, n_tokens, chunk).

    Pure higher-order expressions (split → explode a chunk-index
    sequence → per-index array slice): no UDF, no shuffle — a 100 TB
    chunking pass is a plain parallel map, and the 1→N fan-out happens
    inside codegen (explode), never in Python.  Token definition is
    whitespace runs, matching token_count/tfidf in this module.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    step = chunk_size - overlap
    words = F.filter(F.split(_c(text_col), r"\s+"), lambda w: w != F.lit(""))
    base = (
        df.select(F.col(id_col), words.alias("__w"), F.size(words).alias("__n"))
        .filter(F.col("__n") > 0)
        .select(
            id_col,
            "__w",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.floor((F.col("__n") - 1) / F.lit(step)),
                )
            ).alias("chunk_idx"),
        )
    )
    piece = F.slice(
        F.col("__w"), (F.col("chunk_idx") * step + 1).cast("int"), chunk_size
    )
    return base.select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(piece).cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk"),
    )


#: PII redaction rules, applied in order (earlier rules must not
#: produce text a later rule would re-match).  Patterns are restricted
#: to the Java-regex ∩ RE2 dialect (no backrefs, no lookarounds) so the
#: DuckDB oracle's regexp_replace behaves identically.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(col: Column | str = "text") -> Column:
    """Mask common PII (emails, SSNs, phone numbers, IPv4) with typed
    placeholder tokens — the scrubbing pass of a training-data
    pipeline.

    A chain of ``regexp_replace`` calls: one codegen'd projection, no
    UDF, no shuffle — at 100 TB this is a plain parallel map fused into
    whatever scan feeds it.  Rule order matters (SSN before phone:
    ``123-45-6789`` must not half-match the phone pattern) and is fixed
    by PII_RULES.
    """
    out = _c(col)
    for _, pat, rep in PII_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_flags(col: Column | str = "text") -> dict[str, Column]:
    """Per-category booleans: does the raw text match each PII rule?
    Evaluated on the ORIGINAL text (before redaction)."""
    return {name: _c(col).rlike(pat) for name, pat, _ in PII_RULES}


def repetition_metrics(col: Column | str = "text") -> dict[str, Column]:
    """Gopher-style within-document repetition signals: the fraction of
    duplicate lines, duplicate words, and duplicate word-bigrams.

    High values mark boilerplate / spam / template pages that poison a
    training corpus.  All pure array expressions (split → distinct →
    size ratios): per-row work linear in document length, no shuffle.
    Fractions are 0.0 for empty inputs.  NULL text is treated as empty
    (coalesce) so the operator and its ANSI oracle agree — Spark's
    ``size(NULL)`` is -1 while SQL ``len(NULL)`` is NULL, and the
    documents.text column is nullable per schema.
    """
    raw = F.coalesce(_c(col), F.lit(""))
    lines = F.filter(F.split(raw, r"\n"), lambda x: F.trim(x) != F.lit(""))
    words = F.filter(F.split(F.trim(raw), r"\s+"), lambda w: w != F.lit(""))
    k = F.greatest(F.size(words) - F.lit(1), F.lit(0))
    grams2 = F.zip_with(
        F.slice(words, 1, k),
        F.slice(words, 2, k),
        lambda a, b: F.concat_ws(" ", a, b),
    )

    def dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(
            n > 0,
            F.lit(1.0) - F.size(F.array_distinct(arr)) / n.cast("double"),
        ).otherwise(F.lit(0.0))

    return {
        "n_lines": F.size(lines).cast("bigint"),
        "dup_line_frac": dup_frac(lines),
        "dup_word_frac": dup_frac(words),
        "dup_2gram_frac": dup_frac(grams2),
    }


def fingerprint64(col: Column | str = "text") -> Column:
    """Deterministic document fingerprint: polynomial rolling hash over
    whitespace tokens (hash chaining via aggregate — O(tokens) JVM
    ops).  Unlike content SHA-256 this is cheap to combine/shard and
    FULLY engine-portable: the per-token hash is the first 32 bits of
    md5 (not Spark's seeded xxhash64) and the fold is an explicit
    mask, so any engine with md5 + the same tokenization reproduces it
    bit-for-bit — proven by the `text_fingerprint` DuckDB oracle,
    which recomputes the whole fold in ANSI SQL."""
    toks = F.filter(F.split(F.trim(_c(col)), r"\s+"), lambda t: t != F.lit(""))
    # h = (h*31 + first32bits(md5(token))) & (2^57 − 1).  Masks keep
    # every intermediate below 2^63 so ANSI mode never sees a long
    # overflow: acc < 2^57 ⇒ 31·acc < 2^62, + 2^32 ≪ 2^63.
    acc_mask = F.lit((1 << 57) - 1)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (
            acc * F.lit(31)
            + F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        ).bitwiseAND(acc_mask),
    )


def blocklist_hits(
    col: Column | str, terms: "Sequence[str]"
) -> Column:
    """Count of DISTINCT blocklisted tokens present in the document —
    exact lowercase whole-token match (the C4 'bad words' policy
    unit: substring matching bans 'assess'; token match does not).

    ``terms`` is a parameter list (C4's published list is ~450 terms
    — constant, never data-sized), compiled into one in-plan array
    literal: one scan, array_intersect against the distinct token
    set, no join, no shuffle, no UDF.  For a data-sized blocklist
    (e.g. a learned one) use a relation join instead — this is the
    fixed-policy fast path.
    """
    if not terms:
        raise ValueError("terms must be a non-empty sequence")
    bad = [t for t in terms if (not t) or any(c.isspace() for c in t)]
    if bad:
        # a term containing whitespace can never match a whitespace-
        # split token — reject loudly instead of silently never firing
        raise ValueError(f"blocklist terms must be single tokens: {bad!r}")
    toks = F.array_distinct(
        F.filter(
            F.split(F.lower(F.trim(_c(col))), r"\s+"),
            lambda w: w != F.lit(""),
        )
    )
    lits = F.array(*[F.lit(t.lower()) for t in terms])
    return F.size(F.array_intersect(toks, lits)).cast("long")


def blocklist_gate(
    df: DataFrame,
    terms: "Sequence[str]",
    content_col: str = "text",
    max_hits: int = 0,
) -> DataFrame:
    """Drop every document containing more than ``max_hits`` distinct
    blocklisted tokens (C4 default: any hit kills the doc —
    ``max_hits=0``).  Scan + codegen'd filter; columns pass through
    untouched."""
    return df.filter(
        blocklist_hits(content_col, terms) <= F.lit(int(max_hits))
    )


def strip_markup(col: Column | str = "text") -> Column:
    """HTML/markup → clean text, pure column expressions (zero UDFs):
    drop <script>/<style> blocks and <!-- comments -->, replace every
    remaining tag with a space, decode the six common entities, and
    collapse whitespace.  The corpus-cleaning first step for web-crawl
    text; deliberately regex-simple (no backreferences) so the
    IDENTICAL patterns run under Java regex here and RE2/DuckDB in the
    oracle — the entity pass is ordered (amp last) and that order is
    part of the cross-engine contract.  Block bodies use ``(?is).*?``
    (dotall, non-greedy, case-fold — both dialects support the inline
    flags): the r06 review showed ``[^<]*`` leaks any script whose
    body contains ``<`` (most real inline JS) into the "clean" text,
    and same-line-only comment stripping missed multi-line comments."""
    t = _c(col)
    t = F.regexp_replace(t, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


# Broadcast gate for corpus-derived LM model relations (r07 verdict).
# A token VOCABULARY is sub-linear in corpus size (~10⁵–10⁶ rows for
# web text), but the distinct-BIGRAM relation grows near-linearly with
# observed text — at web scale it is 10⁹–10¹⁰ rows, far past Spark's
# broadcast limit, so an unconditional F.broadcast() dies at exactly
# the scale the operator is advertised for.  The gate below persists
# the model relation (the aggregation must materialize for the probe
# join anyway), counts it — a model-relation-sized job, NOT a second
# corpus pass — and broadcasts only under the row threshold; above it
# the probe joins via a plain shuffle equi-join on the key that is
# already there.  That shuffle join IS the 100 TB shape.
DEFAULT_MAX_BROADCAST_ROWS = 2_000_000


def _gated_model_join(
    probe: DataFrame,
    model: DataFrame,
    on,
    max_broadcast_rows: int,
) -> DataFrame:
    """Join probe⋈model on `on`, broadcasting the model relation only
    if its exact counted size is ≤ max_broadcast_rows (else shuffle
    equi-join).  The model is materialized ONCE via
    ``localCheckpoint(eager=True)`` — not ``persist()`` — so the gate
    count and the probe join share one computation WITHOUT registering
    a session-lifetime entry in the CacheManager: checkpoint blocks
    are tied to the RDD and released by the ContextCleaner as soon as
    the returned DataFrame is unreferenced (r08 ADVICE: repeated
    unigram/bigram scoring calls were leaking one cached relation
    each).  The materializing job at construction time is inherent to
    size-gating — the row count must exist before the plan is chosen
    — and is model-relation-sized, never a second corpus pass."""
    model = model.localCheckpoint(eager=True)
    small = model.count() <= max_broadcast_rows
    # bcast-ok: size-gated — counted ≤ max_broadcast_rows on this branch
    right = F.broadcast(model) if small else model
    return probe.join(right, on=on)


def unigram_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """The unigram LM's sufficient statistic: exact ``(w, c)`` token
    counts — a sum monoid, so batch counts FOLD into a maintained
    model state (:func:`fold_unigram_counts`) and the folded state is
    element-for-element the one-shot corpus count.  Unlike DSIR's
    hashed-bucket state (bounded by construction) the vocabulary grows
    with observed text — sub-linearly on natural language (the reason
    unigram scoring scales at all); the scoring join downstream stays
    size-gated either way (:func:`_gated_model_join`)."""
    return (
        df.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim(_c(col))), r"\s+"),
                    lambda w: w != F.lit(""),
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def fold_unigram_counts(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Merge two ``(w, c)`` count relations (sum monoid — fold order
    irrelevant, fold ≡ one-shot exactly).  Persist the folded state
    per batch in long-running ingest loops to truncate lineage."""
    return (
        state.unionByName(batch)
        .groupBy("w")
        .agg(F.sum("c").alias("c"))
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    max_broadcast_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
    model_counts: DataFrame | None = None,
) -> DataFrame:
    """Unigram language-model scoring — the classic perplexity-style
    quality filter (CCNet/Gopher filter on LM perplexity; a unigram LM
    is its exactly-computable, engine-portable core): score every
    document by the mean negative log-likelihood of its tokens under
    the CORPUS's own unigram distribution.  Common boilerplate scores
    low (its tokens are frequent), rare-garbage scores high — cut both
    tails and keep the middle.

    Two-pass shape: pass 1 builds the token frequency table (one
    explode + groupBy — the vocabulary, NOT the corpus, comes out the
    other side); pass 2 joins it back onto the exploded tokens and
    aggregates per document.  Natural-language vocabularies are
    sub-linear in corpus size (~10⁵–10⁶ rows), so the model relation
    NORMALLY broadcasts — but that is an empirical property of the
    data, not a bound by construction (adversarial/no-space scripts
    can blow the vocabulary up), so the broadcast is SIZE-GATED: the
    vocab is counted and broadcast only under `max_broadcast_rows`,
    else the probe join runs as a plain shuffle equi-join on ``w``.
    The corpus total folds into the vocab relation, so no scalar ever
    hits the driver.

    Cross-engine determinism: per-token −ln(c/T) is rounded to 6
    decimals and summed as DECIMAL(18,6) so addition order cannot
    change the hash; the final mean divides in double and rounds.

    Returns (id, n_tokens, avg_nll) — higher avg_nll = rarer tokens.

    ``model_counts``: precomputed ``(w, c)`` model state
    (:func:`unigram_counts` / :func:`fold_unigram_counts`).  The model
    must COVER the scored text's vocabulary (true whenever the state
    was folded over everything being scored — the incremental-twin
    contract); unseen tokens drop out of the probe join, so scoring
    out-of-model text needs caller-side smoothing instead.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(_c(col))), r"\s+"),
                lambda w: w != F.lit(""),
            )
        ).alias("w"),
    )
    # corpus total folds INTO the vocab relation with one global
    # window (single-partition, but over vocab-sized data — fine),
    # so the expensive token explode+groupBy runs ONCE instead of a
    # second time just to learn T.  ``model_counts`` swaps the
    # count pass for a PRECOMPUTED (w, c) state
    # (unigram_counts/fold_unigram_counts — sum monoid, fold ≡
    # one-shot): scoring a continuous ingest never re-tokenizes the
    # old corpus, only the vocab-sized state moves — the DSIR
    # raw_counts pattern applied to the LM filter.
    base = (
        model_counts.select("w", F.col("c").cast("long").alias("c"))
        if model_counts is not None
        else toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    )
    freq = base.withColumn(
        "t_total", F.sum("c").over(Window.partitionBy())
    )
    nll = F.round(-F.log(F.col("c") / F.col("t_total")), 6).cast(
        "decimal(18,6)"
    )
    return (
        _gated_model_join(toks, freq, "w", max_broadcast_rows)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(nll).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_nll"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    max_broadcast_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Bigram language-model scoring — the conditional upgrade of
    :func:`unigram_logprob`: score each document by the mean
    −ln P(w | w_prev) under the corpus's own bigram distribution,
    P(w | w_prev) = c(w_prev, w) / followers(w_prev) with
    ``followers`` the exact count of positions where ``w_prev`` is
    followed by anything (Σ_w c(w_prev, w) — properly normalized,
    unlike dividing by the raw unigram count, which over-counts
    document-final tokens).  A unigram model scores tokens in
    isolation; the bigram model also penalizes UNLIKELY TRANSITIONS —
    shuffled or concatenated-garbage text scores high even when every
    individual token is common, the exact failure mode unigram
    filtering misses.

    Same two-pass shape: adjacent pairs come from one doc-partitioned
    LAG window over the exploded tokens (the window and the final
    per-doc aggregation share the doc partitioning).  The distinct-
    bigram table is NOT vocabulary-bounded — it grows near-LINEARLY
    with observed text (10⁹–10¹⁰ rows at web scale, far past Spark's
    broadcast limit), so unlike the unigram vocab it usually must NOT
    broadcast at the scale this operator targets.  The probe join is
    therefore size-gated: the bigram relation is counted and
    broadcast only under `max_broadcast_rows`; above that it joins as
    a plain shuffle equi-join on (prev, w) — the 100 TB shape.
    Documents with fewer than two tokens have no transitions and
    yield no row.

    Cross-engine determinism: identical to the unigram operator —
    per-pair nll rounds to 6 decimals into DECIMAL(18,6) sums.

    Returns (id, n_bigrams, avg_nll).
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.trim(_c(col))), r"\s+"),
                lambda w: w != F.lit(""),
            )
        ).alias("pos", "w"),
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    pairs = toks.withColumn("prev", F.lag("w").over(wd)).filter(
        F.col("prev").isNotNull()
    )
    big = pairs.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("c2"))
    # followers(prev) folds into the bigram relation with a
    # prev-partitioned window — pair-vocabulary-sized data, one pass
    big = big.withColumn(
        "followers", F.sum("c2").over(Window.partitionBy("prev"))
    )
    nll = F.round(
        -F.log(F.col("c2") / F.col("followers")), 6
    ).cast("decimal(18,6)")
    return (
        _gated_model_join(pairs, big, ["prev", "w"], max_broadcast_rows)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(nll).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_nll"),
        )
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    classic cheap gibberish/compression-quality signal (low entropy =
    repeated filler like "aaaa…" or boilerplate; high entropy =
    base64/binary junk; natural text sits in a stable mid band, so
    corpus curation cuts both tails).

    Shape: one explode to (doc, char) rows — positions generated with
    ``sequence`` + ``substring`` so Spark and the SQL oracle walk the
    IDENTICAL code-point sequence (regex split differs between
    engines on empty matches) — then two grouped aggregations that
    share the doc partitioning.  O(total chars) rows through one
    shuffle, embarrassingly parallel; empty documents have no
    distribution and yield no row.

    Cross-engine determinism: per-char-class term −p·ln p rounds to 9
    decimals into DECIMAL(28,9) sums (addition order cannot change
    the hash); the final bits conversion divides by ln 2 in double
    and rounds to 6.

    Returns (id, n_chars, entropy_bits).
    """
    from pyspark.sql.window import Window

    chars = (
        df.filter(F.length(_c(col)) > 0)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(_c(col))),
                    lambda i: F.substring(_c(col), i, F.lit(1)),
                )
            ).alias("ch"),
        )
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    with_n = counts.withColumn(
        "n", F.sum("c").over(Window.partitionBy(id_col))
    )
    p = F.col("c") / F.col("n").cast("double")
    term = F.round(-p * F.log(p), 9).cast("decimal(28,9)")
    import math

    return with_n.groupBy(id_col).agg(
        F.max("n").cast("long").alias("n_chars"),
        F.round(
            F.sum(term).cast("double") / F.lit(math.log(2.0)), 6
        ).alias("entropy_bits"),
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    content_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set
    — the keyword side of retrieval-based corpus curation ("pull the
    docs about X", quality-by-query filtering, seed expansion).
    Lucene-variant IDF (ln(1 + (N − df + 0.5)/(df + 0.5))) with the
    standard tf saturation/length normalization:

        score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))

    Cross-engine determinism: per-term contributions are rounded to 9
    decimals and summed as DECIMAL(28,9) — addition order cannot move
    the hash — then the total rounds to 6 (the LM-NLL pattern);
    ``avgdl`` is an exact integer sum divided in double.

    Scale shape: the token explode is FILTERED TO THE QUERY TERMS
    immediately (a bounded IN-list — the postings that survive are
    query-sized, not corpus-sized); document lengths fold from the
    same scan; N/avgdl is a 1-row broadcast; per-term df is a
    ≤|terms|-row broadcast.  No corpus-sized state beyond the one
    scan.  Emits (id, n_terms_hit, bm25) for docs hitting ≥1 term.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    lterms = [t.lower() for t in terms]
    base = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.trim(_c(content_col))), r"\s+"),
            lambda w: w != F.lit(""),
        ).alias("__ws"),
    )
    dl = base.select(id_col, F.size("__ws").alias("__dl"))
    toks = base.select(
        id_col, F.explode("__ws").alias("__w")
    ).filter(F.col("__w").isin(lterms))
    tf = toks.groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__tf"))
    # 1-row corpus stats; exact integer sum, double division
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__sumdl"),
    )
    dfreq = tf.groupBy("__w").agg(F.count(F.lit(1)).alias("__df"))
    # bcast-ok: 1-row corpus stats aggregate
    scored = tf.join(dl, id_col).crossJoin(F.broadcast(stats)).join(
        # bcast-ok: per-term document frequencies, <= |terms| rows
        F.broadcast(dfreq), "__w"
    )
    avgdl = F.col("__sumdl").cast("double") / F.col("__n")
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
    )
    tfc = F.col("__tf").cast("double")
    contrib = F.round(
        idf
        * tfc
        * F.lit(k1 + 1.0)
        / (tfc + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / avgdl)),
        9,
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.round(
                F.sum(contrib.cast("decimal(28,9)")).cast("double"), 6
            ).alias("bm25"),
        )
    )


#: the eight Gopher "must contain >= 2" English stopwords (Rae et al.
#: 2021, appendix A1.1) — embedded in the oracle too, must not drift
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The Gopher rule-based quality filter (Rae et al. 2021,
    arXiv:2112.11446 A1.1) as one scan of per-document flags: word
    count bounds, mean word length 3–10, symbol-to-word ratio ('#'
    and '...'), bullet-line and ellipsis-line ratios, fraction of
    words with an alphabetic character, and the ≥2-stopword test.
    Emits every metric plus per-rule booleans and ``pass_all`` so a
    pipeline can both filter AND report which rule rejected what —
    the published heuristic complement to the corpus-relative filters
    (quality_score, unigram NLL fence).

    Exactness: every ratio is an exact integer count divided in
    double and rounded to 6 before comparison; word lengths sum via
    an integer fold; stopword hits are eight array_contains terms —
    no regex beyond the alpha test, identical on both engines.
    Shape: one scan, no shuffle, no UDF (HOF transforms only);
    zero-word documents fail the word-count rule and carry NULL
    ratios rather than dividing by zero.
    """
    text = F.trim(_c(content_col))
    ws = F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))
    lines = F.split(text, "\n")
    n_words = F.size(ws)
    n_lines = F.size(lines)
    sum_len = F.aggregate(
        F.transform(ws, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("...")))
    ) / F.lit(3)
    n_bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ")
            | l.startswith("* ")
            | l.startswith("•"),
        )
    )
    n_ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.endswith("..."))
    )
    n_alpha_words = F.size(
        F.filter(ws, lambda w: w.rlike("[A-Za-z]"))
    )
    wl = F.transform(ws, lambda w: F.lower(w))
    stop_hits = sum(
        F.when(F.array_contains(wl, s), 1).otherwise(0)
        for s in GOPHER_STOPWORDS
    ).cast("long")

    nz = n_words > 0
    r6 = lambda c: F.round(c, 6)
    mean_word_len = F.when(
        nz, r6(sum_len.cast("double") / n_words)
    )
    symbol_ratio = F.when(
        nz, r6((n_hash.cast("double") + n_ellipsis) / n_words)
    )
    bullet_ratio = r6(n_bullet_lines.cast("double") / n_lines)
    ellipsis_ratio = r6(n_ellipsis_lines.cast("double") / n_lines)
    alpha_ratio = F.when(
        nz, r6(n_alpha_words.cast("double") / n_words)
    )
    flag = lambda c: F.coalesce(c, F.lit(False))
    p_words = (n_words >= min_words) & (n_words <= max_words)
    p_mwl = flag(
        (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
    )
    p_symbol = flag(symbol_ratio <= max_symbol_ratio)
    p_bullet = bullet_ratio <= max_bullet_ratio
    p_ellipsis = ellipsis_ratio <= max_ellipsis_ratio
    p_alpha = flag(alpha_ratio >= min_alpha_word_ratio)
    p_stop = stop_hits >= min_stopword_hits
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_hits.alias("stopword_hits"),
        p_words.alias("pass_word_count"),
        p_mwl.alias("pass_mean_word_len"),
        p_symbol.alias("pass_symbol_ratio"),
        p_bullet.alias("pass_bullet_ratio"),
        p_ellipsis.alias("pass_ellipsis_ratio"),
        p_alpha.alias("pass_alpha_words"),
        p_stop.alias("pass_stopwords"),
        (
            p_words & p_mwl & p_symbol & p_bullet
            & p_ellipsis & p_alpha & p_stop
        ).alias("pass_all"),
    )


# ---------------------------------------------------------------------------
# Tokenizer-faithful token counting: BPE merge application as DataFrame ops
# ---------------------------------------------------------------------------

#: Fixed, deterministic BPE merge list (rank = 1-based list position,
#: lower rank = higher merge priority — the standard merges.txt
#: contract).  The list is VALID in the BPE sense: every multi-char
#: component is the result of an earlier merge, which is what makes
#: one-occurrence-at-a-time application (the DuckDB oracle's recursive
#: CTE) provably equal to the all-occurrences-per-rank pass used on
#: the Spark side — any pair containing a freshly merged token must
#: sit LATER in the list than the merge that created it, so the
#: minimum-rank pair cannot change mid-pass.  Swap in a real trained
#: merges.txt (GPT-2 style) unchanged: ranks are list order.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("i", "n"), ("a", "n"), ("r", "e"), ("o", "n"),
    ("e", "r"), ("th", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("e", "s"), ("s", "t"), ("a", "r"), ("o", "u"), ("a", "l"),
    ("in", "g"), ("i", "t"), ("o", "f"), ("e", "d"), ("i", "s"),
    ("t", "o"), ("an", "d"), ("l", "e"), ("r", "o"), ("i", "c"),
    ("a", "s"), ("m", "e"), ("c", "h"), ("e", "l"), ("u", "r"),
    ("l", "l"), ("s", "e"), ("w", "h"), ("th", "at"), ("t", "er"),
    ("o", "m"), ("u", "s"), ("c", "on"), ("p", "er"), ("f", "or"),
    ("w", "as"), ("i", "on"), ("l", "y"), ("i", "th"), ("w", "ith"),
    ("v", "er"), ("a", "m"), ("e", "x"), ("u", "n"), ("q", "u"),
]

#: Shared pre-tokenizer: case-folded letter runs, digit runs, single
#: other symbols.  BPE merges never cross pre-token boundaries (the
#: GPT-2 discipline), so merge application is per-DISTINCT-pre-token —
#: the fact the whole scale story below hangs on.
BPE_PRETOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _byte_unicode_table() -> list[str]:
    """GPT-2's bytes_to_unicode map as a 256-entry list (byte value →
    printable stand-in char): printable ASCII and most latin-1 bytes
    map to themselves, the rest (controls, space, DEL…) map to
    U+0100.. in byte order — so byte 0x20 becomes 'Ġ' and a leading
    space survives as a visible symbol, exactly the alphabet real
    merges.txt artifacts are written in (public algorithm, GPT-2
    encoder; reimplemented here from the published description)."""
    bs = list(range(33, 127)) + list(range(161, 173)) + list(range(174, 256))
    cs = list(bs)
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    m = dict(zip(bs, cs))
    return [chr(m[b]) for b in range(256)]


#: byte value (0..255) → byte-level BPE symbol (the GPT-2 alphabet)
BYTE_UNICODE: list[str] = _byte_unicode_table()

#: Byte-level pre-tokenizer: GPT-2-style contractions, space-prefixed
#: letter/digit/symbol runs, whitespace runs — WITHOUT GPT-2's
#: `\s+(?!\S)` trailing-space lookahead (RE2, which DuckDB's oracle
#: regexes run on, has no lookahead), and with whitespace spelled as
#: an EXPLICIT class instead of `\s` (r11 review: Java's `\s`
#: includes vertical tab \x0B, RE2's does not — the one byte the two
#: engines classified differently; with the literal class both put
#: \x0B in the symbol run).  Case is PRESERVED — byte-level BPE
#: never case-folds.
BPE_BYTE_PRETOKEN_RE = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    "| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"
)

#: A merges.txt-format artifact over the byte alphabet (space = 'Ġ'):
#: the shape real GPT-2-family tokenizers persist — space-prefix
#: merges first, then common digraphs — so loading an actual
#: artifact via :func:`load_merges_lines` lands on the same symbol
#: space.  (A demo list, not any vendor's trained weights.)
BPE_BYTE_MERGES: list[tuple[str, str]] = [
    ("Ġ", "t"), ("h", "e"), ("Ġ", "a"), ("Ġ", "s"), ("Ġ", "w"),
    ("Ġt", "he"), ("r", "t"), ("a", "n"), ("l", "e"), ("Ġ", "b"),
    ("Ġ", "f"), ("Ġ", "m"), ("Ġ", "p"), ("Ġ", "v"), ("Ġ", "h"),
    ("Ġ", "l"), ("Ġ", "k"), ("Ġ", "r"), ("e", "y"), ("a", "st"),
    ("s", "t"), ("a", "r"), ("o", "w"), ("a", "l"), ("u", "e"),
    ("a", "b"), ("at", "ch"), ("c", "h"), ("s", "c"), ("in", "e"),
    ("i", "n"), ("o", "rt"), ("Ġs", "p"), ("Ġv", "al"), ("Ġp", "a"),
    ("Ġm", "er"), ("e", "r"), ("Ġb", "atch"), ("Ġh", "ash"),
    ("as", "h"),
]


def bpe_byte_pretokens(col: Column | str = "text") -> Column:
    """Case-preserving byte-level pre-token array
    (:data:`BPE_BYTE_PRETOKEN_RE`)."""
    return F.regexp_extract_all(_c(col), F.lit(BPE_BYTE_PRETOKEN_RE), 0)


def _byte_unicode_array_sql() -> str:
    """The 256-entry byte→symbol table as an inline Spark SQL array
    literal (a tokenizer parameter, same plan-literal rationale as
    :func:`_bpe_merge_array_sql`)."""
    esc = lambda s: s.replace("\\", "\\\\").replace("'", "\\'")
    return "array(" + ", ".join(f"'{esc(c)}'" for c in BYTE_UNICODE) + ")"


def byte_symbols_from_hex_sql(hexcol: str) -> str:
    """Spark SQL expression: a HEX-encoded column → the byte-level
    BPE symbol array.  Callers should project ``hex(encode(...))``
    into a column ONCE and transform over it (r11 review: embedding
    the hex expression inside the per-element lambda recomputed the
    full-string hex per byte — O(len²) string work on long
    whitespace/symbol-run pre-tokens; Spark does not hoist
    loop-invariant subexpressions out of HOF lambdas)."""
    arr = _byte_unicode_array_sql()
    return (
        f"transform(sequence(1, cast(length({hexcol}) / 2 as int)), "
        f"i -> element_at({arr}, "
        f"cast(conv(substring({hexcol}, 2 * i - 1, 2), 16, 10) as int)"
        " + 1))"
    )


def byte_symbols_sql(col: str = "word") -> str:
    """Spark SQL expression: a string column → its byte-level BPE
    symbol array.  UTF-8 encode → hex → one symbol per byte via the
    inline table; pure codegen'd string ops, so the DuckDB oracle
    reproduces every value from the same hex digits.  Convenience
    single-expression form for BOUNDED-length columns (vocabulary
    words); hot paths over unbounded strings should hoist the hex —
    see :func:`byte_symbols_from_hex_sql`."""
    return byte_symbols_from_hex_sql(f"hex(encode({col}, 'UTF-8'))")


def load_merges_lines(lines: "Sequence[str]") -> list[tuple[str, str]]:
    """Parse merges.txt content (one ``lhs rhs`` per line; ``#…``
    header/comment lines and blanks skipped) into the ``merges=``
    parameter shape — the loader that makes a REAL tokenizer
    artifact drop onto :data:`BYTE_UNICODE`'s symbol space."""
    out: list[tuple[str, str]] = []
    for line in lines:
        s = line.rstrip("\n")
        if not s or s.startswith("#"):
            continue
        a, _, b = s.partition(" ")
        if not b:
            raise ValueError(f"malformed merges line: {line!r}")
        out.append((a, b))
    return out


def bpe_pretokens(col: Column | str = "text") -> Column:
    """Case-folded pre-token array (see :data:`BPE_PRETOKEN_RE`)."""
    return F.regexp_extract_all(F.lower(_c(col)), F.lit(BPE_PRETOKEN_RE), 0)


def bpe_merges_df(spark) -> DataFrame:
    """The merges relation ``(rank, lhs, rhs)`` — the artifact a real
    deployment would read from a trained tokenizer's merges.txt."""
    rows = [(i + 1, a, b) for i, (a, b) in enumerate(BPE_MERGES)]
    return spark.createDataFrame(rows, "rank int, lhs string, rhs string")


def _bpe_merge_array_sql(
    merges: "Sequence[tuple[str, str]] | None" = None,
) -> str:
    """The merges list as an inline SQL array literal of 'lhs rhs'
    keys (rank = array position).  Inlined rather than joined: the
    list is a tokenizer artifact of bounded size (50 here, 50k for
    GPT-2), i.e. a parameter, not data — a plan literal keeps every
    round a pure whole-stage-codegen projection with no join at all.
    Components are quote-escaped (a learned merge over punctuation
    pre-tokens can contain a quote character)."""
    esc = lambda s: s.replace("\\", "\\\\").replace("'", "\\'")
    keys = ", ".join(
        f"'{esc(a)} {esc(b)}'" for a, b in (merges or BPE_MERGES)
    )
    return f"array({keys})"


def bpe_apply_vocab(
    vocab: DataFrame,
    word_col: str = "word",
    max_rounds: int = 64,
    merges: "Sequence[tuple[str, str]] | None" = None,
    alphabet: str = "char",
) -> DataFrame:
    """Apply the fixed BPE merge list to every DISTINCT pre-token —
    iterate-to-fixpoint as pure DataFrame projections (the
    connected_components discipline applied to tokenization).

    Per round, per word, entirely inside one codegen'd projection
    (zero joins, zero shuffles, zero Python):

      1. adjacent pair keys  ``transform(sequence(...))``;
      2. each pair's merge rank  ``array_position`` into the inline
         merges literal (0 = not a merge);
      3. the minimum present rank — the pair BPE merges next;
      4. merge ALL its occurrences left-to-right via ``aggregate``
         (the fold keeps overlap semantics exact: in ``aaa`` with
         merge ``a a``, the freshly built ``aa`` cannot re-merge with
         the next ``a`` because the fold compares the ALREADY-merged
         accumulator tail).

    The driver loop stops when no word changed (a vocab-sized count
    per round); rounds are bounded by the deepest merge chain, ~5-10
    for natural text.  Raises if ``max_rounds`` is hit with work
    remaining rather than silently returning a half-tokenized vocab.

    100 TB shape: this runs on the DISTINCT-pre-token relation — the
    corpus's VOCABULARY, which grows ~Heaps-law sublinearly (tens of
    millions of rows for web-scale corpora, vs trillions of corpus
    tokens) — so the iterate-to-fixpoint cost is decoupled from corpus
    size entirely.  The corpus-sized stages live in
    :func:`bpe_token_counts`: one explode and one join against this
    result.  Per-round localCheckpoint keeps the plan linear in
    rounds (same caveat as dedup.py: checkpoint blocks drop lineage).

    ``alphabet='char'`` (default) splits case-folded characters —
    the demo-friendly analog; ``alphabet='byte'`` splits UTF-8 bytes
    into the GPT-2 :data:`BYTE_UNICODE` symbols (case-preserving) so
    real merges.txt artifacts load via :func:`load_merges_lines` and
    every merge iteration downstream is alphabet-agnostic.
    """
    if alphabet not in ("char", "byte"):
        raise ValueError(f"alphabet must be 'char' or 'byte': {alphabet}")
    if merges is None:
        # default merges follow the alphabet — the char list's symbols
        # don't exist in the byte symbol space and vice versa
        merges = BPE_MERGES if alphabet == "char" else BPE_BYTE_MERGES
    arr = _bpe_merge_array_sql(merges)
    if alphabet == "char":
        out = vocab.select(
            F.col(word_col).alias("word"),
            F.expr(
                "filter(split(lower(word), ''), x -> x <> '')"
            ).alias("sym"),
        )
    else:
        # hoist the hex ONCE per word before the per-byte transform
        out = vocab.select(
            F.col(word_col).alias("word"),
            F.expr(f"hex(encode({word_col}, 'UTF-8'))").alias("__hex"),
        ).select(
            "word",
            F.expr(byte_symbols_from_hex_sql("__hex")).alias("sym"),
        )
    ranks_sql = (
        "CASE WHEN size(sym) < 2 THEN cast(array() as array<bigint>) "
        "ELSE transform(sequence(1, size(sym) - 1), "
        f"i -> array_position({arr}, concat(element_at(sym, i), ' ', "
        "element_at(sym, i + 1)))) END"
    )
    # max_rounds + 1 iterations: a vocab whose deepest merge chain is
    # exactly max_rounds needs ONE extra zero-change round to observe
    # convergence — without it the loop conflates "changed on the
    # last allowed round" with "work remaining" and raises on a
    # fully-tokenized result (r10 review fix)
    for _ in range(max_rounds + 1):
        step = (
            out.withColumn("__ranks", F.expr(ranks_sql))
            .withColumn(
                "__best", F.expr("array_min(filter(__ranks, r -> r > 0))")
            )
            .withColumn(
                "__pos", F.expr("cast(array_position(__ranks, __best) as int)")
            )
            .withColumn("__a", F.expr("element_at(sym, __pos)"))
            .withColumn("__b", F.expr("element_at(sym, __pos + 1)"))
        )
        # one job per round (r16): the convergence count rides the
        # checkpoint materialization as an Observation instead of a
        # separate filter+count job — the connected_components
        # pattern; the coalesce covers the empty-vocab degenerate
        # (SUM over zero rows is NULL)
        obs = Observation()
        nxt = (
            step.select(
                "word",
                F.expr(
                    "CASE WHEN __best IS NULL THEN sym ELSE "
                    "aggregate(sym, cast(array() as array<string>), (acc, x) -> "
                    "if(size(acc) > 0 and element_at(acc, -1) = __a and x = __b, "
                    "concat(slice(acc, 1, size(acc) - 1), array(concat(__a, __b))), "
                    "concat(acc, array(x)))) END"
                ).alias("sym"),
                F.col("__best").isNotNull().alias("__changed"),
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(F.col("__changed").cast("int")), F.lit(0)
                ).alias("n_changed"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = obs.get["n_changed"]
        out = nxt.drop("__changed")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"bpe_apply_vocab: merge fixpoint not reached in {max_rounds} "
            "rounds — raise max_rounds (words longer than the bound?)"
        )
    return out.select(
        "word",
        F.col("sym").alias("tokens"),
        F.size("sym").cast("long").alias("n_tokens"),
    )


def bpe_token_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_rounds: int = 64,
    merges: "Sequence[tuple[str, str]] | None" = None,
    alphabet: str = "char",
) -> DataFrame:
    """Tokenizer-faithful per-document token counts ``(id,
    n_pretokens, bpe_tokens)`` — the drop-in replacement for
    whitespace ``token_count`` everywhere a budget is actually a
    TRAINING-TOKEN budget (pack_sequences, temperature_mix,
    doremi_mix, budget_cap): whitespace undercounts code/CJK-like
    text 2-5x, which skews exactly the mixes the data-selection suite
    exists to get right.

    Corpus-sized work is one explode + one per-doc groupBy + one join
    against the vocabulary counts from :func:`bpe_apply_vocab`; the
    iterate-to-fixpoint never touches corpus-sized data.  The
    (word → n_tokens) join is a plain equi-join: at test scale AQE
    broadcasts it, at web scale the vocabulary is tens of millions of
    rows and shuffles — both correct, neither quadratic.  Documents
    with no pre-tokens (empty/whitespace text) keep a row with zero
    counts.

    ``alphabet='byte'`` switches BOTH the pre-tokenizer (the
    case-preserving GPT-2-style :data:`BPE_BYTE_PRETOKEN_RE` —
    whitespace runs become pre-tokens too) and the symbol split
    (UTF-8 bytes as :data:`BYTE_UNICODE`); pass a loaded merges.txt
    artifact via ``merges=`` for production-faithful counts.
    """
    pre = bpe_pretokens if alphabet == "char" else bpe_byte_pretokens
    toks = df.select(F.col(id_col), F.explode(pre(text_col)).alias("__w"))
    # NOT checkpointed (r17, measured): per_word is consumed twice
    # (vocab derivation + final join), but materializing the
    # (doc, word, n) relation through the block store A/B'd 1.36 →
    # 1.88 s on text_bpe_bytes_tokens — the re-run explode+groupBy is
    # cheaper than writing+reading corpus-vocabulary-sized blocks.
    # The vocabulary-sized checkpoint that DOES pay lives inside
    # bpe_encode_ids (distinct pre-tokens only).
    per_word = toks.groupBy(id_col, "__w").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    vocab = per_word.select(F.col("__w").alias("word")).distinct()
    counted = bpe_apply_vocab(
        vocab, max_rounds=max_rounds, merges=merges, alphabet=alphabet
    ).select(
        F.col("word").alias("__w"), "n_tokens"
    )
    agg = (
        per_word.join(counted, "__w")
        .groupBy(id_col)
        .agg(
            F.sum("__n").cast("long").alias("n_pretokens"),
            F.sum(F.col("__n") * F.col("n_tokens")).cast("long").alias("bpe_tokens"),
        )
    )
    return df.select(id_col).join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_pretokens", F.lit(0)).cast("long").alias("n_pretokens"),
        F.coalesce("bpe_tokens", F.lit(0)).cast("long").alias("bpe_tokens"),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 20,
    min_count: int = 2,
    alphabet: str = "char",
    batch_k: int = 1,
) -> list[tuple[str, str]]:
    """LEARN a BPE merges list from the corpus (Sennrich et al. 2016,
    arXiv:1508.07909) — the training half of the tokenizer story,
    in-engine: iteratively count adjacent symbol pairs over the
    DISTINCT-pre-token vocabulary (weighted by word frequency,
    overlap-naive like the reference implementation), merge the most
    frequent pair everywhere, repeat ``num_merges`` times or until no
    pair reaches ``min_count``.  Ties break by the pair's
    ``'lhs rhs'`` string ascending — deterministic and
    engine-portable (the DuckDB oracle reproduces the exact
    sequence).

    Scale shape: the iteration runs on the VOCABULARY relation
    (word, count, symbols) — Heaps-law sublinear in the corpus; the
    corpus is touched once for the pre-token count.  Per round: one
    explode + one pair aggregation (map-side combined) + a
    SINGLE-ROW argmax collect (bounded, the kmeans-centroid budget)
    + one pure-projection merge apply.  Returns the learned merges
    as a list — feed it straight to
    :func:`bpe_apply_vocab`/:func:`bpe_token_counts` via their
    ``merges=`` parameter, or persist :func:`bpe_merges_df`-style as
    the tokenizer artifact.
    """
    pre = bpe_pretokens if alphabet == "char" else bpe_byte_pretokens
    toks = df.select(F.explode(pre(text_col)).alias("w"))
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n"))
    state = _bpe_train_state(wc, alphabet)
    return _bpe_train_loop(state, num_merges, min_count, batch_k)


def _bpe_train_state(wc: DataFrame, alphabet: str) -> DataFrame:
    """(w, n) counts → the (w, n, sym) training state, with the hex
    hoisted once per word on the byte alphabet (see
    byte_symbols_from_hex_sql)."""
    if alphabet == "char":
        return wc.select(
            "w",
            F.col("n").cast("long").alias("n"),
            F.expr("filter(split(w, ''), x -> x <> '')").alias("sym"),
        ).localCheckpoint(eager=True)
    return (
        wc.select(
            "w",
            F.col("n").cast("long").alias("n"),
            F.expr("hex(encode(w, 'UTF-8'))").alias("__hex"),
        )
        .select(
            "w", "n",
            F.expr(byte_symbols_from_hex_sql("__hex")).alias("sym"),
        )
        .localCheckpoint(eager=True)
    )


def _bpe_train_loop(
    state: DataFrame, num_merges: int, min_count: int, batch_k: int = 1
) -> list[tuple[str, str]]:
    """The shared training iteration over a (w, n, sym) state — see
    :func:`bpe_train` for semantics and scale shape.

    ``batch_k > 1`` accepts up to K merges per Spark round (the r10
    verdict's driver-round cut: sequential training is one round PER
    merge — 50k rounds for a production vocab): from the round's
    top-(4K) pair counts, greedily take pairs (count desc, pair asc)
    whose symbols are DISJOINT from every already-accepted pair's
    operands AND results — so applying the whole batch in one fold
    pass is order-independent and each accepted pair's count is
    exact (no stale-count drift WITHIN a batch; the standard
    batched-BPE discipline).  Counts ACROSS batches go stale the
    same way they do in every batched trainer — the learned list can
    differ from sequential BPE where candidate counts interact;
    determinism is unaffected.  batch_k=1 is bit-identical to
    sequential training (the oracle-checked path)."""
    pairs_sql = (
        "CASE WHEN size(sym) < 2 THEN cast(array() as array<string>) "
        "ELSE transform(sequence(1, size(sym) - 1), "
        "i -> concat(element_at(sym, i), ' ', element_at(sym, i + 1))) END"
    )
    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges:
        pool = (
            state.select(F.col("n"), F.explode(F.expr(pairs_sql)).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .filter(F.col("cnt") >= min_count)
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(max(1, 4 * batch_k))
            .collect()  # bounded: ≤ 4·batch_k candidate rows per round
        )
        if not pool:
            break
        used: set[str] = set()
        results: set[str] = set()
        batch: list[tuple[str, str]] = []
        for row in pool:
            if len(batch) >= batch_k or len(merges) + len(batch) >= num_merges:
                break
            a, b = row["pair"].split(" ")
            if a in used or b in used or a in results or b in results:
                continue
            if (a + b) in used:
                continue  # result collides with an accepted operand
            batch.append((a, b))
            used.update((a, b))
            results.add(a + b)
        # batch is never empty here: the first pool row always clears
        # the (empty) conflict sets, so ≥1 pair is accepted per round
        merges.extend(batch)

        # one fold applies the whole batch: a literal when-chain per
        # accepted pair (binds through F.lit, so quote characters in
        # punctuation pre-tokens are safe) — no per-position concat or
        # array scan, ≤ 2·|batch| string equalities per symbol.
        # Disjointness makes the chain order irrelevant.
        pairs = tuple(batch)

        def _step(acc, x):
            # exactly two params: PySpark derives the lambda's arity
            # from the Python signature (a defaulted third param
            # would build a 3-arg HOF lambda and fail to resolve)
            out = F.concat(acc, F.array(x))
            for a, b in pairs:
                out = F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(a + b)),
                    ),
                ).otherwise(out)
            return out

        state = state.select(
            "w",
            "n",
            F.aggregate(
                "sym",
                F.expr("cast(array() as array<string>)"),
                _step,
            ).alias("sym"),
        ).localCheckpoint(eager=True)
    return merges


def bpe_encode_ids(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_rounds: int = 64,
    merges: "Sequence[tuple[str, str]] | None" = None,
    alphabet: str = "char",
) -> DataFrame:
    """Encode every document to TOKEN IDS — the artifact a trainer
    actually consumes, closing the tokenizer loop (train → apply →
    ids → budgets).  The id space is deterministic and derivable by
    any engine from the same inputs: observed single characters
    sorted ascending take ids 1..B, merge RESULTS take B+rank (two
    merges can legitimately produce the same string — e.g. (a,bc)
    and (ab,c) — so a string maps to the id of its LOWEST-rank
    producer).  Returns ``(id, pos, token, token_id)`` with ``pos``
    the 1-based position in the document's token stream.

    Scale shape: BPE apply runs on the DISTINCT-pre-token vocabulary
    (:func:`bpe_apply_vocab`); corpus-sized stages are the pre-token
    posexplode, the vocab join, the token posexplode, and one
    per-document window for the global position (doc-sized
    partitions — a document's token stream must be totally ordered,
    there is no narrower correct partitioning).  The char-id table is
    alphabet-sized; its rank runs under a single-partition window
    over ≤ |alphabet| rows (bounded by construction).
    """
    if alphabet not in ("char", "byte"):
        raise ValueError(f"alphabet must be 'char' or 'byte': {alphabet}")
    mlist = list(
        merges
        or (BPE_MERGES if alphabet == "char" else BPE_BYTE_MERGES)
    )
    pretok = bpe_pretokens if alphabet == "char" else bpe_byte_pretokens
    pre = df.select(
        F.col(id_col), F.posexplode(pretok(text_col)).alias("widx", "word")
    )
    # vocabulary-sized checkpoint (r17, guide §5): vocab feeds BOTH
    # the merge-fold chain and the char-id table below — without it
    # each consumer re-ran the corpus pretokenize + distinct (three
    # full regex passes where two suffice; the relation itself is
    # distinct pre-tokens, sub-linear in corpus size)
    vocab = pre.select("word").distinct().localCheckpoint(eager=True)
    applied = bpe_apply_vocab(
        vocab, max_rounds=max_rounds, merges=mlist, alphabet=alphabet
    )
    toks = pre.join(applied.select("word", "tokens"), "word").select(
        id_col, "widx", F.posexplode("tokens").alias("tidx", "token")
    )
    # base-symbol ids: observed single symbols (chars, or byte
    # stand-ins) sorted asc → 1..B.  gw-ok: the window ranks the
    # distinct-symbol relation, ≤ |alphabet| rows by construction
    if alphabet == "char":
        syms = vocab.select(
            F.explode(
                F.expr("filter(split(lower(word), ''), x -> x <> '')")
            ).alias("ch")
        )
    else:
        # hex hoisted once per word (byte_symbols_from_hex_sql doc)
        syms = vocab.select(
            F.expr("hex(encode(word, 'UTF-8'))").alias("__hex")
        ).select(
            F.explode(
                F.expr(byte_symbols_from_hex_sql("__hex"))
            ).alias("ch")
        )
    chars = (
        syms
        .distinct()
        .withColumn("cid", F.row_number().over(Window.orderBy(F.col("ch").asc())).cast("long"))
    )
    n_chars = chars.agg(F.count(F.lit(1)).alias("__b"))
    spark = df.sparkSession
    mrows = [(i + 1, a + b) for i, (a, b) in enumerate(mlist)]
    mdf = spark.createDataFrame(mrows, "rank long, mtoken string")
    # a string maps to its lowest-rank producer
    mdf = mdf.groupBy("mtoken").agg(F.min("rank").alias("rank"))
    # bcast-ok: 1-row alphabet-size aggregate
    mids = mdf.crossJoin(F.broadcast(n_chars)).select(
        F.col("mtoken"), (F.col("__b") + F.col("rank")).cast("long").alias("mid")
    )
    w = Window.partitionBy(id_col).orderBy("widx", "tidx")
    out = (
        toks
        # bcast-ok: alphabet-sized char-id table, bounded by construction
        .join(F.broadcast(chars), toks["token"] == chars["ch"], "left")
        # bcast-ok: merges-sized id table, a tokenizer parameter
        .join(F.broadcast(mids), toks["token"] == mids["mtoken"], "left")
        .select(
            F.col(id_col),
            F.row_number().over(w).cast("long").alias("pos"),
            "token",
            F.coalesce(F.col("cid"), F.col("mid")).alias("token_id"),
        )
    )
    return out


def bpe_pretoken_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One ingest batch's pre-token counts ``(w, n)`` — the mergeable
    BPE-training state (count-sum monoid, the dsir_feature_counts
    pattern applied to the tokenizer): accumulate batches with
    :func:`fold_bpe_pretoken_counts`, then train from the state with
    :func:`bpe_train_from_counts` — re-training after new data never
    rescans old text, only the vocabulary-sized count relation."""
    return (
        df.select(F.explode(bpe_pretokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def fold_bpe_pretoken_counts(
    state: DataFrame | None, batch_counts: DataFrame
) -> DataFrame:
    """Fold a batch's pre-token counts into the state — exact sum
    monoid, so fold ≡ one-shot counts row-for-row."""
    if state is None:
        return batch_counts
    return (
        state.unionByName(batch_counts)
        .groupBy("w")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def bpe_train_from_counts(
    wc: DataFrame,
    num_merges: int = 20,
    min_count: int = 2,
    alphabet: str = "char",
    batch_k: int = 1,
) -> list[tuple[str, str]]:
    """:func:`bpe_train` starting from a ``(w, n)`` pre-token count
    relation (one-shot or folded — identical either way, the monoid
    guarantee).  This is the retraining entry point for continuous
    ingest: corpus text is read once per batch at count time; the
    training loop touches only the vocabulary-sized state."""
    state = _bpe_train_state(
        wc.select("w", F.col("n").cast("long").alias("n")), alphabet
    )
    return _bpe_train_loop(state, num_merges, min_count, batch_k)


def save_merges(
    spark, merges: "Sequence[tuple[str, str]]", path: str
) -> int:
    """Persist a learned merges list as the next immutable snapshot of
    a VERSIONED tokenizer-artifact table (io.versioned_write: pointer
    flip, crash-safe, old versions readable until vacuumed) — the
    in-engine home of what merges.txt is on disk.  Returns the new
    version.  Schema ``(rank, lhs, rhs)`` matches
    :func:`bpe_merges_df`; :func:`load_merges` reads it back in rank
    order, and :func:`merges_txt_lines` renders the interchange
    format for external tokenizers."""
    from square_etl_spark.io import versioned_write

    rows = [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
    df = spark.createDataFrame(rows, "rank long, lhs string, rhs string")
    return versioned_write(spark, df, path)


def load_merges(spark, path: str, version: int | None = None) -> list:
    """Read a :func:`save_merges` artifact back as the ``merges=``
    parameter shape (rank order).  ``version`` pins a historical
    snapshot — the "re-tokenize with LAST release's tokenizer"
    reproducibility contract."""
    from square_etl_spark.io import read_version

    rows = read_version(spark, path, version).orderBy("rank").collect()
    return [(r["lhs"], r["rhs"]) for r in rows]


def merges_txt_lines(merges: "Sequence[tuple[str, str]]") -> list[str]:
    """Render a merges list in the merges.txt interchange format
    (version header + one 'lhs rhs' per line) — the exact inverse of
    :func:`load_merges_lines`, so artifacts round-trip between this
    engine and external byte-level tokenizers."""
    return ["#version: 0.2"] + [f"{a} {b}" for a, b in merges]
