"""Deduplication operators (extension surface — SURVEY.md §2.10).

Not in the reference (its dedup is key-based upsert idempotence, K1);
these are the content-level dedup operators a 100 TB training-data
pipeline needs.  Scale design notes per operator:

- exact: one hash-shuffle on a 64-char digest — the digest, not the
  document body, is the shuffle key, so shuffle volume is O(rows·64B).
- minhash/LSH: candidate generation is a band-bucket equi-join —
  quadratic blowup only inside a bucket, never globally.
- n-gram Jaccard: exact verification join, run AFTER a candidate
  filter (shared-shingle join) so the pair space stays near-linear.
- simhash: 64-bit signature per doc; near-dup = small Hamming
  distance; banded by 16-bit chunks for candidate generation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def content_digest(col: str = "text") -> F.Column:
    """SHA-256 digest of document content — the exact-dedup key."""
    return F.sha2(F.col(col), 256)


def exact_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: canonical survivor = minimum id per distinct content.

    Grouping key is the SHA-256 digest, not the body: at 100 TB the
    shuffle moves 64 bytes + id per row instead of whole documents.
    Returns (digest, survivor id, duplicate count).
    """
    return df.groupBy(content_digest(content_col).alias("content_sha256")).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("dup_count"),
    )


def word_shingles_from_words(words: F.Column | str, n: int = 3) -> F.Column:
    """Distinct word n-gram STRINGS from a word array — pass a
    MATERIALIZED array column: the position lambda slices the captured
    array per shingle, and a captured split() subtree would re-tokenize
    the document once per position (the r12 HOF-capture rule; slices
    of an attribute are cheap)."""
    words = F.col(words) if isinstance(words, str) else words
    k = F.size(words) - F.lit(n - 1)
    sh = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(sh)


def word_shingles(col: str, n: int = 3) -> F.Column:
    """Distinct word n-grams of a whitespace-tokenized document.

    Pure higher-order SQL (transform over an index sequence) — stays in
    codegen, no UDF.  Documents shorter than n words yield an empty
    array.  Inline form re-splits per position — hot paths should
    hoist the split and call :func:`word_shingles_from_words`.
    """
    return word_shingles_from_words(F.split(F.trim(F.col(col)), r"\s+"), n)


def word_hashes(col: str, portable: bool = False) -> F.Column:
    """Per-word hash array (``array<long>``) of a whitespace-tokenized
    document — ONE tokenize + one hash pass.  ``portable=False``:
    xxhash64 (fast JVM path, 64-bit keys); ``portable=True``: first 32
    md5 bits (the engine-portable family every DuckDB oracle can
    recompute).  Materialize this as a REAL COLUMN before building
    shingles from it (:func:`shingles_from_word_hashes`): the shingle
    fold references the array once per gram width, and expression-tree
    references re-evaluate their subtree — the r12 HOF-capture rule."""
    words = F.filter(
        F.split(F.trim(F.col(col)), r"\s+"), lambda w: w != F.lit("")
    )
    if portable:
        return F.transform(
            words,
            lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast(
                "long"
            ),
        )
    return F.transform(words, lambda w: F.xxhash64(w))


def shingles_from_word_hashes(
    hw: F.Column | str, n: int = 3, portable: bool = False,
    distinct: bool = True,
) -> F.Column:
    """Word-n-gram hashes from a (preferably materialized) per-word
    hash array: ``zip_with`` over ``n`` aligned ``slice`` views — n
    array slices per DOCUMENT, not one per shingle.  Fold matches the
    producing family: xxhash64 chaining (default) or the masked
    31-polynomial (``portable=True``, oracle-recomputable)."""
    hw = F.col(hw) if isinstance(hw, str) else hw
    k = F.greatest(F.size(hw) - F.lit(n - 1), F.lit(0))
    mask = F.lit(_PORTABLE_MASK)
    acc = F.slice(hw, 1, k)
    for i in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(hw, i + 1, k),
            (lambda a, b: (a * F.lit(31) + b).bitwiseAND(mask))
            if portable
            else (lambda a, b: F.xxhash64(a, b)),
        )
    return F.array_distinct(acc) if distinct else acc


def hashed_word_shingles(col: str, n: int = 3) -> F.Column:
    """Distinct word n-grams as 64-bit hashes (``array<long>``).

    Inline composition of :func:`word_hashes` +
    :func:`shingles_from_word_hashes` — fine for one-shot use, but the
    expression tree references the word-hash array once per gram width
    (n re-evaluations of the tokenize+hash pass); hot paths should
    materialize :func:`word_hashes` as a column first (ngram_jaccard,
    contamination, the minhash family all do).  The long keys make
    every downstream shuffle/join/group carry 8 bytes instead of a
    trigram string.  A 64-bit collision would merge two shingles
    (≈1e-11 at 10⁶ distinct shingles) — acceptable for dedup.
    """
    return shingles_from_word_hashes(word_hashes(col), n)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    df_cap: int | None = 100,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Plan shape (all built-in ops):
      1. shingle each doc into distinct 64-bit n-gram hashes
         (:func:`hashed_word_shingles` — long keys, not strings);
      2. drop stop-shingles whose document frequency exceeds ``df_cap``
         — a hot shingle shared by d docs contributes d² candidate
         pairs to the self-join, so the cap is what keeps the pair
         space near-linear (the skew-key treatment of a shuffle join;
         similarity is then defined over the informative shingle space,
         which is also what you want semantically: stop-shingles carry
         no near-dup signal).  The stop list is tiny by construction
         (≤ postings/df_cap entries), so it broadcasts and the filter
         is a broadcast ANTI join — no shuffle of the postings;
      3. self-equi-join the postings on the shingle hash
         (id_a < id_b) — only pairs sharing ≥1 kept shingle ever
         materialize (the LSH-free candidate filter).  Pair rows carry
         only the two ids; per-doc sizes are joined back AFTER the
         pair aggregation so the wide shuffle stays narrow;
      4. count shared shingles per pair = |A∩B|;
      5. jaccard = inter / (|A| + |B| − inter); filter by threshold.
    """
    # the shingle relation feeds every downstream consumer (stop-list
    # frequency count, per-doc sizes, both sides of the pair join):
    # materialize it once instead of re-shingling per consumer — at
    # warehouse scale this is "write the postings index, then join
    # against it".  Two deliberate choices: localCheckpoint(eager),
    # not persist() — blocks are ContextCleaner-scoped to the result
    # instead of pinning a session-lifetime CacheManager entry per
    # invocation (the r08-advice leak pattern, fixed repo-wide in
    # r09); and the checkpoint holds the COMPACT pre-explode arrays
    # (one row per doc), with each consumer re-running the trivial
    # explode — checkpointing the exploded postings was measured 40%
    # slower on the benched query (30× the row count through the
    # block store to save a map-only explode).
    #
    # Cluster caveat (applies to every localCheckpoint in this
    # module): checkpoint blocks drop lineage, so losing an executor
    # (dynamic allocation scale-down, spot preemption) fails the job
    # instead of recomputing, and the eager flag runs Spark jobs at
    # PLAN-CONSTRUCTION time even if the caller never executes the
    # result.  On a preemption-prone cluster prefer reliable
    # checkpointing (sc.setCheckpointDir + .checkpoint()) or a
    # persist→unpersist context manager; local/on-demand executors
    # keep the cheap RDD-block path used here.
    sh_arr = (
        # materialize word hashes first: the shingle fold references
        # the array n times (r12 HOF-capture rule)
        df.withColumn("__hw", word_hashes(content_col))
        .select(
            F.col(id_col),
            shingles_from_word_hashes("__hw", n).alias("shingles"),
        )
        .localCheckpoint(eager=True)
    )
    sh = sh_arr.select(id_col, F.explode("shingles").alias("shingle"))
    if df_cap is not None:
        stop = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        # broadcast anti join: a cheap in-memory filter over the cached
        # postings, re-evaluated per consumer without a shuffle.
        # bcast-ok: stoplist = shingles with df > df_cap, so ≤ |postings|/df_cap rows by cap arithmetic
        sh = sh.join(F.broadcast(stop), on="shingle", how="left_anti")
    sized = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sized_a = sized.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sized_b = sized.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    inter = inter.join(sized_a, on="id_a").join(sized_b, on="id_b")
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: all id-ordered pairs with cosine
    similarity ≥ threshold (rounded to 6 decimals before the filter so
    the decision is reproducible across engines).

    This is the EXACT baseline — an all-pairs comparison, O(N²·d),
    correct at any threshold and oracle-checkable.  It deliberately
    broadcasts one normalized side so the big side never shuffles.  At
    100 TB this is not the shape to run: bucket candidates first with
    sign-LSH (similarity.lsh_bucket — cosine-preserving by design) or
    an IVF cell assignment (similarity.ivf_assign), then run THIS
    exact verify only inside buckets — the same candidates→verify
    split as every other near-dup operator in this module.

    Per-pair cost discipline: vectors are unit-normalized ONCE per row
    (below the join), so each of the O(N²) pairs pays a single dot
    product instead of dot + two norms; pass ``dim`` when the embedding
    dimension is fixed to swap the interpreted higher-order aggregate
    for an unrolled whole-stage-codegen sum (~5× measured, see
    similarity.dot_unrolled).
    """
    from square_etl_spark.operators.similarity import dot, dot_unrolled, normalize

    normed = df.select(F.col(id_col), normalize(F.col(vec_col)).alias("__nv"))
    a = normed.select(F.col(id_col).alias("id_a"), F.col("__nv").alias("__va"))
    b = normed.select(F.col(id_col).alias("id_b"), F.col("__nv").alias("__vb"))
    # bcast-ok: all-pairs BASELINE variant, documented small-input-only
    # (the bucketed sign-LSH variant is the default / 100 TB path)
    pairs = a.join(F.broadcast(b), on=F.col("id_a") < F.col("id_b"))
    sim = (
        dot_unrolled(F.col("__va"), F.col("__vb"), dim)
        if dim is not None
        else dot(F.col("__va"), F.col("__vb"))
    )
    return (
        pairs.withColumn("cosine_sim", F.round(sim, 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def _lsh_tag(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bits: int,
    n_tables: int,
    seed: int,
    out_id: str,
    out_vec: str,
    vec_table0_only: bool = False,
) -> DataFrame:
    """The shared sign-LSH tagging relation ``(out_id, out_vec, __tbl,
    __bucket)`` behind the embedding near-dup/decontamination family.

    ``vec_table0_only`` (r17, guide §5): emit the normalized vector on
    the TABLE-0 rows only (NULL elsewhere) for callers that verify by
    key re-attach against the ``__tbl = 0`` slice rather than
    in-bucket — a localCheckpoint of the tagging materializes every
    column, so carrying the ~512-byte unit vector on all ``n_tables``
    rows multiplied the checkpoint's storage footprint 8× for bytes
    no consumer ever read (the within-JVM spread on the heavy
    embedding-dedup paths is storage-memory pressure).  Callers that
    DO verify in-bucket (the stored-index probe, the asymmetric
    contamination probe) keep the default.

    Shape (r12, measured on the hot-bucket sweep at 3.2M tagged
    rows):

    - buckets are computed from the RAW vector — sign(v·p) ==
      sign((v/|v|)·p) for |v| > 0, so bucket ids are invariant, and
      over the raw scan attribute the literal dot chains stay in
      compiled projections (the DuckDB twins bucket on the raw
      doubles too, so razor-edge signs agree cross-engine);
    - the per-table rows come from a UNION of n_tables plain
      projections, NOT posexplode(array(bucket_0..bucket_t)): fusing
      the bits×tables literal chains into one Generate stage blows
      the 64 KB JVM method limit and the whole-stage fallback
      evaluates them interpreted — 19.7 s vs 0.5 s per pass measured;
      each union branch column-prunes to (id, vec) and compiles on
      its own, and the n_tables re-scans are pruned-column sequential
      reads, ~40× cheaper than the interpreted fallback;
    - ``out_vec`` carries the unit-normalized vector for the exact
      verify (:func:`similarity.normalize` — O(dim), norm outside the
      lambda).
    """
    from square_etl_spark.operators.similarity import (
        lsh_bucket,
        normalize,
        random_hyperplanes,
    )

    out = None
    for t in range(n_tables):
        vec_expr = (
            F.lit(None).cast("array<double>")
            if vec_table0_only and t > 0
            else normalize(F.col(vec_col))
        )
        branch = df.select(
            F.col(id_col).alias(out_id),
            vec_expr.alias(out_vec),
            F.lit(t).alias("__tbl"),
            lsh_bucket(
                vec_col, random_hyperplanes(dim, bits, seed + t)
            ).alias("__bucket"),
        )
        out = branch if out is None else out.unionByName(branch)
    return out


def _cap_hot_buckets(tagged: DataFrame, bucket_cap: int) -> DataFrame:
    """Drop rows of (table, bucket) groups holding > ``bucket_cap``
    rows — the map-side-combinable hot-key guard (groupBy-count →
    filter → broadcast anti join, the minhash_lsh_pairs precedent).
    A count OVER (PARTITION BY tbl, bucket) would funnel every row of
    the hot bucket through ONE reducer to learn the count it then
    discards — the exact single-reducer shape the cap exists to
    prevent; the aggregate combines map-side, so a 10⁵-row
    boilerplate bucket costs one partial count per input partition."""
    hot = (
        tagged.groupBy("__tbl", "__bucket")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > bucket_cap)
        .select("__tbl", "__bucket")
    )
    # bcast-ok: hot-bucket list, ≤ |rows|·n_tables/bucket_cap by cap arithmetic
    return tagged.join(
        F.broadcast(hot), on=["__tbl", "__bucket"], how="left_anti"
    )


def embedding_cosine_pairs_bucketed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    dim: int = 64,
    bits: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup at scale: sign-LSH candidate buckets →
    exact in-bucket cosine verify.  This is the DEFAULT embedding-dedup
    path; :func:`embedding_cosine_pairs` (all-pairs) is the small-SF
    exactness baseline only.

    Candidates: each vector lands in one bucket per hash table (bucket
    id = ``bits`` hyperplane signs; ``n_tables`` independent tables
    union'd for recall — P[candidate] = 1-(1-p_bit^bits)^tables, p_bit
    = 1-θ/π).  Pairs sharing any (table, bucket) are verified with the
    exact rounded dot product of unit-normalized vectors, then
    ``distinct`` collapses multi-table hits.  The verify inside a
    bucket is exact, so precision is 1.0; recall is the tunable.

    Plan shape — the point of the operator: the self-match is an
    EQUI-join on (table, bucket) — shuffle-hash, never a
    BroadcastNestedLoopJoin over all pairs (pinned in
    tests/test_plans.py).  At 100 TB: raise ``bits`` with log2(N) so
    per-bucket population stays bounded, and set ``bucket_cap`` to
    drop (and report) pathological buckets — the same hot-key guard as
    :func:`minhash_lsh_pairs`.  Cost is O(Σ bucket²·d) instead of
    O(N²·d).
    """
    from square_etl_spark.operators.similarity import dot

    # The self-join makes tagged a diamond even without the cap (both
    # join sides), and the cap adds the count branch — materialize it
    # once (see _lsh_tag for the tagging-shape rationale).  The
    # localCheckpoint is the skew-safe twin of the exchange reuse the
    # old window-cap shape enjoyed: without it Catalyst re-evaluates
    # the tagging per consumer per union branch — measured 71 s vs
    # 22 s against the window shape at 1.6M planted hot rows; the
    # checkpoint stores tagged partitioned by INPUT rows, never
    # concentrating a hot bucket on one task the way the window's
    # hash exchange did.
    # vec_table0_only: the verify below re-attaches vectors from the
    # table-0 slice by key, so tables 1..n-1 store a NULL vector — the
    # checkpoint materializes every column, and carrying the unit
    # vector on all 8 table rows multiplied its storage footprint 8×
    # for bytes nothing read (r17, §5).
    tagged = _lsh_tag(
        df, id_col, vec_col, dim, bits, n_tables, seed, id_col, "__nv",
        vec_table0_only=True,
    ).localCheckpoint(eager=False)
    capped = (
        _cap_hot_buckets(tagged, bucket_cap)
        if bucket_cap is not None
        else tagged
    )
    # Candidate join on IDS ONLY, dedup BEFORE the verify (r16, guide
    # §2.3 "shuffle keys and metadata instead of payloads"): the old
    # shape carried BOTH unit vectors (~1 KB/row at d=64) through the
    # bucket self-join, materializing every multi-table candidate
    # occurrence as a kilobyte row BEFORE the distinct — and AQE,
    # seeing only the small pre-join shuffle, coalesces partitions
    # ahead of the expansion (measured 14.3 s for the one-shot at
    # sf0.1).  Cosine is functional on the pair, so
    # distinct∘filter∘verify ≡ filter∘verify∘distinct — candidates
    # dedup as 16-byte id pairs and each DISTINCT pair is verified
    # once, with the vectors attached by two key joins against the
    # one-row-per-id slice of the tagging (table 0 of the UNCAPPED
    # tagging, so a cap never drops a verify row; with
    # vec_table0_only the table-0 slice is also the only one storing
    # a vector).
    cand = (
        capped.select(F.col(id_col).alias("id_a"), "__tbl", "__bucket")
        .join(
            capped.select(F.col(id_col).alias("id_b"), "__tbl", "__bucket"),
            on=["__tbl", "__bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    nv = tagged.filter(F.col("__tbl") == 0).select(id_col, "__nv")
    # HOF dot, not dot_unrolled (r16, measured in situ): over the
    # CHECKPOINTED normalized vectors the 64-term unrolled chain runs
    # ~8× SLOWER than the aggregate/zip_with fold (7.4 s vs 0.9 s on
    # the 818k-pair verify at sf0.1) — the giant generated method
    # falls out of JIT compilation in this join shape while the fold's
    # tight loop stays hot.  Same left-to-right accumulation, so the
    # values are bit-identical (the dot/dot_unrolled equivalence pin).
    sim = dot(F.col("__va"), F.col("__vb"))
    return (
        cand.join(
            nv.select(F.col(id_col).alias("id_a"), F.col("__nv").alias("__va")),
            "id_a",
        )
        .join(
            nv.select(F.col(id_col).alias("id_b"), F.col("__nv").alias("__vb")),
            "id_b",
        )
        .withColumn("cosine_sim", F.round(sim, 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def embedding_lsh_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Materializable sign-LSH index of an embedding corpus slice —
    the write-side half of incremental embedding near-dup, completing
    the stored-index family (:func:`minhash_index` for text,
    :func:`similarity.ivfpq_index` for ANN): one relation
    ``(id, __nv, __tbl, __bucket)`` carrying both the probe join keys
    AND the unit-normalized vector, so the exact verify happens
    in-bucket with no second join (unlike minhash, whose shingle sets
    live in a separate store).  Written once at ingest
    (:func:`write_embedding_lsh_index`); the old corpus's raw vectors
    are never re-read."""
    return _lsh_tag(
        df, id_col, vec_col, dim, bits, n_tables, seed, id_col, "__nv"
    )


def write_embedding_lsh_index(
    index: DataFrame,
    base_path: str,
    name: str,
    num_buckets: int = 32,
) -> DataFrame:
    """Persist an :func:`embedding_lsh_index` as a BUCKETED table —
    bucketed+sorted by ``(__tbl, __bucket)``, the probe join's FULL
    key set, so every probe's candidate join reads the stored corpus
    with ZERO Exchange: only the new batch (tiny) shuffles (the
    :func:`write_minhash_index_bucketed` deployment shape, including
    the all-cluster-keys co-partition requirement and the
    repartition-before-bucketed-write small-files guard).  Returns
    the DataFrame read back from the bucketed table — pass it
    straight to :func:`embedding_lsh_probe`."""
    import os

    spark = index.sparkSession
    tbl = f"{name}_emb_lsh"
    (
        index.repartition(num_buckets, "__tbl", "__bucket")
        .write.format("parquet")
        .bucketBy(num_buckets, "__tbl", "__bucket")
        .sortBy("__tbl", "__bucket")
        .option("path", os.path.join(base_path, tbl))
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    return spark.table(tbl)


def embedding_lsh_probe(
    index: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    dim: int = 64,
    bits: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    bucket_cap: int | None = 200,
    new_bucket_cap: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs of a NEW embedding batch against an
    EXISTING :func:`embedding_lsh_index` — the incremental-ingest
    read path: the old corpus is touched only through its stored
    index relation.  Emits ``(new_id, old_id, cosine_sim ≥
    threshold)`` (distinct across hash tables).

    Candidate identity: a (new, old) pair shares a (table, bucket)
    here exactly when it would share one in
    :func:`embedding_cosine_pairs_bucketed` over the combined corpus
    (same planes, same raw-vector signs), so batch-folded ingest ≡
    one-shot dedup — the fold law the registered
    ``dedup_embedding_incremental`` query has DuckDB recompute from
    scratch.

    Hot-bucket caps mirror :func:`minhash_probe` (two-sided, r08
    ADVICE): ``bucket_cap`` drops pathological INDEX buckets,
    ``new_bucket_cap`` (default: same) drops pathological BATCH
    buckets — a boilerplate ingest burst is exactly as dangerous as a
    boilerplate corpus.  Pass ``None`` to disable (the exact-fold
    configuration).  Both caps use the map-side-combinable
    groupBy-count → anti-join shape (:func:`_cap_hot_buckets`)."""
    from square_etl_spark.operators.similarity import dot_unrolled

    if new_bucket_cap is None:
        new_bucket_cap = bucket_cap
    tagged = _lsh_tag(
        batch, id_col, vec_col, dim, bits, n_tables, seed,
        "__new_id", "__vn",
    )
    if new_bucket_cap is not None:
        # cap makes the batch tagging a diamond — materialize once
        # (input-partitioned; see embedding_cosine_pairs_bucketed)
        tagged = _cap_hot_buckets(
            tagged.localCheckpoint(eager=False), new_bucket_cap
        )
    idx = index.select(
        F.col(id_col).alias("__old_id"),
        F.col("__nv").alias("__vo"),
        "__tbl", "__bucket",
    )
    if bucket_cap is not None:
        # index side is a stored parquet relation — re-scanning it for
        # the count is a pruned-column read, no checkpoint needed
        idx = _cap_hot_buckets(idx, bucket_cap)
    sim = dot_unrolled(F.col("__vn"), F.col("__vo"), dim)
    return (
        tagged.join(idx, on=["__tbl", "__bucket"])
        .filter(F.col("__new_id") != F.col("__old_id"))
        .withColumn("cosine_sim", F.round(sim, 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select(
            F.col("__new_id").alias("new_id"),
            F.col("__old_id").alias("old_id"),
            "cosine_sim",
        )
        .distinct()
    )


def embedding_incremental_pairs_split(
    df: DataFrame,
    batch2_pred: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    dim: int = 64,
    bits: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """The incremental embedding near-dup fold — batch 1 (¬pred)
    dedups internally and is sign-LSH-indexed, batch 2 (pred) probes
    that index for cross-batch pairs and dedups internally — for the
    common case where both batches are SPLITS of one relation (the
    registered ``dedup_embedding_incremental`` parity split): tag the
    relation ONCE, checkpoint, and derive all four constituent
    relations from the materialized tagging.

    Equivalence (r16; the :func:`semantic_contamination_pairs_split`
    precedent): ``_lsh_tag`` is row-wise, so filter∘tag ≡ tag∘filter —
    the batch-1 slice of the shared tagging matches
    ``embedding_lsh_index(batch1)`` on every column the joins and
    verifies below consume (ids, tables, buckets, and the table-0
    vectors; since r17 the shared tagging is vec_table0_only, so the
    tables-1..n−1 ``__nv`` cells are NULL — do NOT substitute this
    slice for a stored index feeding an IN-BUCKET verify like
    :func:`embedding_lsh_probe`), the batch-2 slice is the probe's
    batch tagging, and each within-batch slice is
    ``embedding_cosine_pairs_bucketed``'s tagging of that batch.  The
    three candidate joins and exact verifies below are those
    operators' own bodies (cap-free configuration), so the output is
    identical row-for-row to composing them on the two filtered
    relations — while the bits×tables literal plane-chain
    analysis/codegen constant (the wall-clock term at any scale,
    SCALING.md r12) is paid ONCE instead of four times, and the
    corpus is normalized+tagged in one linear pass instead of four.

    Emits ``(id_a, id_b, cosine_sim)`` — the union of batch-1-internal
    pairs, cross-batch pairs (as least/greatest), and batch-2-internal
    pairs, each set distinct (the sets are disjoint by construction:
    a pair's membership is determined by its endpoints' split sides).

    Candidate joins carry IDS ONLY and dedup BEFORE the verify, and
    the verify uses the HOF dot — the same two in-situ measurements
    as :func:`embedding_cosine_pairs_bucketed` (cosine is functional
    on the pair, so per-set distinct∘filter∘verify ≡
    filter∘verify∘distinct; values bit-identical).
    """
    from square_etl_spark.operators.similarity import dot

    # vec_table0_only: all three verifies re-attach vectors from the
    # table-0 slice by key (see embedding_cosine_pairs_bucketed) — an
    # 8×-narrower checkpoint for the same consumed bytes (r17, §5).
    tagged = _lsh_tag(
        df, id_col, vec_col, dim, bits, n_tables, seed, id_col, "__nv",
        vec_table0_only=True,
    ).localCheckpoint(eager=False)
    t1 = tagged.filter(~batch2_pred)
    t2 = tagged.filter(batch2_pred)
    nv = tagged.filter(F.col("__tbl") == 0).select(id_col, "__nv")
    va = nv.select(F.col(id_col).alias("id_a"), F.col("__nv").alias("__va"))
    vb = nv.select(F.col(id_col).alias("id_b"), F.col("__nv").alias("__vb"))
    sim = dot(F.col("__va"), F.col("__vb"))

    def _verify(cand: DataFrame) -> DataFrame:
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .withColumn("cosine_sim", F.round(sim, 6))
            .filter(F.col("cosine_sim") >= threshold)
            .select("id_a", "id_b", "cosine_sim")
        )

    def _within(t: DataFrame) -> DataFrame:
        cand = (
            t.select(F.col(id_col).alias("id_a"), "__tbl", "__bucket")
            .join(
                t.select(F.col(id_col).alias("id_b"), "__tbl", "__bucket"),
                on=["__tbl", "__bucket"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        return _verify(cand)

    # cross-batch probe: the index relation is t1's slice of the
    # shared tagging, the probe batch is t2's — candidates as id
    # pairs, normalized to (least, greatest) BEFORE the verify (the
    # old shape computed the cosine on (new, old) and then swapped;
    # the dot is symmetric, so verifying the normalized pair is the
    # same value)
    cross_cand = (
        t2.select(F.col(id_col).alias("__new_id"), "__tbl", "__bucket")
        .join(
            t1.select(F.col(id_col).alias("__old_id"), "__tbl", "__bucket"),
            on=["__tbl", "__bucket"],
        )
        .filter(F.col("__new_id") != F.col("__old_id"))
        .select(
            F.least("__new_id", "__old_id").alias("id_a"),
            F.greatest("__new_id", "__old_id").alias("id_b"),
        )
        .distinct()
    )
    return (
        _within(t1)
        .unionByName(_verify(cross_cand))
        .unionByName(_within(t2))
    )


def semantic_contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    dim: int = 64,
    bits: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """SEMANTIC train/test contamination — the embedding rung of the
    decontamination ladder (exact 13-gram :func:`contamination_hits`
    → fuzzy MinHash :func:`fuzzy_contamination_pairs` → this):
    paraphrases that share almost no n-grams still land next to the
    benchmark in embedding space, so the last net is cast at cosine
    similarity.  Asymmetric sign-LSH probe with the roles cast like
    the fuzzy path: BOTH sides bucket with the SAME hyperplanes
    (bits × n_tables, :func:`similarity.lsh_bucket`), the corpus
    equi-joins the benchmark-sized side on (table, bucket), and
    candidates verify with the exact rounded dot of unit-normalized
    vectors.  Emits ``(corpus_id, bench_id, cosine_sim ≥
    threshold)``.

    Scale shape: the corpus is touched by one linear
    normalize+bucket scan and an equi-join against |bench|·n_tables
    bucket rows — never corpus×corpus; ``bucket_cap`` (count over
    the corpus side's (table, bucket)) drops pathological boilerplate
    buckets, same guard as :func:`embedding_cosine_pairs_bucketed`.
    Recall is the sign-LSH candidate probability (deterministic —
    both engines share the hyperplane constants, so the DuckDB twin
    recomputes the identical candidate set); precision is 1.0 (exact
    verify)."""
    from square_etl_spark.operators.similarity import dot_unrolled

    probe = _lsh_tag(
        corpus, id_col, vec_col, dim, bits, n_tables, seed,
        "corpus_id", "__va",
    )
    index = _lsh_tag(
        benchmark, id_col, vec_col, dim, bits, n_tables, seed,
        "bench_id", "__vb",
    )
    if bucket_cap is not None:
        # Corpus-side hot-bucket cap (_cap_hot_buckets — the map-side
        # combinable shape; never a window count).  The benchmark side
        # needs no cap: it is eval-suite-sized by construction, so
        # candidates ≤ |bench|·n_tables·bucket_cap.  localCheckpoint:
        # the cap makes the probe a diamond (count branch + join
        # probe) — materialize the corpus tagging once,
        # input-partitioned (see embedding_cosine_pairs_bucketed).
        probe = _cap_hot_buckets(
            probe.localCheckpoint(eager=False), bucket_cap
        )
    sim = dot_unrolled(F.col("__va"), F.col("__vb"), dim)
    return (
        probe.join(index, on=["__tbl", "__bucket"])
        .select(
            "corpus_id", "bench_id",
            F.round(sim, 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .distinct()
    )


def semantic_contamination_pairs_split(
    df: DataFrame,
    bench_pred: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    dim: int = 64,
    bits: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """:func:`semantic_contamination_pairs` for the common case where
    the benchmark is a SPLIT of the same relation (an in-corpus eval
    carve-out, e.g. the held-out id stripe the registered
    decontamination queries use): tag the relation ONCE, checkpoint,
    and derive both probe (¬bench_pred) and index (bench_pred) from
    the materialized tagging.  Halves the tagging work and — the
    part that shows up as wall time — halves the driver-side
    analysis/codegen of the bits×tables literal plane chains, which
    is a scale-independent constant the two-relation form pays twice
    (SCALING.md r12).  Results are identical to calling
    semantic_contamination_pairs on the two filtered sides.

    The verify CARRIES the unit vectors through the one (table,
    bucket) join and dedups AFTER it — deliberately NOT the ids-only
    candidates + re-attach joins that win inside
    :func:`embedding_incremental_pairs_split` (r17 adjudication of
    the r16 rewrite; driver-confirmed 2.4× regression, quiet-box
    isolated medians 4.4 s ids-only vs 2.9 s carried, raw spread 5×
    vs ≤1.3×): this probe is ASYMMETRIC — the index side is
    |bench| = corpus/97, the join output is |bench|-bounded (~21k
    rows at sf0.1), so there is no multi-table candidate explosion
    for a pre-verify distinct to collapse, and the two extra
    re-attach shuffle joins plus a third checkpoint consumer cost
    strictly more than the payload bytes they save.  The ids-only
    shape is the right one only when candidate multiplicity is high
    (the within-batch SELF-joins)."""
    from square_etl_spark.operators.similarity import dot_unrolled

    tagged = _lsh_tag(
        df, id_col, vec_col, dim, bits, n_tables, seed, id_col, "__nv"
    ).localCheckpoint(eager=False)
    probe = tagged.filter(~bench_pred).select(
        F.col(id_col).alias("corpus_id"),
        F.col("__nv").alias("__va"),
        "__tbl", "__bucket",
    )
    index = tagged.filter(bench_pred).select(
        F.col(id_col).alias("bench_id"),
        F.col("__nv").alias("__vb"),
        "__tbl", "__bucket",
    )
    if bucket_cap is not None:
        probe = _cap_hot_buckets(probe, bucket_cap)
    sim = dot_unrolled(F.col("__va"), F.col("__vb"), dim)
    return (
        probe.join(index, on=["__tbl", "__bucket"])
        .select(
            "corpus_id", "bench_id",
            F.round(sim, 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .distinct()
    )


def semantic_block_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
    fit_sample_mod: int | None = None,
) -> DataFrame:
    """:func:`semantic_dedup`'s fit+assign stage, exposed so
    diagnostics (the pair-space probes of SCALING.md "Round-9 SemDeDup
    blocking sweep") measure the EXACT deployed blocking rather than a
    parallel copy that can drift.  Returns the ``(vid, c)`` cluster assignment: exact Lloyd
    on everything when ``fit_sample_mod`` is None, else fit on the
    deterministic 1/m id-hash sample and assign via the Arrow numpy
    path (see semantic_dedup's docstring for when to scale the mod)."""
    from square_etl_spark.operators.clustering import (
        kmeans_assign_arrow,
        kmeans_fixed,
    )

    if fit_sample_mod is None:
        assign, _ = kmeans_fixed(emb, id_col, vec_col, k=k, iters=iters)
        return assign
    fit = emb.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(fit_sample_mod)) == 0
    )
    # re-densify ids so kmeans_fixed's "vid < k" seed rule sees the
    # sample's first k vectors; gw-ok: the window ranks only the
    # bounded fit sample (1/m of the corpus by contract), not the
    # corpus itself
    refit = fit.select(
        (
            F.row_number().over(Window.orderBy(F.col(id_col))) - 1
        ).alias("__fid"),
        F.col(vec_col).alias("__fv"),
    ).repartition(
        emb.sparkSession.sparkContext.defaultParallelism,
        F.col("__fid"),
    )
    # ^ the global window collapses the sample to ONE partition;
    # without the repartition the fit's whole map side (explode +
    # decimal partial aggs) runs single-threaded (measured 4.5x on
    # the k=80 fit, SCALING.md "Round-9 SemDeDup blocking sweep").
    # The partition COUNT is explicit because AQE coalesces a
    # column-only repartition of a small sample right back to one
    # partition (measured).
    _, cent = kmeans_fixed(refit, "__fid", "__fv", k=k, iters=iters)
    # localCheckpoint: the pair stage self-joins on the assignment,
    # so an unchecked mapInPandas lineage would re-run the Python
    # workers once per branch (measured 3.9x at 40k vectors in
    # SCALING.md "Round-9 SemDeDup blocking sweep") — same
    # discipline as the exact path, whose assignment kmeans_fixed
    # checkpoints internally
    return (
        kmeans_assign_arrow(emb, cent, id_col, vec_col)
        .select("vid", "c")
        .localCheckpoint(eager=True)
    )


def semantic_fit_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    update_rounds: int = 1,
    fit_sample_mod: int | None = None,
) -> DataFrame:
    """SemDeDup's FIT stage alone — run it once, publish the k×d
    ``(c, dim, cval)`` relation with :func:`io.versioned_write`, and
    let every ingest batch assign against the stored artifact via
    :func:`clustering.kmeans_assign_exact` (or the Arrow path).  This
    is the amortization the r09c sweep prescribed: the Lloyd fit is
    the one super-linear stage left in the semantic-dedup path, and
    in production it is paid ONCE per model/corpus epoch, not per
    batch — per-batch cost collapses to one broadcast-join assignment
    pass (measured flat, SCALING.md "Round-10 sweeps").

    ``update_rounds`` = number of Lloyd UPDATE steps (fit with n-1
    updates + one stored-centroid assignment ≡ ``kmeans_fixed(
    iters=n)`` end-to-end — the equality the shared oracle pins).
    ``fit_sample_mod`` fits on the deterministic 1/m id-hash sample
    (re-densified ids, parallelized — semantic_block_assign's
    sampled-fit posture)."""
    from square_etl_spark.operators.clustering import kmeans_fixed

    if fit_sample_mod is None:
        _, cent = kmeans_fixed(
            emb, id_col, vec_col, k=k, iters=update_rounds
        )
        return cent
    fit = emb.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(fit_sample_mod)) == 0
    )
    # gw-ok: the window ranks only the bounded fit sample (1/m of the
    # corpus by contract); see semantic_block_assign for the
    # repartition rationale
    refit = fit.select(
        (
            F.row_number().over(Window.orderBy(F.col(id_col))) - 1
        ).alias("__fid"),
        F.col(vec_col).alias("__fv"),
    ).repartition(
        emb.sparkSession.sparkContext.defaultParallelism,
        F.col("__fid"),
    )
    _, cent = kmeans_fixed(refit, "__fid", "__fv", k=k, iters=update_rounds)
    return cent


def incremental_semantic_dedup(
    state: DataFrame | None,
    batch: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    dim: int | None = None,
    arrow_assign: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup against an EXISTING corpus — the continuous-ingest
    posture for semantic dedup: assign the batch to the STORED
    centroid blocks (:func:`clustering.kmeans_assign_exact`; no
    re-fit, no old-corpus rescan), prune a batch vector when any
    same-cluster SMALLER-ID vector (already-ingested or earlier in
    this batch) sits above the cosine threshold, and extend the
    state.

    Returns ``(labeled, new_state)``: ``labeled`` = (id, cluster,
    kept) for THIS batch — unioning every batch's ``labeled`` equals
    the one-shot :func:`semantic_dedup` of everything, pinned by the
    shared oracle of ``dedup_semantic_incremental`` — and
    ``new_state`` = (vid, c, __nv), the assignment + unit-normalized
    vectors of everything ingested (localCheckpoint/persist it per
    batch; lineage grows per fold otherwise, the
    incremental_exact_dedup note).

    CONTRACT: ingest batches in ascending-id order (state ids <
    batch ids).  The prune rule is pure id precedence, so id-ordered
    ingest makes fold ≡ one-shot exactly; out-of-order ingest would
    need retroactive pruning of state members (a different operator).
    State carries the normalized vectors because SemDeDup's one-shot
    rule prunes against ALL smaller-id cluster-mates, kept or pruned
    — a kept-only state would under-prune (a,b,c chains where b is
    pruned by a but c is only near b).

    Per-batch cost: one assignment pass over the batch + one
    cluster-equi-join of the batch against state∪batch — the
    candidates→verify shape; old vectors are touched as stored
    state rows only, never recomputed.  ``arrow_assign=True`` swaps
    the decimal-exact assignment for the numpy fast path
    (clustering.kmeans_assign_arrow) — at scaled k (∝ corpus) the
    exact long-form join is batch·d·k rows and dominates; the Arrow
    path keeps per-batch cost flat (measured in SCALING.md
    "Round-10 sweeps").  The exact path stays the oracle-checked default."""
    from square_etl_spark.operators.clustering import (
        kmeans_assign_arrow,
        kmeans_assign_exact,
    )
    from square_etl_spark.operators.similarity import dot, normalize

    if arrow_assign:
        assign = kmeans_assign_arrow(batch, centroids, id_col, vec_col)
    else:
        assign = kmeans_assign_exact(batch, centroids, id_col, vec_col)
    tagged = (
        batch.select(
            F.col(id_col).alias("vid"), normalize(F.col(vec_col)).alias("__nv")
        )
        .join(assign.select("vid", "c"), "vid")
        .select("vid", "c", "__nv")
        # localCheckpoint (r16): consumed three ways below (the probe
        # side of the pair join, the state union, the label join) —
        # see semantic_dedup
        .localCheckpoint(eager=False)
    )
    others = tagged if state is None else state.unionByName(tagged)
    # HOF dot regardless of dim (r16): over the checkpointed
    # normalized vectors the unrolled chain falls out of JIT in the
    # pair-join shape — see embedding_cosine_pairs_bucketed (values
    # bit-identical, same accumulation order)
    sim = dot(F.col("__va"), F.col("__vb"))
    pruned = (
        others.select(F.col("vid").alias("id_a"), F.col("__nv").alias("__va"), "c")
        .join(
            tagged.select(
                F.col("vid").alias("id_b"), F.col("__nv").alias("__vb"), "c"
            ),
            "c",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__s", F.round(sim, 6))
        .filter(F.col("__s") >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    labeled = tagged.join(pruned, "vid", "left").select(
        F.col("vid").alias(id_col),
        F.col("c").cast("long").alias("cluster"),
        (~F.coalesce(F.col("__dup"), F.lit(False))).alias("kept"),
    )
    return labeled, others


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.35,
    dim: int | None = None,
    fit_sample_mod: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means clusters over the embedding space ARE
    the candidate blocks — pairwise cosine is computed only WITHIN a
    cluster, and a vector is pruned when a smaller-id cluster-mate
    sits above the similarity threshold (first-wins, the same
    deterministic survivor policy as the text-side dedup family).

    Distinct from the sign-LSH path (:func:`embedding_cosine_pairs_
    bucketed`): LSH buckets are similarity-preserving HASHES with
    tunable recall, while k-means blocks are DATA-ADAPTIVE — dense
    semantic regions land in one cluster, so the block boundaries
    follow the corpus's own structure (the published SemDeDup
    design).  Pruning is within-block only, so recall against the
    exhaustive pair set is bounded by cluster granularity — the
    documented trade the paper makes.

    Exactness: clustering is the fixed-iteration exact Lloyd of
    clustering.kmeans_fixed (decimal-summed distances, total-order
    argmin), cosine is the rounded dot of unit-normalized vectors —
    every step cross-engine reproducible, so the WHOLE composition
    (two Lloyd iterations → blocking → prune) is oracle-checkable.

    Scale shape: assignment is a broadcast(k×d) join + one grouped
    shuffle per iteration; the pair stage is an EQUI-join on the
    cluster label (never a global cross product).  At 100 TB raise
    ``k`` with corpus size (k ≈ N / target-block-size, the paper
    runs k in the tens of thousands) so per-cluster membership stays
    bounded — per-block cost is O(Σ |cluster|²·d), the same
    candidates→verify discipline as every other near-dup operator
    here.  Returns one row per vector: (id, cluster, kept).

    The exact long-form assignment join is itself O(N·d·k) rows, so
    k ∝ N makes the ASSIGNMENT quadratic (measured:
    SCALING.md "Round-9 SemDeDup blocking sweep") — at large k pass
    ``fit_sample_mod=m`` to fit the centroids on the deterministic 1/m
    subset
    (xxhash64(id) % m == 0, re-densified ids for the vid<k seed rule)
    and assign EVERY vector with the Arrow numpy fast path
    (clustering.kmeans_assign_arrow, broadcast k×d matrix, per-row
    work) — the SemDeDup paper's own fit-on-sample posture.  The
    exact path stays the oracle-checked default; arrow≡exact
    assignment agreement is pinned in test_clustering.

    At production dims, scale ``fit_sample_mod`` to pin the fit
    sample SIZE (≈ n/5000), not the fraction: a fixed-fraction sample
    with k ∝ N makes the FIT itself quadratic ((N/m)·d·k rows), which
    at 256-d dominates the whole path — measured in
    SCALING.md "Round-9 SemDeDup at 256-d" (113.8 s vs 50.9 s at
    160 k vectors).
    """
    from square_etl_spark.operators.similarity import dot, normalize

    if centroids is not None:
        # fit-once/assign-many: blocks come from the STORED centroid
        # artifact (semantic_fit_centroids + io.versioned_write), so
        # this call pays only one assignment pass.  k/iters/
        # fit_sample_mod are fit-stage knobs with no effect here —
        # passing a non-default value alongside centroids is a caller
        # bug that used to be swallowed silently (r10 ADVICE item).
        # Compare against the SIGNATURE's own defaults so a future
        # default change can't silently desynchronize the guard
        import inspect

        _params = inspect.signature(semantic_dedup).parameters
        _defaults = tuple(
            _params[p].default for p in ("k", "iters", "fit_sample_mod")
        )
        if (k, iters, fit_sample_mod) != _defaults:
            raise ValueError(
                "semantic_dedup: k/iters/fit_sample_mod are fit-stage "
                "knobs and have no effect when centroids= is supplied "
                "— fit them into the centroid artifact via "
                "semantic_fit_centroids instead"
            )
        from square_etl_spark.operators.clustering import kmeans_assign_exact

        assign = kmeans_assign_exact(emb, centroids, id_col, vec_col)
    else:
        assign = semantic_block_assign(
            emb, id_col, vec_col, k=k, iters=iters,
            fit_sample_mod=fit_sample_mod,
        )
    normed = emb.select(
        F.col(id_col).alias("vid"), normalize(F.col(vec_col)).alias("__nv")
    )
    # localCheckpoint (r16, guide §5): tagged is consumed THREE times
    # (both sides of the pair self-join + the final label join) — each
    # consumer otherwise re-runs the normalize pass and the
    # assignment join over the corpus
    tagged = normed.join(assign.select("vid", "c"), "vid").localCheckpoint(
        eager=False
    )
    a = tagged.select(
        F.col("vid").alias("id_a"), F.col("__nv").alias("__va"), "c"
    )
    b = tagged.select(
        F.col("vid").alias("id_b"), F.col("__nv").alias("__vb"), "c"
    )
    # HOF dot regardless of dim (r16): over the checkpointed
    # normalized vectors the unrolled chain falls out of JIT in the
    # pair-join shape — see embedding_cosine_pairs_bucketed (values
    # bit-identical, same accumulation order)
    sim = dot(F.col("__va"), F.col("__vb"))
    pruned = (
        a.join(b, "c")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__s", F.round(sim, 6))
        .filter(F.col("__s") >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return tagged.join(pruned, "vid", "left").select(
        F.col("vid").alias(id_col),
        F.col("c").cast("long").alias("cluster"),
        (~F.coalesce(F.col("__dup"), F.lit(False))).alias("kept"),
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    algorithm: str = "min_label",
    stats: dict | None = None,
) -> DataFrame:
    """Collapse near-dup pairs into clusters (connected components).
    Returns one row per node that appears in any pair:
    (doc_id, cluster_id) where cluster_id is the minimum id reachable
    in the component — which makes the cluster id itself the
    canonical-survivor id for dedup.

    Two algorithms, same result (property-pinned to a union-find
    oracle): ``"min_label"`` (default) — neighbor-min propagation,
    O(diameter) rounds at ~2 shuffles/round; ``"star"`` — alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", ACM SoCC'14), ~log(diameter) rounds at ~4
    shuffles/round.  Near-dup graphs are shallow (cliques/short
    chains, diameter 2–4), where min_label's cheaper rounds win —
    measured at sf0.1: 3.3 s vs 3.8 s warm, both 2 rounds.  Pick
    ``star`` when components can be deep (transitive chains, link
    graphs): on a 16-hop chain it needs ≤8 rounds vs 16 (pinned in
    tests/test_dedup_text.py).  Each round of either is equi-joins/
    aggregations keyed by node id; at scale co-partitioning on that
    key makes rounds local.

    ``min_label`` computes round 1 from the edges alone (every label
    starts as the node id, so round 1 is ``least(node, min(dst))`` per
    ``src``), with its change count observed on the same checkpoint
    job; only rounds 2+ join labels back onto the edges.  Round 1
    always runs, so ``rounds`` is at least 1 — an empty edge set stops
    there.

    ``stats``, if given, is populated in place with ``{"algorithm",
    "rounds"}`` — per-call observability (a module global here would
    race if two CC runs interleaved on one driver).
    """
    if algorithm == "star":
        return _cc_star(pairs, id_a, id_b, max_iterations, stats)
    if algorithm != "min_label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # localCheckpoint (not just persist) each round: an iterative plan
    # otherwise grows one join-layer per round and Catalyst re-analyzes
    # the whole tree every iteration — O(rounds²) planning.  Truncating
    # the lineage keeps every round's plan constant-size (and is the
    # fault-tolerance boundary a long-running cluster job wants anyway).
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Round 1 needs no join: every label starts as the node id, so a
    # node's first label is least(node, min neighbour) straight from the
    # edges — no identity-label table to materialize.
    obs = Observation()
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__m"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__m")).alias("label"),
        )
        .observe(obs, _cc_changed("node"))
        .localCheckpoint(eager=True)
    )
    changed = obs.get["changed"]
    rounds = 1
    while changed and rounds < max_iterations:
        rounds += 1
        nbr = edges.join(
            labels.withColumnRenamed("node", "dst"), on="dst"
        ).select(F.col("src").alias("node"), "label")
        # one job per round: the convergence count (nodes whose label
        # shrank) rides the checkpoint materialization as an
        # Observation instead of a separate join+count job.  The old
        # label travels through the same aggregation (w=1 marks it),
        # so no second shuffle either.
        combined = labels.select(
            "node", F.col("label").alias("lbl"), F.lit(1).alias("w")
        ).unionByName(
            nbr.select("node", F.col("label").alias("lbl"), F.lit(0).alias("w"))
        )
        obs = Observation()
        labels = (
            combined.groupBy("node")
            .agg(
                F.min("lbl").alias("label"),
                F.max(F.when(F.col("w") == 1, F.col("lbl"))).alias("__old"),
            )
            .observe(obs, _cc_changed("__old"))
            .drop("__old")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["changed"]
    if stats is not None:
        stats.update(algorithm="min_label", rounds=rounds)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _cc_changed(old: str) -> Column:
    """Observed count of nodes whose ``label`` fell below ``old``.
    coalesce: SUM over zero rows is NULL, and an empty edge set would
    otherwise never satisfy changed == 0 (r03 ADVICE)."""
    return F.coalesce(
        F.sum(F.when(F.col("label") < F.col(old), 1).otherwise(0)), F.lit(0)
    ).alias("changed")


def _cc_star(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_iterations: int,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star rounds until the edge set
    reaches its fixpoint (per-component stars centered at the minimum
    node).  One round = large-star (hook every bigger-than-center
    neighbor to the local minimum) then small-star (contract the
    smaller neighbors onto it):

      large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
      small-star(u) on (big → small)-oriented edges:
                     m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u) ∪ {u}, v ≠ m

    Every operation is an equi-join or aggregation on node id — no
    label table to carry, and the edge set shrinks toward |V|−#roots,
    so late rounds are cheap.  Convergence detection: (count,
    hash-sum) checksum of the edge set, one action per round riding
    the same materialization the loop needs anyway.  Lineage is
    truncated per round (localCheckpoint) for the same O(rounds²)
    planning reason as the min-label loop.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sum: tuple | None = None
    rounds = 0
    for rounds in range(1, max_iterations + 1):
        # large-star over the symmetric neighbor relation
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # after large-star every edge already points big → small
        # (m ≤ u < v), which is exactly small-star's orientation
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, on="u")
            .select(F.col("v").alias("nu"), F.col("m").alias("nv"))
            .unionByName(
                mins2.select(F.col("u").alias("nu"), F.col("m").alias("nv"))
            )
            .filter(F.col("nu") != F.col("nv"))
            .select(F.col("nu").alias("u"), F.col("nv").alias("v"))
            .distinct()
        )
        # bit_xor, not sum: order-insensitive over the distinct edge
        # set and cannot overflow under ANSI arithmetic.  The checksum
        # rides the checkpoint job as an Observation — no extra action.
        obs = Observation()
        edges = small.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).localCheckpoint(eager=True)
        check = obs.get
        cur_sum = (check["n"], check["h"])
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    if stats is not None:
        stats.update(algorithm="star", rounds=rounds)
    # fixpoint edges are (node → component-min); roots label themselves
    return (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .unionByName(
            edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
        )
        .distinct()
    )


def simhash_word_hashes(col: str = "text") -> F.Column:
    """Per-token 64-bit portable hashes — the materialization producer
    for :func:`simhash64_from_hashes` (the r12 HOF-capture rule: a
    lambda may capture attributes and literals, never an expensive
    subtree — alias THIS as a real column at the call site).

    Engine-portable 64-bit token hash (r05: replaced Spark's seeded
    xxhash64): the first 16 hex chars of md5, assembled from two
    32-bit halves with shiftleft/bitwiseOR — bit ops don't ANSI-
    overflow, bit 63 just lands in the sign.  Any engine with md5
    reproduces the signature; the `dedup_simhash` DuckDB oracle
    recomputes the whole pipeline from these bits."""
    return F.transform(_simhash_tokens(F.col(col)), _simhash_h64)


def _simhash_tokens(text: F.Column) -> F.Column:
    """SimHash's tokenizer: the whitespace split of the trimmed text,
    empty tokens dropped."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != F.lit(""))


def _simhash_h64(token: F.Column) -> F.Column:
    """SimHash's portable 64-bit token hash: the first 16 hex chars of
    md5, assembled from two 32-bit halves."""
    hi = F.conv(F.substring(F.md5(token), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(token), 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash64_from_hashes(hashes: F.Column | str) -> F.Column:
    """64-bit SimHash signature from a MATERIALIZED token-hash array
    (:func:`simhash_word_hashes` aliased as a real column).

    Each hash bit votes +1/−1 per token; signature bit i is 1 iff the
    vote sum is positive.  Pure higher-order functions — O(tokens·64)
    interpreted lambda evaluations per row, because HOFs never enter
    whole-stage codegen: this column form costs ~26 s on the sf0.1
    signature pass REGARDLESS of whether the hash array is hoisted
    (measured, SCALING.md round-13 — the capture tax is not the
    dominant term here, the per-bit interpreted folds are).  Relation
    paths use :func:`simhash_signatures` instead (1.4 s, bit-equal);
    this stays as the column-level spec both are pinned against."""
    hashes = F.col(hashes) if isinstance(hashes, str) else hashes
    bits = F.sequence(F.lit(0), F.lit(63))
    # vote per bit: sum over tokens of (bit set ? +1 : −1) > 0
    votes = F.transform(
        bits,
        lambda i: F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(F.getbit(h, i) == 1, 1).otherwise(-1),
        ),
    )
    # assemble the signature by OR-ing 2^i for positive-vote bits;
    # bit 63's power is long-min in two's complement (1<<63 overflows).
    pow2 = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            for i in range(64)
        ]
    )
    return F.aggregate(
        F.zip_with(
            votes,
            pow2,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash64(col: str = "text") -> F.Column:
    """One-expression convenience composition — SMALL INPUTS ONLY.
    64 interpreted per-bit HOF aggregates per row (HOFs never enter
    whole-stage codegen), measured ~26 s for the sf0.1 signature pass
    alone.  Hot paths use the RELATION-level
    :func:`simhash_signatures` — explode + one codegen'd 64-column
    conditional-sum aggregation, bit-identical values (what
    :func:`simhash_near_dup_pairs` does; SCALING.md round-13)."""
    return simhash64_from_hashes(simhash_word_hashes(col))


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """(id, sig): 64-bit SimHash per document, the SCALE shape.

    PRECONDITION: ``id_col`` uniquely identifies a document.  The
    groupBy collapses repeated ids into ONE signature over the union
    of their tokens — unlike a per-row ``simhash64`` select, which
    emits one signature per input row.  Callers whose frames may carry
    duplicate ids must de-duplicate (or re-key) first; this is the
    same contract every (id → signature) relation in this module has.

    One explode of the materialized token-hash array + ONE groupBy
    with 64 conditional sums — everything whole-stage codegen with
    map-side partial aggregation (shuffle carries one 64-counter row
    per doc per partition), versus :func:`simhash64`'s 64 interpreted
    HOF passes per row (measured 26 s → 1.4 s for the sf0.1 signature
    pass, outputs bit-identical — SCALING.md round-13).

    ``explode_outer`` keeps token-less documents: their single NULL
    hash row votes −1 on every bit (``getbit(NULL)`` is NULL → the
    CASE's else branch), so no vote is positive and the signature is
    0 — exactly :func:`simhash64`'s empty-array fold.

    The 64-bit token hash is computed AFTER the explode (r17): inside
    :func:`simhash_word_hashes`'s ``transform`` lambda it runs as
    interpreted HOF eval with ``md5(t)`` re-evaluated for each 32-bit
    half (the r12 capture rule — a lambda re-evaluates its subtree
    per reference); as a plain projection over the exploded token it
    whole-stage-codegens with common-subexpression elimination, one
    md5 per token.  Values identical: same tokens (explode_outer of
    the filtered split), same per-token arithmetic, and a token-less
    doc's NULL token row hashes to NULL exactly like the old NULL
    hash row (pinned by the relation≡column-spec test).

    Each of the 64 votes and the signature's left-deep OR chain is
    built from one SQL string (``F.expr``), not from Column calls: the
    driver makes a few hundred py4j round trips per build instead of
    ~10 000, and the optimized plan is identical
    (``plans/driver_cost/dedup_simhash_{before,after}.txt``)."""
    words = _simhash_tokens(F.col(content_col))
    raw = df.select(F.col(id_col), F.explode_outer(words).alias("__w"))
    toks = raw.select(F.col(id_col), _simhash_h64(F.col("__w")).alias("__h"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN getbit(__h, {i}) = 1 THEN 1 ELSE -1 END)"
                f" AS __v{i}"
            )
            for i in range(64)
        ]
    )
    # left-deep OR of 2^i for positive-vote bits; bit 63's power is
    # long-min in two's complement (1<<63 overflows)
    pow2 = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]
    sig = " | ".join(
        ["CAST(0 AS BIGINT)"]
        + [
            f"CASE WHEN __v{i} > 0 THEN CAST({p} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
            for i, p in enumerate(pow2)
        ]
    )
    return votes.select(F.col(id_col), F.expr(sig).alias("sig"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup: candidates via 16-bit band buckets, verified
    by exact Hamming distance.

    PRECONDITION (inherited from :func:`simhash_signatures`):
    ``id_col`` is unique per document — repeated ids yield one merged
    signature, changing the pair output versus per-row hashing.

    Pigeonhole: two signatures within Hamming distance ≤ 3 are
    GUARANTEED to share one of the four 16-bit bands exactly; for
    larger distances a clean band is the usual case but not certain
    (the differing bits must spread across all four bands to evade
    it) — standard banded-LSH recall semantics.  Either way the
    candidate join is an
    equi-join on (band index, band value) — no cross join.  Band
    buckets are the shuffle key; a degenerate band (e.g. all-zero from
    empty docs) is the skew hazard, same mitigation as any hot key.
    """
    sigs = simhash_signatures(df, id_col, content_col)
    bands = sigs.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("sig"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bv"),
    ).select(id_col, "sig", "bv.band", "bv.val")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(b, on=["band", "val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


#: fixed permutation constants for the portable minhash family
#: h_i(x) = (A[i]·x + B[i]) mod P over 32-bit shingle hashes.  A < 2^25
#: keeps A·x < 2^57, so ANSI mode never sees a long overflow; embedded
#: verbatim in the `dedup_minhash_lsh` DuckDB oracle.
MINHASH_P = 2147483647  # 2^31 − 1
MINHASH_A = [
    26887927, 13674783, 24414285, 16429969, 12934123, 11369591,
    10282127, 20646303, 27058393, 28963181, 2127103, 13680389,
    13146667, 25134127, 8403341, 22928615,
]
MINHASH_B = [
    1211867255, 581458994, 179161648, 933453965, 1791899561, 140351864,
    841969008, 1594477002, 551354163, 787215454, 1142722558, 678078693,
    1020593517, 231276609, 535126606, 1352911147,
]
_PORTABLE_MASK = (1 << 57) - 1


def _minhash_constants(k: int) -> tuple[list[int], list[int]]:
    """Permutation constants for ``k`` minhash functions: the first 16
    are the literal :data:`MINHASH_A`/:data:`MINHASH_B` (embedded
    verbatim in the ``dedup_minhash_lsh`` DuckDB oracle — they must
    never change), and any further constants are generated by a fixed
    64-bit LCG so arbitrary ``k`` (32/64 permutations for tighter
    Jaccard estimates) works deterministically with the same
    guarantees: A in [1, 2^25) keeps A·x < 2^57 overflow-free in ANSI
    mode, B in [0, P)."""
    a, b = list(MINHASH_A), list(MINHASH_B)
    x = 0x5DEECE66D  # fixed seed: constants are part of the contract
    while len(a) < k:
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        ai = (x >> 24) % ((1 << 25) - 1) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        bi = (x >> 24) % MINHASH_P
        a.append(ai)
        b.append(bi)
    return a[:k], b[:k]


def portable_word_shingles(
    col: str, n: int = 3, distinct: bool = True
) -> F.Column:
    """Word n-grams as 57-bit ENGINE-PORTABLE hashes
    (``array<long>``): per-word hash = first 32 md5 bits, adjacent
    word hashes chained with the masked 31-polynomial — the same md5
    recipe as :func:`square_etl_spark.operators.text.fingerprint64`,
    reproducible by any engine with md5 (the `dedup_minhash_lsh`
    DuckDB oracle recomputes it).  Same zip_with-over-slices shape as
    :func:`hashed_word_shingles` (n array slices per document, not one
    per shingle); that sibling keeps xxhash64 for the queries whose
    oracles compare on shingle STRINGS and never need the values.
    ``distinct=True`` (the dedup default) collapses repeats;
    ``distinct=False`` keeps multiplicities in document order — the
    feature-COUNT view distribution estimators (DSIR) need."""
    return shingles_from_word_hashes(
        word_hashes(col, portable=True), n, portable=True,
        distinct=distinct,
    )


def _banded_minhash_expr(num_hashes: int, bands: int) -> F.Column:
    """``array<long>`` of the ``bands`` band hashes for the shingle
    array in column ``sh`` — each band computes ONLY ITS OWN r = k/b
    minhashes inside its lambda.  The previous shape computed all k
    minhashes once and sliced them per band, but a HOF lambda
    re-evaluates its captured subtree per outer element (the r12
    sign-LSH finding), so the k×|sh| hash work ran ``bands`` times:
    measured 2.2 s → 0.9 s on 40k docs at k=16/b=8, values
    bit-identical (band-local seeds cover the same index range, same
    affine family, same fold).  Total runtime work is now exactly
    k×|sh| hash evaluations per row."""
    r = num_hashes // bands
    assert bands * r == num_hashes, "bands must divide num_hashes"
    mh_a, mh_b = _minhash_constants(num_hashes)
    a_lit = F.array(*[F.lit(a).cast("long") for a in mh_a])
    b_lit = F.array(*[F.lit(b).cast("long") for b in mh_b])
    lo32 = F.lit(0xFFFFFFFF)
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))

    def band_minhashes(b: F.Column) -> F.Column:
        seeds = F.sequence(b * F.lit(r), b * F.lit(r) + F.lit(r - 1))
        return F.transform(
            seeds,
            lambda i: F.array_min(
                F.transform(
                    F.col("sh"),
                    lambda s: (
                        F.element_at(a_lit, i + 1) * s.bitwiseAND(lo32)
                        + F.element_at(b_lit, i + 1)
                    ) % F.lit(MINHASH_P),
                )
            ),
        )

    return F.transform(
        band_idx,
        lambda b: F.aggregate(
            band_minhashes(b),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * F.lit(31) + x).bitwiseAND(
                F.lit(_PORTABLE_MASK)
            ),
        ),
    )



def minhash_banded_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    bucket_cap: int = 200,
) -> DataFrame:
    """MinHash + banded LSH near-dup, pure DataFrame ops, skew-guarded.

    Rationale: spark.ml's ``MinHashLSH.approxSimilarityJoin`` has no
    control over hot buckets — measured on a zipf corpus its candidate
    join grows superlinearly (tools/scaling.py: 12 s @ 5 k docs →
    89 s @ 20 k).  This implementation owns every stage:

    1. shingle each doc once into hashed 3-gram sets
       (:func:`portable_word_shingles` — md5-based, so the DuckDB
       oracle recomputes the identical values);
    2. k minhashes per doc in ONE higher-order expression — no
       per-hash shuffle, no ml.Vector conversion;
    3. group the k minhashes into ``bands`` bands of k/bands rows;
       band hash = fold of its minhashes; explode → (band, hash, id);
    4. **bucket-size cap**: buckets holding > ``bucket_cap`` docs are
       dropped before the self-join (broadcast anti join).  A bucket of
       d docs yields d² candidates; the cap bounds the pair space the
       same way the n-gram df_cap does — this is the knob spark.ml
       lacks, and near-dup recall is unaffected in practice because a
       bucket that hot is a stop-pattern, not a duplicate cluster;
    5. distinct candidate pairs from in-bucket self-join;
    6. EXACT verification: join candidates back to the shingle arrays,
       jaccard = |A∩B| / |A∪B| via array_intersect/array_union (docs'
       shingle sets are small; this is a map-side HOF, no shuffle
       amplification), filter ≥ threshold.

    Emitted jaccard values are exact (unlike approxSimilarityJoin's
    estimate); the minhash stage only prunes candidates.  Recall is
    governed by (num_hashes, bands): P(candidate) = 1-(1-s^r)^b for
    similarity s with r = num_hashes/bands rows per band.
    """
    # localCheckpoint, not persist: ContextCleaner-scoped blocks, no
    # session-lifetime CacheManager pin (r08-advice leak pattern)
    sh = (
        df.withColumn("__hw", word_hashes(content_col, portable=True))
        .select(
            F.col(id_col),
            shingles_from_word_hashes("__hw", 3, portable=True).alias(
                "sh"
            ),
        )
        .filter(F.size("sh") > 0)
        .localCheckpoint(eager=True)
    )

    # portable permutation family over the 32 low bits of each shingle
    # hash (r05: replaced seeded xxhash64 so the DuckDB oracle can
    # recompute every stage): h_i(s) = (A[i]·(s & 0xFFFFFFFF) + B[i])
    # mod P — all intermediates < 2^57, ANSI-overflow-free.
    buckets = sh.select(
        id_col,
        F.posexplode(_banded_minhash_expr(num_hashes, bands)).alias(
            "band", "bhash"
        ),
    )
    hot = (
        buckets.groupBy("band", "bhash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > bucket_cap)
        .select("band", "bhash")
    )
    # bcast-ok: hot-bucket list, ≤ |rows|/bucket_cap buckets by cap arithmetic
    buckets = buckets.join(F.broadcast(hot), on=["band", "bhash"], how="left_anti")
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(b, on=["band", "bhash"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    # |A∪B| = |A| + |B| − |A∩B| on the distinct shingle sets — same
    # integers, bit-identical division, one array op per pair (r17)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (
        cands.join(sa, on="id_a")
        .join(sb, on="id_b")
        .withColumn(
            "jaccard",
            F.round(
                inter / (F.size("sh_a") + F.size("sh_b") - inter), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 64,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH near-dup via spark.ml (HashingTF shingle vectors →
    MinHashLSH → approxSimilarityJoin).  Distance is 1 − estimated
    Jaccard.  Deterministic for a fixed seed.  The banded OR-join
    inside approxSimilarityJoin is the scale path: candidate pairs are
    generated by equi-joining band buckets, never by cross product.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sized = df.select(
        F.col(id_col), word_shingles(content_col, 3).alias("shingles")
    ).filter(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(sized)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=seed
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, 1.0 - threshold, distCol="jaccard_dist"
    )
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round(F.lit(1.0) - F.col("jaccard_dist"), 6).alias("est_jaccard"),
        )
    )


def survivor_selection(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "q",
) -> DataFrame:
    """Canonical-survivor pick — the step a real dedup pipeline runs
    AFTER near-dup clustering: instead of dropping whole clusters
    (the decontamination posture) keep exactly ONE member per cluster,
    the highest-quality one (ties break to the smallest id, so the
    choice is deterministic and reproducible).

    ``df`` must carry ``quality_col``; ``pairs`` is any near-dup pair
    relation (``id_a``/``id_b``).  Docs appearing in no pair are their
    own singleton cluster and always kept.  Returns every input row as
    (id, cluster_id, quality, keep) so callers can either filter
    ``keep`` for the surviving corpus or audit what was dropped and
    why — the survivors list IS the dedup decision, which is why
    quality must be deterministic (ours is the oracle-recomputable
    :func:`square_etl_spark.operators.text.quality_score`).

    Scale shape: clustering is :func:`connected_components` (iterative
    equi-joins on node id); the label join is key-sized; the argmax is
    ONE window over cluster_id — high-cardinality partition keys
    (mostly singletons), so no skew, and the per-cluster sort is tiny
    (near-dup clusters are small by construction once pair generation
    is capped).  Reference parity: the reference dedups by
    keyed upsert — last write wins per conflict key
    (src/etl-square-catalog.ts:91 ON CONFLICT ... DO UPDATE);
    survivor selection is that decision generalized to similarity
    clusters + an explicit quality policy."""
    # connected_components emits (doc_id, cluster_id) regardless of the
    # pair column names it was given — rename its key to id_col so a
    # caller's media_id/entity_id id actually joins (r06 review: the
    # parameter previously only worked for the default "doc_id")
    return survivor_from_labels(
        df, connected_components(pairs), id_col, quality_col
    )


def survivor_from_labels(
    df: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "q",
) -> DataFrame:
    """Survivor pick from a PRECOMPUTED (doc_id, cluster_id) labeling —
    the read side of incremental clustering: labels maintained by
    :func:`incremental_components` folds drive EXACTLY the decision
    one-shot :func:`survivor_selection` makes (pinned by the
    ``dedup_incremental_survivors`` oracle, which is the one-shot's).
    Same contract: docs absent from ``labels`` are their own singleton
    cluster and always kept; returns (id, cluster_id, quality, keep)."""
    clusters = labels.withColumnRenamed("doc_id", id_col)
    labeled = df.join(clusters, on=id_col, how="left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return labeled.select(
        id_col,
        "cluster_id",
        quality_col,
        (F.row_number().over(w) == 1).alias("keep"),
    )


def contamination_hits(
    df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    n: int = 3,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-document count of distinct word n-grams shared with a
    benchmark/eval set — the signal behind train/test decontamination.

    Emits (id_col, n_hits) for documents with ≥1 shared shingle.
    Plan shape: shingle both sides to 64-bit hashes
    (:func:`hashed_word_shingles`), collapse the benchmark side to a
    DISTINCT shingle set, and probe it.  With
    ``broadcast_benchmark=True`` (default) the probe is a **forced
    broadcast join** — correct ONLY when the benchmark is a fixed eval
    suite (thousands of docs) ≪ the corpus, so corpus-side postings
    are never shuffled: scan → explode → broadcast-join → partial-agg.
    When the "benchmark" side is itself corpus-sized (e.g. a leakage
    audit probing TEST docs against the 80% TRAIN split), pass
    ``broadcast_benchmark=False``: the probe runs as a plain shuffle
    equi-join on the shingle hash — the only shape that survives a
    corpus-linear right side at 100 TB (a forced broadcast of it is a
    guaranteed driver/executor OOM).
    A 64-bit shingle collision could count one phantom hit
    (≈1e-11 per shingle pair) — irrelevant for a thresholded filter.
    """
    corpus_sh = df.withColumn("__hw", word_hashes(content_col)).select(
        F.col(id_col),
        F.explode(shingles_from_word_hashes("__hw", n)).alias("sh"),
    )
    bench_sh = (
        benchmark_df.withColumn("__hw", word_hashes(content_col))
        .select(
            F.explode(shingles_from_word_hashes("__hw", n)).alias("sh")
        )
        .distinct()
    )
    if broadcast_benchmark:
        # bcast-ok: benchmark-suite shingle set (fixed eval suite ≪ corpus;
        # callers with corpus-sized right sides pass broadcast_benchmark=False)
        bench_sh = F.broadcast(bench_sh)
    return (
        corpus_sh.join(bench_sh, "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))  # corpus shingles are distinct per doc
    )


def decontaminate(
    df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Drop documents sharing ≥ ``min_hits`` distinct word n-grams with
    the benchmark set (left-anti join against :func:`contamination_hits`).
    The anti join is broadcast-able too: the contaminated-id list is at
    most benchmark-sized."""
    hits = contamination_hits(df, benchmark_df, id_col, content_col, n)
    flagged = hits.filter(F.col("n_hits") >= min_hits).select(id_col)
    # bcast-ok: contamination-hit id list (≥min_hits overlap with the
    # fixed benchmark suite), ≪ corpus per the docstring contract
    return df.join(F.broadcast(flagged), id_col, "left_anti")


def incremental_exact_dedup(
    state: DataFrame | None,
    batch: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Exact dedup against an EXISTING digest state — the
    continuous-crawl posture: every ingest batch is deduplicated
    against everything ever kept, without rescanning the old corpus
    (its text never moves again; only the 64-byte digest state does).

    Returns ``(kept, new_state)``: ``kept`` = a KEYS-SIZED
    ``(content_sha256, id_col)`` relation — one row per digest that
    wins first-per-digest WITHIN the batch (min id) and is absent
    from ``state``; callers wanting the winners' full rows join
    ``kept`` back to the batch on ``id_col`` (the text and other
    columns are deliberately not carried through the digest shuffle).
    ``new_state`` = ``state`` ∪ ``kept`` — the same keys-sized
    relation shape, mergeable, and exactly the monoid fold
    :func:`exact_dedup` computes in one shot (folding batches in
    ingest order ≡ one-shot dedup with batch-then-id precedence;
    pinned by the ``dedup_incremental_exact`` oracle).

    Scale shape: one groupBy on the digest per batch + one
    digest-keyed anti join against the state — both shuffle 64-byte
    keys, never documents.  State grows with DISTINCT content only.
    NOTE for long-running ingest loops: ``new_state`` is a lazy union
    over every fold so far — its lineage grows per batch.  Write the
    state to storage (or ``localCheckpoint``) each batch and read it
    back as the next fold's ``state`` to truncate lineage; that
    write-per-batch IS the deployment shape (the state is the
    durable dedup ledger, not a transient plan).
    """
    firsts = (
        batch.groupBy(content_digest(content_col).alias("content_sha256"))
        .agg(F.min(id_col).alias(id_col))
    )
    if state is not None:
        firsts = firsts.join(
            state.select("content_sha256"), "content_sha256", "left_anti"
        )
    new_state = (
        firsts if state is None
        else state.unionByName(firsts)
    )
    return firsts, new_state


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Materializable banded-MinHash LSH index of a corpus slice — the
    write-side half of incremental near-dup: ``(shingle_store,
    bucket_index)``.  ``shingle_store`` is (id, sh: array<long>) —
    the portable hashed shingle sets needed for exact verification;
    ``bucket_index`` is (id, band, bhash) — one row per (doc, band),
    the equi-join key space probes hit.  Both are written once at
    ingest (partition/bucket by ``bhash`` at deployment) and never
    require re-reading the old corpus text.

    Same portable arithmetic as :func:`minhash_banded_pairs` (md5
    shingles, affine permutations, 31-fold band hashes), so a DuckDB
    oracle recomputes every value.

    ``shingle_n`` picks the shingle granularity: 3 (default) for
    classic near-dup, 1 for bag-of-words similarity — the paraphrase-
    robust setting :func:`fuzzy_contamination_pairs` uses (reordered
    sentences keep their word SET, so unigram Jaccard survives edits
    that break every 3-gram).
    """
    # filter on the HASH array (≥ n words ⟺ ≥ 1 shingle) BEFORE the
    # shingle projection, and checkpoint the store: with the filter on
    # "sh", CollapseProject re-inlined the hoisted word-hash alias
    # into both the Filter and the Generate (3 tokenize+hash passes,
    # plan-pinned in test_plans), and an alias inlined into the band
    # lambda is re-evaluated per band at runtime.  eager=False: no job
    # until the index is first used; both returned relations then
    # share the one materialization (they are written out at ingest
    # in the deployment story anyway).
    sh = (
        df.withColumn("__hw", word_hashes(content_col, portable=True))
        .filter(F.size("__hw") >= shingle_n)
        .select(
            F.col(id_col),
            shingles_from_word_hashes(
                "__hw", shingle_n, portable=True
            ).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    buckets = sh.select(
        id_col,
        F.posexplode(_banded_minhash_expr(num_hashes, bands)).alias(
            "band", "bhash"
        ),
    )
    return sh, buckets


def write_minhash_index_bucketed(
    shingle_store: DataFrame,
    bucket_index: DataFrame,
    base_path: str,
    name: str,
    id_col: str = "doc_id",
    num_buckets: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """Persist a :func:`minhash_index` pair as BUCKETED tables — the
    write-once/probe-many deployment of incremental near-dup at corpus
    scale.  The bucket index is bucketed+sorted by ``(band, bhash)``,
    the probe join's full key set, so every probe's candidate join
    reads the index with ZERO Exchange: only the new batch (tiny)
    shuffles, the stored corpus index never moves again (pinned in
    test_bucketing).  The shingle store is bucketed by ``id_col`` for
    the same reason on the exact-verify join.

    Why both join keys and not just ``bhash``: Spark co-partitions a
    join only when a side's partitioning covers ALL the join's cluster
    keys (``spark.sql.requireAllClusterKeysForCoPartition`` defaults
    true) — a bhash-only bucketing still reshuffles the index side
    (measured: 2 exchanges vs 1).  ``(band, bhash)`` buckets are also
    strictly finer, so per-bucket skew is no worse.

    Returns the two DataFrames read back from the bucketed tables —
    pass them straight to :func:`minhash_probe`.
    """
    import os

    spark = bucket_index.sparkSession
    bt, st = f"{name}_buckets", f"{name}_shingles"
    # repartition on the bucket key BEFORE the bucketed write: Spark's
    # v1 bucketed writer emits one file per (writing task, bucket), so
    # an unaligned upstream yields tasks x buckets small files (32x32 =
    # 1024 measured) and the probe-side scan chokes on open overhead.
    # repartition uses the same murmur3 pmod as the bucket id, so each
    # task holds exactly one bucket -> one file per bucket.
    (
        bucket_index.repartition(num_buckets, "band", "bhash")
        .write.format("parquet")
        .bucketBy(num_buckets, "band", "bhash")
        .sortBy("band", "bhash")
        .option("path", os.path.join(base_path, bt))
        .mode("overwrite")
        .saveAsTable(bt)
    )
    (
        shingle_store.repartition(num_buckets, id_col)
        .write.format("parquet")
        .bucketBy(num_buckets, id_col)
        .sortBy(id_col)
        .option("path", os.path.join(base_path, st))
        .mode("overwrite")
        .saveAsTable(st)
    )
    return spark.table(st), spark.table(bt)


def minhash_probe(
    index_shingles: DataFrame,
    index_buckets: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    bucket_cap: int = 200,
    new_bucket_cap: int | None = None,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against an EXISTING
    :func:`minhash_index` — the incremental-ingest read path: the old
    corpus is touched only through its keys-sized index relations,
    never its text.  Emits (new_id, old_id, jaccard ≥ threshold),
    exact-verified on the stored shingle sets.

    Scale shape: the batch's bucket rows equi-join the index on
    (band, bhash) — with the index bucketed by bhash at write time
    this is a co-located join; hot buckets above ``bucket_cap`` are
    dropped on the INDEX side AND buckets above ``new_bucket_cap``
    (default: same as ``bucket_cap``) on the BATCH side (two
    broadcast anti joins, same cap arithmetic as
    :func:`minhash_banded_pairs`).  The batch-side cap matters when
    the ingest itself is skewed — e.g. thousands of near-identical
    boilerplate docs in one crawl batch land in one (band, bhash)
    bucket, and without the cap each joins up to ``bucket_cap`` index
    rows (r08 ADVICE item); in-batch dedup before probing also
    removes the skew, but the operator no longer relies on it.
    """
    if new_bucket_cap is None:
        new_bucket_cap = bucket_cap
    new_sh, new_buckets = minhash_index(
        batch, id_col, content_col, num_hashes, bands, shingle_n
    )
    hot = (
        index_buckets.groupBy("band", "bhash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > bucket_cap)
        .select("band", "bhash")
    )
    # bcast-ok: hot-bucket list, ≤ |index rows|/bucket_cap by cap arithmetic
    cool = index_buckets.join(
        F.broadcast(hot), on=["band", "bhash"], how="left_anti"
    )
    new_hot = (
        new_buckets.groupBy("band", "bhash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > new_bucket_cap)
        .select("band", "bhash")
    )
    # bcast-ok: batch-side hot-bucket list, ≤ |batch rows|/new_bucket_cap
    new_cool = new_buckets.join(
        F.broadcast(new_hot), on=["band", "bhash"], how="left_anti"
    )
    cands = (
        new_cool.select(
            F.col(id_col).alias("new_id"), "band", "bhash"
        )
        .join(
            cool.select(F.col(id_col).alias("old_id"), "band", "bhash"),
            on=["band", "bhash"],
        )
        .select("new_id", "old_id")
        .distinct()
    )
    sa = new_sh.select(F.col(id_col).alias("new_id"), F.col("sh").alias("sh_a"))
    sb = index_shingles.select(
        F.col(id_col).alias("old_id"), F.col("sh").alias("sh_b")
    )
    # |A∪B| arithmetic over the distinct stored shingle sets — see
    # minhash_banded_pairs (r17)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cands.join(sa, on="new_id")
        .join(sb, on="old_id")
        .withColumn(
            "jaccard",
            F.round(
                inter / (F.size("sh_a") + F.size("sh_b") - inter), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "old_id", "jaccard")
    )


def fuzzy_contamination_pairs(
    df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    bucket_cap: int = 200,
    shingle_n: int = 1,
) -> DataFrame:
    """NEAR-DUP train/test contamination pairs — the fuzzy complement
    of :func:`contamination_hits`: published pipelines also have to
    kill PARAPHRASED benchmark leakage (reordered sentences, light
    edits) that exact 13-gram overlap misses.  Composition of the
    incremental near-dup pieces with the roles cast for this problem:
    :func:`minhash_index` over the BENCHMARK suite (the fixed,
    eval-suite-sized side — the index is keys-sized and cheap to
    rebuild per release), then :func:`minhash_probe` with the CORPUS
    as the probe batch.  Emits ``(corpus_id, bench_id, jaccard ≥
    threshold)``, exact-verified on shingle sets.

    Default ``shingle_n = 1`` — UNIGRAM (bag-of-words) Jaccard, not
    the near-dup family's 3-grams: a paraphrase reorders sentences
    and swaps connectives, which destroys most 3-gram shingles while
    leaving the word SET nearly intact, so the decontamination net
    must be cast at the granularity the rewrite preserves (pass 3 to
    get the strict near-dup behavior back).

    Scale shape (the probe's, with the asymmetry reversed): the
    corpus side is touched by one linear shingle/minhash scan and a
    bucket equi-join against the benchmark-sized index — never
    corpus×corpus; hot-bucket caps on BOTH sides bound the candidate
    join (corpus boilerplate buckets are dropped by the batch-side
    cap, so candidates ≤ |bench bucket rows| × bucket_cap, i.e.
    benchmark-bounded however big the corpus is).
    """
    sh, idx = minhash_index(
        benchmark_df, id_col, content_col, num_hashes, bands, shingle_n
    )
    return minhash_probe(
        sh, idx, df, id_col, content_col,
        num_hashes, bands, threshold, bucket_cap,
        shingle_n=shingle_n,
    ).select(
        F.col("new_id").alias("corpus_id"),
        F.col("old_id").alias("bench_id"),
        "jaccard",
    )


def decontaminate_fuzzy(
    df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    bucket_cap: int = 200,
    shingle_n: int = 1,
) -> DataFrame:
    """Drop corpus documents that are NEAR-DUPS of any benchmark doc
    (jaccard ≥ ``threshold``) — kill semantics matching
    :func:`decontaminate`, candidates from
    :func:`fuzzy_contamination_pairs` (which also documents the
    unigram-shingle default).  The anti join's flagged-id list is
    benchmark-bounded by the probe's cap arithmetic (≤ |bench bucket
    rows| × bucket_cap candidates before the verify filter), so the
    broadcast stays safe at any corpus size."""
    pairs = fuzzy_contamination_pairs(
        df, benchmark_df, id_col, content_col,
        num_hashes, bands, threshold, bucket_cap, shingle_n,
    )
    flagged = pairs.select(F.col("corpus_id").alias(id_col)).distinct()
    # bcast-ok: near-dup-of-benchmark id list, benchmark-bounded by the
    # probe's two-sided hot-bucket cap arithmetic (see docstring)
    return df.join(F.broadcast(flagged), id_col, "left_anti")


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    span_words: int = 10,
) -> DataFrame:
    """Sub-document span dedup, C4-style: split every document into
    non-overlapping ``span_words``-word spans, keep only the FIRST
    corpus-wide occurrence of each distinct span (by doc id, then span
    position), and reassemble each document from its surviving spans —
    the pretraining-corpus pass that strips boilerplate paragraphs
    repeated across thousands of pages without dropping whole
    documents (doc-level dedup misses this; C4 did it at the
    three-sentence level).  A document whose every span is seen
    earlier disappears entirely — exact-dup docs degenerate to
    doc-level dedup.

    Shape: one split + span explode (map-side), one window rank
    partitioned by the span text (one shuffle carrying span text —
    at extreme scale partition by a span digest instead and rejoin,
    trading a second shuffle for narrow rows), one grouped
    reassembly sharing the doc key.  Returns
    (id, n_spans_kept, cleaned_text).
    """
    spans = _doc_spans(df, id_col, content_col, span_words)
    w = Window.partitionBy("span").orderBy(id_col, "idx")
    kept = spans.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") == 1
    )
    return _reassemble_spans(kept, id_col)


def _doc_spans(
    df: DataFrame, id_col: str, content_col: str, span_words: int
) -> DataFrame:
    """Split documents into non-overlapping ``span_words``-word spans:
    (id, idx, span) with idx 0-based — the shared explode of
    :func:`span_dedup` and :func:`incremental_span_dedup` (the two
    must span-ify identically or fold ≡ one-shot breaks)."""
    words = F.filter(
        F.split(F.trim(F.col(content_col)), r"\s+"), lambda w: w != F.lit("")
    )
    n_spans = F.ceil(F.size(words) / F.lit(span_words)).cast("int")
    return (
        df.select(F.col(id_col), words.alias("__w"), n_spans.alias("__ns"))
        .filter(F.col("__ns") > 0)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("__ns")),
                    lambda i: F.concat_ws(
                        " ",
                        F.slice(
                            F.col("__w"),
                            (i - 1) * span_words + 1,
                            span_words,
                        ),
                    ),
                )
            ).alias("idx", "span"),
        )
    )


def _reassemble_spans(kept_spans: DataFrame, id_col: str) -> DataFrame:
    """(id, idx, span) survivors → (id, n_spans_kept, cleaned_text),
    spans rejoined in position order."""
    return (
        kept_spans.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("idx", "span"))
                    ),
                    lambda s: s["span"],
                ),
            ).alias("cleaned_text"),
        )
    )


def incremental_components(
    labels: DataFrame | None,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    algorithm: str = "min_label",
) -> DataFrame:
    """Connected components maintained INCREMENTALLY — the cluster
    step of continuous-crawl dedup: fold a new batch's near-dup pairs
    into the EXISTING (doc_id, cluster_id) labeling without re-running
    CC over every pair ever emitted.  Completes the incremental family
    (exact digests, MinHash index probe, span digests → this).

    The existing labels ARE the old graph's equivalence relation, so
    CC over (label edges ∪ new pairs) equals CC over (all old pairs ∪
    new pairs) exactly — fold ≡ one-shot, pinned by the
    ``dedup_incremental_components`` oracle.  And because the label
    graph is a forest of 1-deep stars (every node points at its
    component minimum), the iteration converges in O(log new-diameter)
    rounds regardless of how deep the ORIGINAL components were: the
    state compresses history both in edge count (nodes, not pairs) and
    in diameter.  New edges may merge old clusters, link new docs in,
    or introduce new clusters; a new doc with a smaller id than an old
    cluster minimum correctly takes over as the canonical id.

    Returns the new labels (doc_id, cluster_id) over old ∪ new nodes —
    keys-sized state; write it per batch (like the other incremental
    states) to truncate lineage.
    """
    if labels is None:
        return connected_components(new_pairs, id_a, id_b,
                                    algorithm=algorithm)
    label_edges = labels.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(
        F.col("doc_id").alias(id_a), F.col("cluster_id").alias(id_b)
    )
    # self-labeled singletons (doc == cluster) carry no connectivity,
    # but must survive the fold as nodes: keep them via a 1-node
    # "edge" to themselves is NOT how connected_components models
    # nodes (pairs only) — re-attach them after the merge instead.
    merged = connected_components(
        label_edges.unionByName(
            new_pairs.select(F.col(id_a), F.col(id_b))
        ),
        id_a,
        id_b,
        algorithm=algorithm,
    )
    singletons = labels.filter(
        F.col("doc_id") == F.col("cluster_id")
    ).join(merged.select("doc_id"), "doc_id", "left_anti")
    return merged.unionByName(singletons)


def strip_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    span_words: int = 10,
    max_docs: int = 1,
) -> DataFrame:
    """Frequency-based boilerplate removal: drop EVERY occurrence of a
    span that appears in more than ``max_docs`` distinct documents —
    including the first (C4's actual policy for repeated spans was
    removal, not keep-one; :func:`span_dedup` is the keep-first
    variant, this is the kill-all variant — cookie banners and footer
    boilerplate carry no training signal even once).  Within-doc
    repetition alone does not trip the threshold: frequency is counted
    in DISTINCT documents.

    Shape: one span explode, one span-keyed distinct-doc count (the
    span relation, corpus-wide but span-vocabulary-sized), one anti
    join of occurrences against the over-threshold spans, one grouped
    reassembly.  Returns (id, n_spans_kept, cleaned_text); a document
    made entirely of boilerplate disappears.
    """
    spans = _doc_spans(df, id_col, content_col, span_words)
    hot = (
        spans.groupBy("span")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") > max_docs)
        .select("span")
    )
    kept = spans.join(hot, "span", "left_anti")
    return _reassemble_spans(kept, id_col)


def incremental_span_dedup(
    state: DataFrame | None,
    batch: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    span_words: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """Sub-document span dedup against an EXISTING span-digest state —
    the continuous-crawl twin of :func:`span_dedup`, mirroring
    :func:`incremental_exact_dedup`'s digest-state pattern: a new
    ingest batch honors first-occurrence-wins against every span ever
    kept WITHOUT rescanning the old corpus (only the 32-byte span
    digests move again).

    Returns ``(kept, new_state)``.  ``kept`` = the batch's documents
    reassembled from their surviving spans — a span occurrence
    survives iff it is the batch-FIRST occurrence of its span (by
    ``(id, idx)``) AND its digest is absent from ``state``; a batch
    doc whose every span is seen before disappears, exactly like the
    one-shot.  ``new_state`` = ``state`` ∪ the batch's winning span
    digests as ``(span_sha256, id_col, idx)`` — keys-sized, owner-
    attributed, mergeable.  Folding batches in ingest order ≡ one-shot
    :func:`span_dedup` with batch-then-(doc, position) precedence
    (pinned by the ``dedup_incremental_spans`` oracle).

    Scale shape: one span explode + one span-keyed window rank per
    batch + one digest-keyed anti join against the state — the anti
    join shuffles 32-byte digests, never span text.  State grows with
    DISTINCT spans only.  As with ``incremental_exact_dedup``, write
    ``new_state`` per batch and read it back as the next fold's
    ``state`` to truncate the union lineage in long ingest loops.
    """
    spans = _doc_spans(batch, id_col, content_col, span_words)
    w = Window.partitionBy("span").orderBy(id_col, "idx")
    firsts = (
        spans.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
        .withColumn("span_sha256", F.sha2(F.col("span"), 256))
    )
    if state is not None:
        firsts = firsts.join(
            state.select("span_sha256"), "span_sha256", "left_anti"
        )
    kept = _reassemble_spans(firsts, id_col)
    new_keys = firsts.select("span_sha256", id_col, "idx")
    new_state = (
        new_keys if state is None else state.unionByName(new_keys)
    )
    return kept, new_state


def ngram_jaccard_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Set-similarity join via PREFIX FILTERING (the PPJoin family's
    candidate generator) — LOSSLESS for Jaccard ≥ ``threshold``, so
    unlike the df-capped postings join or banded MinHash there is no
    recall story to argue: the output is BY CONSTRUCTION identical to
    the exhaustive join (and the DuckDB oracle is exactly that
    exhaustive join — the pruning must be invisible).

    The principle: J(A,B) ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|).
    Order every document's shingles by a GLOBAL canonical order
    (ascending document frequency, rarest first) and index only each
    doc's first ``|X| − ⌈t·|X|⌉ + 1`` shingles: a qualifying pair
    must collide inside these prefixes (if all shared shingles sat
    outside A's prefix, the intersection would fit in A's suffix of
    size ⌈t·|A|⌉ − 1 < t·|A| — contradiction).  Frequency order is
    what makes this cheap at scale: HOT shingles sort LAST, so they
    almost never enter a prefix — the skew guard falls out of the
    math instead of needing a df_cap, and the candidate join touches
    ~(1−t)·postings rows.

    Stages: postings + df counts (one groupBy), per-doc frequency
    rank (one window sharing the doc partitioning), prefix self-join
    on the shingle (id_a < id_b, distinct), exact verify on the full
    shingle arrays.  Emitted jaccard values are exact.
    """
    # the shingle arrays feed the prefix build AND both verify sides;
    # the prefix relation feeds both sides of the candidate self-join —
    # materialize both or the whole shingle pipeline recomputes 2-4×
    # (measured 9× slower unmaterialized on a skew-free 80k corpus).
    # localCheckpoint(eager=True), not persist(): checkpoint blocks are
    # released by the ContextCleaner when the result DataFrame is
    # dropped, where persist() pins a session-lifetime CacheManager
    # entry per invocation (r08 ADVICE leak).
    sh_arr = (
        df.withColumn("__hw", word_hashes(content_col))
        .select(
            F.col(id_col),
            shingles_from_word_hashes("__hw", n).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        .localCheckpoint(eager=True)
    )
    # __n rides the explode as size(sh) — sh is array_distinct'd, so
    # the per-doc posting count IS the array length; the old
    # count() OVER (PARTITION BY id) window recomputed a value the
    # array already knew (r17: one Window node fewer on the ranked
    # exchange).
    post = sh_arr.select(
        id_col,
        F.size("sh").alias("__n"),
        F.explode("sh").alias("shingle"),
    )
    dfreq = post.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = post.join(dfreq, "shingle").withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy("df", "shingle")
        ),
    )
    prefix = (
        ranked.filter(
            F.col("__rk")
            <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
        )
        .select(id_col, "shingle")
        .localCheckpoint(eager=True)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sa = sh_arr.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh_arr.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    # |A∪B| = |A| + |B| − |A∩B| exactly (both arrays are
    # array_distinct'd sets), so the union is never materialized —
    # one array op per pair instead of two, same integer operands,
    # bit-identical division (r17).
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cands.join(sa, on="id_a")
        .join(sb, on="id_b")
        .withColumn(
            "jaccard",
            F.round(
                inter / (F.size("sh_a") + F.size("sh_b") - inter), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _portable_window_hashes(hw_col: str, window_tokens: int) -> F.Column:
    """Sliding ``window_tokens``-token window hashes at EVERY token
    position (stride 1) — the exact-substring dedup key space.  Same
    engine-portable arithmetic as :func:`portable_word_shingles`
    (32-bit md5 word hashes chained by the masked 31-polynomial), but
    built as one ``transform``-over-positions with an ``aggregate``
    fold per window instead of n-fold ``zip_with`` — at n=50 the
    zip_with form would nest a 50-deep expression tree; this keeps
    the tree tiny at O(tokens·window) runtime.  (At true corpus
    scale, a rolling polynomial hash makes this O(tokens); the masked
    2^57 arithmetic here is not invertible in ANSI long math, so the
    windowed fold is the portable form this engine ships.)

    ``hw_col`` must be a MATERIALIZED ``array<long>`` column of the
    per-word hashes (see :func:`_substring_base`) — the r12 HOF rule:
    the position lambda captures ``hw`` twice (slice + element_at),
    and interpreted HOF eval re-evaluates a captured SUBTREE per
    outer element, so an inline md5-transform here ran the per-word
    hashing once per window position — O(tokens²) md5 evaluations
    per document (measured 4.3× end-to-end on the substring query;
    the minhash/sign-LSH finding, third instance)."""
    hw = F.col(hw_col)
    k = F.size(hw) - F.lit(window_tokens - 1)
    mask = F.lit(_PORTABLE_MASK)
    # k < 1 ⇒ no window: guard explicitly — sequence(1, 0) DESCENDS
    # ([1, 0]) and the i=0 probe would hit element_at's 1-based floor
    return F.when(
        k < 1, F.expr("cast(array() as array<bigint>)")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.aggregate(
                F.slice(hw, i + 1, window_tokens - 1),
                F.element_at(hw, i),
                lambda acc, x: (acc * F.lit(31) + x).bitwiseAND(mask),
            ),
        )
    )



def _substring_base(
    df: DataFrame, id_col: str, content_col: str, window_tokens: int
) -> DataFrame:
    """The checkpointed compact base both substring-dedup variants
    share: (id, __w token array, __wh window-hash array).  Two-stage
    projection on purpose: the per-word hash array materializes as a
    real attribute FIRST, so the window fold's lambda captures a
    column reference, not the md5-transform subtree (multi-referenced
    expensive aliases are not collapsed back by CollapseProject, and
    the checkpoint pins the final relation anyway)."""
    toks = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.col(content_col)), r"\s+"),
            lambda w: w != F.lit(""),
        ).alias("__w"),
    )
    hashed = toks.withColumn(
        "__hw",
        F.transform(
            F.col("__w"),
            lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast(
                "long"
            ),
        ),
    )
    return hashed.select(
        F.col(id_col),
        "__w",
        _portable_window_hashes("__hw", window_tokens).alias("__wh"),
    ).localCheckpoint(eager=True)


def _strip_dup_windows(
    base: DataFrame, dups: DataFrame, id_col: str, window_tokens: int
) -> DataFrame:
    """Shared kill-explode → anti-join → reassembly → output block of
    :func:`substring_dedup` / :func:`incremental_substring_dedup`:
    given the duplicate window occurrences ``dups``(id, pos), strip
    every covered token and return (id, n_words, n_kept,
    cleaned_text) for every base doc (all-killed docs keep an
    empty-text row)."""
    kills = dups.select(
        F.col(id_col).alias("__kid"),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(window_tokens - 1))
        ).alias("__kt"),
    ).distinct()
    toks = base.select(id_col, F.posexplode("__w").alias("t", "word"))
    # eqNullSafe on the doc id throughout (r11 review follow-up): a
    # NULL-id document is a real document — the old name-based joins
    # here never matched it, so its kills didn't strike AND its
    # reassembled row didn't join back, erasing it to empty text
    kept = toks.join(
        kills,
        F.col(id_col).eqNullSafe(F.col("__kid"))
        & (F.col("t") == F.col("__kt")),
        "left_anti",
    )
    reassembled = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("t", "word"))),
                lambda s: s["word"],
            ),
        ).alias("cleaned_text"),
    )
    return (
        base.select(id_col, F.size("__w").cast("long").alias("n_words"))
        .join(
            reassembled.select(
                F.col(id_col).alias("__rid"), "n_kept", "cleaned_text"
            ),
            F.col(id_col).eqNullSafe(F.col("__rid")),
            "left",
        )
        .select(
            id_col,
            "n_words",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    window_tokens: int = 50,
) -> DataFrame:
    """EXACT-SUBSTRING dedup at fixed granularity (Lee et al. 2022,
    arXiv:2107.06499 §"exact substring" — suffix-array dedup
    re-expressed for Spark): any ``window_tokens``-token run that
    appears VERBATIM anywhere earlier in the corpus is removed, at
    EVERY token position (sliding windows, stride 1) — the pass that
    catches boilerplate repeated mid-sentence, which fixed
    non-overlapping spans (:func:`span_dedup`) straddle and miss.

    Semantics: a window occurrence is a duplicate unless it is the
    corpus-FIRST occurrence of its hash (by id, then position); a
    TOKEN is removed iff some duplicate window covers it.  First
    occurrences keep their text, so exactly one copy of every
    duplicated substring survives — the paper's policy.  Documents
    shorter than ``window_tokens`` have no windows and pass through.
    Returns (id, n_words, n_kept, cleaned_text) for every input doc
    (all-killed docs keep a row with empty text).

    Scale shape: one window-hash scan (8-byte keys), one MAP-SIDE
    COMBINABLE ``min(struct(id, pos))`` per window hash (only the
    per-hash minimum is ever needed — the r10 verdict's skew note:
    the previous ``row_number() OVER (PARTITION BY whash)`` shuffled
    every occurrence of a hash to one reducer, so a viral boilerplate
    window — 10⁹ copies of one banner — was a single-task hot key;
    partial aggregation collapses it to one row per map partition
    before the shuffle, measured with a planted hot window in
    SCALING.md "Round-11 sweeps", finding 1), one anti join on the uniformly-distributed
    ``(id, pos)`` doc key to recover the duplicate occurrences, then
    kill-explode bounded by |duplicate windows|·window —
    proportional to the duplicated volume, not the corpus.  The
    57-bit hash makes the check probabilistic-exact (collision
    ≈1e-11 merges two substrings); the DuckDB oracle recomputes the
    identical hashes, so the registry check is exact."""
    base = _substring_base(df, id_col, content_col, window_tokens)
    wins = base.select(
        id_col, F.posexplode("__wh").alias("pos", "whash")
    )
    firsts = (
        wins.groupBy("whash")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__f"))
        .select(
            F.col("__f").getField(id_col).alias("__fid"),
            F.col("__f").getField("pos").alias("__fpos"),
        )
    )
    # eqNullSafe on the doc id: a NULL-id doc's first occurrences must
    # match themselves in the anti join (r11 review — plain equality
    # never matches NULL and stripped every window of such a doc; the
    # replaced row_number shape had preserved them)
    dups = wins.join(
        firsts,
        F.col(id_col).eqNullSafe(F.col("__fid"))
        & (F.col("pos") == F.col("__fpos")),
        "left_anti",
    ).select(id_col, "pos")
    return _strip_dup_windows(base, dups, id_col, window_tokens)


def incremental_substring_dedup(
    state: DataFrame | None,
    batch: DataFrame | None,
    id_col: str = "doc_id",
    content_col: str = "text",
    window_tokens: int = 50,
    base: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """:func:`substring_dedup` against an EXISTING window-hash state —
    the continuous-crawl twin, mirroring
    :func:`incremental_span_dedup`'s digest-state pattern: a batch
    window is a duplicate iff its hash is already in ``state`` or an
    earlier (id, pos) occurrence exists WITHIN the batch; tokens
    covered by duplicate windows are removed; the old corpus is never
    rescanned (only 8-byte window hashes move).

    Returns ``(cleaned, new_state)``: ``cleaned`` = the batch's docs
    in substring_dedup's output shape; ``new_state`` = ``state`` ∪
    the batch's first-occurrence keys ``(whash, id, pos)`` —
    keys-sized, owner-attributed, mergeable.  Folding id-ordered
    batches ≡ one-shot :func:`substring_dedup` exactly (shared
    oracle of ``dedup_incremental_substring``); arbitrary-order
    ingest gives batch-then-(id, pos) precedence, the
    incremental_exact_dedup convention.

    ``base`` (r17): a precomputed, already-materialized
    :func:`_substring_base` relation of THIS batch, for callers whose
    batches are SPLITS of one relation (the registered query's three
    doc_id ranges): tokenize+hash is row-wise, so filter∘base ≡
    base∘filter and the caller can tag the whole corpus once
    (ONE eager checkpoint, one tokenize scan) and hand each fold its
    filtered slice — the embedding_incremental_pairs_split shared-
    tagging pattern (guide §2.4/§5).  When provided it must equal
    ``_substring_base(batch, id_col, content_col, window_tokens)``
    relation-for-relation (pinned in tests); output is then identical
    row-for-row to the batch-at-a-time path.  Exactly one of
    ``batch`` / ``base`` must be given — supplying both is rejected
    (the batch would be silently ignored, masking a base/batch
    mismatch the function cannot detect)."""
    if base is None:
        if batch is None:
            raise ValueError("provide exactly one of batch or base")
        base = _substring_base(batch, id_col, content_col, window_tokens)
    elif batch is not None:
        raise ValueError(
            "base given: pass batch=None (a batch argument alongside "
            "base would be silently ignored)"
        )
    wins = base.select(id_col, F.posexplode("__wh").alias("pos", "whash"))
    # same skew-guarded first-occurrence aggregate as substring_dedup:
    # map-side-combinable min(struct), never a whash-partitioned rank
    firsts = (
        wins.groupBy("whash")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__f"))
        .select(
            "whash",
            F.col("__f").getField(id_col).alias(id_col),
            F.col("__f").getField("pos").alias("pos"),
        )
    )
    if state is not None:
        seen = state.select("whash").distinct()
        firsts = firsts.join(seen, "whash", "left_anti")
    # eqNullSafe on the doc id — same NULL-id contract as the
    # one-shot (see substring_dedup)
    dups = wins.join(
        firsts.select(
            F.col(id_col).alias("__fid"), F.col("pos").alias("__fpos")
        ),
        F.col(id_col).eqNullSafe(F.col("__fid"))
        & (F.col("pos") == F.col("__fpos")),
        "left_anti",
    )
    cleaned = _strip_dup_windows(base, dups, id_col, window_tokens)
    new_keys = firsts.select("whash", id_col, "pos")
    new_state = new_keys if state is None else state.unionByName(new_keys)
    return cleaned, new_state
