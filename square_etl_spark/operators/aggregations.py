"""Aggregations (SURVEY.md §2.5) + the standard agg surface.

The reference's aggregates are implicit (distinct-key map builds,
first-wins, last-writer-wins upserts).  This module makes them explicit
Spark aggregations, plus the groupBy/rollup/cube/top-k surface the
warehouse exists to serve downstream.

Determinism note: floating-point SUM is order-dependent, and a
distributed engine gives no accumulation order — so any sum that must
hash-match an external oracle (or simply be reproducible run-to-run)
goes through ``decimal_sum``: cast each addend to DECIMAL(38, s),
sum exactly, cast the total back to double.  One deterministic
rounding per value instead of 10^5 order-dependent float adds; the
same expression is used on the DuckDB oracle side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
    VariantType,
)
from pyspark.sql.window import Window

#: scale for deterministic decimal accumulation; 6 fractional digits
#: covers the fixtures' price/discount precision with headroom.
DECIMAL_SCALE = 6


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def decimal_sum(col: Column | str, scale: int = DECIMAL_SCALE) -> Column:
    """Order-independent SUM over doubles (see module docstring)."""
    return F.sum(_c(col).cast(f"decimal(38,{scale})")).cast("double")


def distinct_keys(df: DataFrame, *cols: str) -> DataFrame:
    """A1: DISTINCT key extraction (reference
    ``Array.from(orderToPayment.keys())``, src/etl-square-orders.ts:192).
    Map-side partial aggregation makes this one light shuffle."""
    return df.select(*cols).distinct()


def last_writer_wins(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """A3: keep the newest row per natural key.

    The reference gets this implicitly from replaying upserts in
    arrival order (ON CONFLICT DO UPDATE; src/etl-square-payments.ts:82-94).
    Deterministic re-specification: max by (order_cols...) descending
    via one window row_number (SURVEY.md §2.5 A3).  Rows that tie on
    every order column are broken by the remaining non-key columns,
    ascending with NULLs last, so a tie has one winner whatever the
    plan shape or input order (map-typed columns cannot be ordered and
    are skipped).  A key repeated with identical payloads is the only
    tie left, and its rows are interchangeable.
    """
    skip = set(key_cols) | set(order_cols)
    tiebreak = [
        F.col(f.name).asc_nulls_last()
        for f in df.schema.fields
        if f.name not in skip and _orderable(f.dataType)
    ]
    order = [F.col(c).desc_nulls_last() for c in order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order, *tiebreak)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _orderable(dt: DataType) -> bool:
    """Whether Spark can sort on a column of this type: maps and
    variants cannot, nor arrays or structs that contain them."""
    if isinstance(dt, (MapType, VariantType)):
        return False
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Sort + limit.  Spark plans TakeOrderedAndProject — each partition
    keeps only its local top-k, the driver merges k·P rows; no global
    sort materializes (SURVEY.md §2.6).  Callers must include a unique
    tiebreaker in order_cols for deterministic results."""
    return df.orderBy(*order_cols).limit(k)


def observed(df: DataFrame, name: str, *metrics: Column):
    """A2 without extra actions: attach observation metrics that are
    collected as a side effect of whatever action runs the DataFrame —
    the Spark-native version of the reference's per-stage count logging
    (src/etl-square-payments.ts:121,135), which cost one extra pass per
    log line.  Returns (df, Observation); read ``obs.get`` after an
    action.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def grouped_rollup(df: DataFrame, group_cols: list[str], aggs: list[Column]) -> DataFrame:
    """ROLLUP over the group columns — subtotals + grand total in one
    pass (Spark expands to grouping sets; partial aggregation still
    applies map-side)."""
    return df.rollup(*group_cols).agg(*aggs)


def incremental_rollup(
    target: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Algebraic rollup maintenance — the materialized-view refresh
    pattern: keep per-key partial aggregates (SUMs + a row COUNT) as a
    stored table and fold each incremental batch in with O(batch) work
    instead of an O(history) rescan.

    Works because SUM/COUNT are commutative monoids: the stored rollup
    rows and the batch's fresh partials combine with the SAME groupBy
    that built them, so ``maintain(maintain(∅, b1), b2) ≡
    aggregate(b1 ∪ b2)`` exactly (integer/decimal measures; pinned in
    tests and the driver oracle).  AVG-style measures derive as
    sum/count at read time; non-algebraic measures (MEDIAN, exact
    DISTINCT) cannot be maintained this way and need a sketch
    (HLL/t-digest) or a rescan — the classic cube-maintenance
    trade-off.

    At 100 TB: the rollup table is keys-sized (small), the batch scan
    is the only data-volume cost per refresh, and the combine is a
    shuffle on the rollup key.  The same shape backs streaming
    ``foreachBatch`` maintenance of dashboard tables.

    Reference context: the reference recomputes nothing incrementally —
    every dashboard query re-reads Postgres; this is the Spark-first
    upgrade the 24 h-lookback design implies (SURVEY.md §2.8 T2).
    """
    partial = batch.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.count(F.lit(1)).cast("long").alias(count_col),
    )
    if target is None:
        return partial
    return (
        target.unionByName(partial)
        .groupBy(*keys)
        .agg(
            *[F.sum(c).alias(c) for c in sum_cols],
            F.sum(count_col).cast("long").alias(count_col),
        )
    )


def incremental_hll(
    target: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    value_col: str,
    sketch_col: str = "hll",
) -> DataFrame:
    """COUNT DISTINCT maintained incrementally — the sketch
    counterpart of :func:`incremental_rollup` for the one common
    measure that is NOT a monoid on scalars: per-key Datasketches HLL
    sketches of each batch union with the stored sketches
    (``hll_union_agg``), because sketch-union IS a monoid.  Estimates
    derive at read time via ``hll_sketch_estimate``; union-then-
    estimate is deterministic and equals the one-shot sketch of all
    data (pinned in tests/test_rollup.py).  The stored table is
    keys-sized with ~KB sketches — the only way to keep distinct
    counts over 100 TB without re-scanning history each refresh.
    """
    partial = batch.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col).alias(sketch_col)
    )
    if target is None:
        return partial
    return (
        target.unionByName(partial)
        .groupBy(*keys)
        .agg(F.hll_union_agg(sketch_col).alias(sketch_col))
    )


def incremental_cms(
    target: DataFrame | None,
    batch: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Count-min sketch maintained incrementally — the FREQUENCY
    counterpart of :func:`incremental_hll`: sketch each batch with
    :func:`sketches.cms_build` and merge cell-wise (CM cells are a
    sum monoid), so heavy-hitter estimates stay queryable over an
    unbounded history at O(depth x width) state with an O(batch)
    refresh.  Unlike the HLL path this sketch is md5-deterministic,
    so maintain ≡ one-shot is pinned EXACTLY (test_rollup), and any
    engine can recompute or consume the stored cells."""
    from square_etl_spark.operators.sketches import cms_build, cms_merge

    partial = cms_build(batch, key_col, depth=depth, width=width)
    if target is None:
        return partial
    return cms_merge(target, partial)


def incremental_kmv(
    target: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    value_col: str,
    k: int = 64,
    sketch_col: str = "kmv",
) -> DataFrame:
    """COUNT DISTINCT maintained incrementally with a KMV (k-minimum-
    values) sketch — the ORACLE-CHECKABLE sibling of
    :func:`incremental_hll`: the state per key is the k smallest
    distinct md5-derived 32-bit hash values, a mergeable exact monoid
    (bottom-k of a union = bottom-k of the unioned bottom-ks), all in
    portable arithmetic a DuckDB oracle recomputes verbatim —
    maintain ≡ one-shot holds EXACTLY, not just statistically.

    State size is ≤ k longs per key (smaller than an HLL sketch at
    k=64); estimate at read time via :func:`kmv_estimate`.  At 100 TB
    the per-batch cost is one dedup + grouped bottom-k of 32-bit
    hashes — the batch scan dominates, the state table is keys-sized.

    NULL values are IGNORED (COUNT DISTINCT semantics): a NULL
    value_col hashes to NULL, and Spark's ascending row_number ranks
    NULLs FIRST while collect_list silently drops them — without the
    explicit filter a key with NULL values would burn bottom-k slots
    on hashes that never reach the sketch, breaking maintain ≡
    one-shot and diverging from the NULLS-LAST oracle (r07 advice).
    """
    from pyspark.sql.window import Window

    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    # bottom-k BEFORE collecting: a bare collect_set would accumulate
    # EVERY distinct hash of a hot key into one array before slicing —
    # an executor-memory cliff on high-cardinality keys.  The window
    # rank keeps per-key state ≤ k rows all the way through, and the
    # rank + grouped collect share one Exchange on the keys.
    wk = Window.partitionBy(*keys).orderBy(F.col("__hv").asc())
    partial = (
        batch.select(*keys, h.alias("__hv"))
        .filter(F.col("__hv").isNotNull())
        .distinct()
        .withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= k)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list("__hv")).alias(sketch_col))
    )
    if target is None:
        return partial
    return (
        target.unionByName(partial)
        .groupBy(*keys)
        .agg(
            F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list(sketch_col)))
                ),
                1,
                k,
            ).alias(sketch_col)
        )
    )


def kmv_estimate(k: int = 64, sketch_col: str = "kmv") -> Column:
    """Distinct-count estimate from a KMV sketch column: exact when
    the sketch holds fewer than k hashes, else the classic bottom-k
    estimator (k−1)·2³²⁄x₍ₖ₎ — identical arithmetic to the
    approx_distinct_kmv oracle."""
    size = F.size(F.col(sketch_col))
    kth = F.element_at(F.col(sketch_col), k)
    return (
        F.when(size < k, size.cast("long"))
        .otherwise(
            F.round(
                F.lit(float(k - 1)) * F.lit(4294967296.0)
                / F.when(kth > 0, kth)
            ).cast("long")
        )
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float = 0.05,
    hi: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorization: clip each value to its GROUP's exact interpolated
    [lo, hi] percentile bounds — the standard outlier-robust
    normalization before aggregate statistics or feature scaling
    (unlike trimming, row count is preserved; the tails are pulled to
    the fence, not dropped).

    Plan: one per-group percentile aggregation (per-group sort buffer —
    fine for dimension-cardinality groups, same contract as
    ``F.percentile``; for billions-of-rows-per-group the quantile
    sketch is the documented scale path) produces a one-row-per-group
    bounds relation that joins back onto the rows.  Returns the input
    plus ``__wlo``/``__whi`` bounds and the clipped ``out_col``.
    """
    out_col = out_col or f"{value_col}_winsorized"
    bounds = df.groupBy(*group_cols).agg(
        F.percentile(value_col, F.lit(lo)).alias("__wlo"),
        F.percentile(value_col, F.lit(hi)).alias("__whi"),
    )
    # bcast-ok: bounds = one row per group; winsorize targets
    # dimension-cardinality groups by contract (sketch path otherwise)
    j = df.join(F.broadcast(bounds), on=list(group_cols))
    clipped = F.least(
        F.greatest(F.col(value_col), F.col("__wlo")), F.col("__whi")
    )
    return j.withColumn(out_col, clipped)


def robust_zscore(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    out_col: str = "rz",
) -> DataFrame:
    """Robust z-score (median/MAD) per group — the outlier detector
    that does not let outliers poison its own baseline: mean/std
    z-scores (the classic sibling, `outlier_zscore_orders`) break down
    when a few extreme values inflate the std; the median and the
    Median Absolute Deviation have a 50% breakdown point.
    rz = (v − median) / (1.4826·MAD), the normal-consistency constant
    making rz comparable to a σ z-score.

    Two per-group percentile aggregations (median, then the median of
    absolute deviations after the first joins back) — per-group sort
    buffers, dimension-cardinality group contract like
    :func:`winsorize`; the two broadcast joins are group-count-sized.
    Zero-MAD groups (>50% of values identical) yield NULL rz — the
    statistic is undefined there, and flagging everything or nothing
    are both wrong answers.
    """
    med = df.groupBy(*group_cols).agg(
        F.percentile(value_col, F.lit(0.5)).alias("__med")
    )
    # bcast-ok: med = one row per group (dimension-cardinality contract)
    j = df.join(F.broadcast(med), on=list(group_cols))
    dev = F.abs(F.col(value_col) - F.col("__med"))
    mad = (
        j.select(*group_cols, dev.alias("__dev"))
        .groupBy(*group_cols)
        .agg(F.percentile("__dev", F.lit(0.5)).alias("__mad"))
    )
    # bcast-ok: mad = one row per group (dimension-cardinality contract)
    out = j.join(F.broadcast(mad), on=list(group_cols))
    rz = (F.col(value_col) - F.col("__med")) / F.when(
        F.col("__mad") > 0, F.lit(1.4826) * F.col("__mad")
    )
    return out.withColumn(out_col, rz)
