"""Incremental rollup maintenance: the monoid property that makes
O(batch) materialized-view refresh exact (operators/aggregations)."""

from __future__ import annotations

from pyspark.sql import functions as F

from square_etl_spark.operators.aggregations import incremental_rollup


def _one_shot(df, keys, cols):
    return df.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in cols],
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


def _as_set(df):
    return {tuple(r) for r in df.collect()}


def test_incremental_equals_one_shot_any_split(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 5), ("a", 3, 1), ("b", 2, 7)],
        "k string, seq int, v long",
    ).drop("seq")
    want = _as_set(_one_shot(df, ["k"], ["v"]))
    # split into 1, 2, and 5 batches — all must converge identically
    for nsplit in (1, 2, 5):
        with_id = df.withColumn("__i", F.monotonically_increasing_id())
        rollup = None
        for i in range(nsplit):
            b = with_id.filter(F.col("__i") % nsplit == i).drop("__i")
            rollup = incremental_rollup(rollup, b, ["k"], ["v"])
        assert _as_set(rollup) == want, f"nsplit={nsplit}"


def test_incremental_rollup_new_keys_appear(spark):
    b1 = spark.createDataFrame([("a", 1)], "k string, v long")
    b2 = spark.createDataFrame([("b", 2), ("a", 3)], "k string, v long")
    r = incremental_rollup(
        incremental_rollup(None, b1, ["k"], ["v"]), b2, ["k"], ["v"]
    )
    assert _as_set(r) == {("a", 4, 2), ("b", 2, 1)}


def test_stream_rollup_availablenow_maintains_exactly_once(spark, tmp_path):
    """Streaming rollup maintenance: two availableNow drains over a
    growing directory fold each file exactly once; a drain with no new
    data leaves the rollup untouched."""
    import os

    from square_etl_spark.streaming.incremental import stream_rollup_availablenow

    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    rollup = os.path.join(tmp_path, "rollup")

    b1 = spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], "k string, v long")
    b1.coalesce(1).write.mode("append").parquet(src)
    stream_rollup_availablenow(
        spark, src, ckpt, rollup, ["k"], ["v"], schema="k string, v long"
    )
    got1 = _as_set(spark.read.parquet(rollup))
    assert got1 == {("a", 3, 2), ("b", 5, 1)}

    b2 = spark.createDataFrame([("b", 1), ("c", 7)], "k string, v long")
    b2.coalesce(1).write.mode("append").parquet(src)
    stream_rollup_availablenow(
        spark, src, ckpt, rollup, ["k"], ["v"], schema="k string, v long"
    )
    got2 = _as_set(spark.read.parquet(rollup))
    assert got2 == {("a", 3, 2), ("b", 6, 2), ("c", 7, 1)}

    # no new files: drain again, nothing double-counts
    stream_rollup_availablenow(
        spark, src, ckpt, rollup, ["k"], ["v"], schema="k string, v long"
    )
    assert _as_set(spark.read.parquet(rollup)) == got2


def test_stream_rollup_waits_for_the_writer_lock(spark, tmp_path):
    """The streaming fold sinks take the merge sink's writer lock: a
    drain that starts while another writer holds the rollup's lock
    waits, then folds its batch once the lock is released."""
    import os
    import threading

    from square_etl_spark.sinks.merge import _table_lock
    from square_etl_spark.streaming.incremental import stream_rollup_availablenow

    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    rollup = os.path.join(tmp_path, "rollup")
    spark.createDataFrame(
        [("a", 1), ("b", 5)], "k string, v long"
    ).coalesce(1).write.mode("append").parquet(src)

    out: dict = {}

    def drain():
        try:
            stream_rollup_availablenow(
                spark, src, ckpt, rollup, ["k"], ["v"], schema="k string, v long"
            )
            out["done"] = True
        except Exception as exc:  # noqa: BLE001 - surfaced by the asserts
            out["error"] = exc

    held = _table_lock(rollup)
    held.__enter__()
    t = threading.Thread(target=drain, daemon=True)
    try:
        t.start()
        t.join(timeout=20)
        assert t.is_alive() and not os.path.exists(rollup), (
            f"the drain folded under a held lock: {out}"
        )
    finally:
        held.__exit__(None, None, None)
    t.join(timeout=300)
    assert not t.is_alive() and out == {"done": True}
    assert _as_set(spark.read.parquet(rollup)) == {("a", 1, 1), ("b", 5, 1)}


def test_incremental_hll_equals_one_shot_estimate(spark):
    """Sketch-union monoid: maintaining per-key HLL sketches over any
    batch split yields the same estimate as one sketch over all data."""
    from square_etl_spark.operators.aggregations import incremental_hll

    rows = [("t1", f"u{i % 37}") for i in range(200)] + [
        ("t2", f"u{i % 11}") for i in range(50)
    ]
    df = spark.createDataFrame(rows, "t string, uid string")
    one_shot = {
        (r.t, r.est)
        for r in df.groupBy("t")
        .agg(F.hll_sketch_agg("uid").alias("hll"))
        .select("t", F.hll_sketch_estimate("hll").alias("est"))
        .collect()
    }
    with_id = df.withColumn("__i", F.monotonically_increasing_id())
    sketches = None
    for i in range(4):
        b = with_id.filter(F.col("__i") % 4 == i).drop("__i")
        sketches = incremental_hll(sketches, b, ["t"], "uid")
    got = {
        (r.t, r.est)
        for r in sketches.select(
            "t", F.hll_sketch_estimate("hll").alias("est")
        ).collect()
    }
    assert got == one_shot
    # HLL at this cardinality is exact; sanity-pin the true counts
    assert dict(got) == {"t1": 37, "t2": 11}


def test_incremental_cms_maintain_equals_one_shot_exactly(spark):
    """CM cells are a sum monoid with deterministic md5 hashing, so
    folding batches through incremental_cms must equal the one-shot
    sketch of all data CELL-FOR-CELL (not just estimate-close, the
    weaker HLL guarantee)."""
    from square_etl_spark.operators.aggregations import incremental_cms
    from square_etl_spark.operators.sketches import cms_build

    batches = [
        spark.createDataFrame([(v,) for v in vals], "k long")
        for vals in ([1, 1, 2, 7], [2, 3, 3, 3], [1, 9, 9, 50])
    ]
    tgt = None
    for b in batches:
        tgt = incremental_cms(tgt, b, "k")
    whole = cms_build(batches[0].union(batches[1]).union(batches[2]), "k")
    assert sorted(map(tuple, tgt.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_incremental_kmv_maintain_equals_one_shot_exactly(spark):
    """KMV bottom-k is an exact mergeable monoid: three incremental
    refreshes must produce the IDENTICAL sketch arrays (not just the
    same estimate) as one aggregation of everything."""
    from pyspark.sql import functions as F

    from square_etl_spark.operators.aggregations import incremental_kmv

    df = spark.range(5000).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 700).alias("u"),
        F.col("id").alias("event_id"),
    )
    state = None
    for i in range(3):
        batch = df.filter(F.col("event_id") % 3 == i).drop("event_id")
        state = incremental_kmv(state, batch, ["g"], "u", k=16)
    one_shot = incremental_kmv(None, df.drop("event_id"), ["g"], "u", k=16)
    a = {r["g"]: list(r["kmv"]) for r in state.collect()}
    b = {r["g"]: list(r["kmv"]) for r in one_shot.collect()}
    assert a == b


def test_incremental_kmv_ignores_null_values(spark):
    """r07 advice: NULL value rows hash to NULL __hv; Spark ranks
    NULLs FIRST ascending while collect_list drops them — without the
    explicit filter a key with NULLs keeps FEWER than k real hashes.
    NULLs must be ignored entirely (COUNT DISTINCT semantics)."""
    from pyspark.sql import functions as F

    from square_etl_spark.operators.aggregations import (
        incremental_kmv,
        kmv_estimate,
    )

    rows = [("a", None), ("a", None), ("a", None)] + [
        ("a", i) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "g string, u int")
    st = incremental_kmv(None, df, ["g"], "u", k=4)
    sk = st.collect()[0]["kmv"]
    assert len(sk) == 4  # NULLs did not burn bottom-k slots
    assert all(v is not None for v in sk)
    # maintain ≡ one-shot still holds when one batch is all-NULL
    state = incremental_kmv(None, df.filter(F.col("u").isNull()), ["g"], "u", k=4)
    state = incremental_kmv(state, df.filter(F.col("u").isNotNull()), ["g"], "u", k=4)
    merged = {r["g"]: list(r["kmv"]) for r in state.collect()}
    assert merged == {"a": list(sk)}
    est = st.select(kmv_estimate(k=4).alias("e")).collect()[0]["e"]
    assert est >= 4  # estimator sees a full sketch of real hashes


def test_incremental_kmv_estimate_exact_below_k(spark):
    from pyspark.sql import functions as F

    from square_etl_spark.operators.aggregations import (
        incremental_kmv,
        kmv_estimate,
    )

    df = spark.range(40).select(
        F.lit(1).alias("g"), (F.col("id") % 10).alias("u")
    )
    st = incremental_kmv(None, df, ["g"], "u", k=64)
    est = st.select(kmv_estimate().alias("e")).collect()[0]["e"]
    assert est == 10  # below k → exact distinct count


def test_winsorize_clips_to_group_fences(spark):
    """Hand-checkable: group 'a' = 1..100 → p5/p95 fences clip the
    tails; every row survives; in-range values pass through unchanged."""
    from pyspark.sql import functions as F

    from square_etl_spark.operators.aggregations import winsorize

    df = spark.range(1, 101).select(
        F.lit("a").alias("g"), F.col("id").cast("double").alias("v")
    )
    out = winsorize(df, "v", ["g"], 0.05, 0.95)
    rows = out.collect()
    assert len(rows) == 100  # winsorize never drops rows
    lo = rows[0]["__wlo"]
    hi = rows[0]["__whi"]
    # quantile_cont over 1..100: p5 = 1 + 0.05*99 = 5.95; p95 = 95.05
    assert abs(lo - 5.95) < 1e-9 and abs(hi - 95.05) < 1e-9
    clipped = {r["v"]: r["v_winsorized"] for r in rows}
    assert clipped[1.0] == lo and clipped[100.0] == hi
    assert clipped[50.0] == 50.0


def test_robust_zscore_immune_to_outlier_poisoning(spark):
    """The property that justifies the operator: one extreme value
    must NOT inflate the baseline — the outlier flags itself, the
    inliers stay unflagged, and a zero-MAD group yields NULL rz."""
    from pyspark.sql import functions as F

    from square_etl_spark.operators.aggregations import robust_zscore

    rows = [("a", float(v)) for v in range(1, 100)] + [("a", 1e9)]
    rows += [("b", 5.0)] * 10  # constant group → MAD 0 → undefined
    df = spark.createDataFrame(rows, "g string, v double")
    out = robust_zscore(df, "v", ["g"]).collect()
    a = [(r["v"], r["rz"]) for r in out if r["g"] == "a"]
    flagged = {v for v, rz in a if rz is not None and abs(rz) > 3.5}
    assert flagged == {1e9}
    assert all(rz is None for v, rz in [(r["v"], r["rz"]) for r in out if r["g"] == "b"])
