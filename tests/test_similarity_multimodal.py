"""Similarity search + multimodal plumbing (SURVEY.md §2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from square_etl_spark.io import load_table
from square_etl_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_media,
    documents_as_media,
)
from square_etl_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
    cosine_topk_pandas,
    ivf_assign,
)


def _queries(spark, sf_dir, n=3):
    e = load_table(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_every_vector_is_its_own_nearest_neighbor(spark, sf_dir):
    # the LSH sanity property from SURVEY.md §7 hard-list #5
    e = load_table(spark, sf_dir, "embeddings")
    top = cosine_topk(e, _queries(spark, sf_dir), k=1).collect()
    for r in top:
        assert r.query_id == r.vec_id
        assert r.cosine_sim == 1.0


def test_lsh_topk_contains_self_and_subsets_bruteforce_buckets(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = _queries(spark, sf_dir)
    lsh = cosine_topk_lsh(e, q, k=3, bits=4, dim=64)
    by_query = {}
    for r in lsh.collect():
        by_query.setdefault(r.query_id, []).append(r)
    for qid, rows in by_query.items():
        assert rows[0].vec_id == qid or any(r.vec_id == qid for r in rows)


def test_pandas_topk_agrees_with_hof_topk(spark, sf_dir):
    # Arrow/numpy path must produce the same ranking as the JVM path
    e = load_table(spark, sf_dir, "embeddings")
    q = _queries(spark, sf_dir)
    hof = {
        (r.query_id, r.rank): (r.vec_id, r.cosine_sim)
        for r in cosine_topk(e, q, k=5).collect()
    }
    qrows = [(r.query_id, list(r.query_vec)) for r in q.collect()]
    pnd = {
        (r.query_id, r.rank): (r.vec_id, r.cosine_sim)
        for r in cosine_topk_pandas(e, qrows, k=5).collect()
    }
    assert hof == pnd


def test_ivf_assign_partitions_all_vectors(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    assigned = ivf_assign(e, cents)
    assert assigned.count() == e.count()  # every vector in exactly one cell
    assert assigned.select("cell").distinct().count() <= 4
    # a centroid lands in its own cell
    own = {r.vec_id: r.cell for r in assigned.filter(F.col("vec_id") < 4).collect()}
    assert all(own[v] == v for v in own)


def test_decode_media_shapes_and_determinism(spark, sf_dir):
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    out = decode_media(media)
    rows = out.collect()
    assert all(r.ok for r in rows)
    assert all(len(r.features) == FEATURE_DIM for r in rows)
    assert all(0.0 <= x <= 1.0 for r in rows for x in r.features)
    again = {r.media_id: r.features for r in decode_media(media).collect()}
    assert all(again[r.media_id] == r.features for r in rows)


def test_decode_media_unknown_type_quarantined_not_fatal(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"abc"), {"media_type": "hologram"})],
        "media_id long, content binary, meta map<string,string>",
    )
    rows = decode_media(media).collect()
    assert rows[0].ok is False and rows[0].features is None
    assert rows[0].n_bytes == 3


def test_quantize_int8_layout_and_range(spark, sf_dir):
    from square_etl_spark.io import load_table
    from square_etl_spark.operators.similarity import quantize_int8

    e = load_table(spark, sf_dir, "embeddings")
    codes, factors = quantize_int8(e, dim=64)
    assert codes.columns == ["vec_id", "codes", "qnorm"]
    assert len(factors) == 64 and all(f > 0 for f in factors)
    row = codes.agg(
        F.min(F.array_min("codes")), F.max(F.array_max("codes"))
    ).collect()[0]
    assert -127 <= row[0] and row[1] <= 127
    assert codes.filter(F.col("qnorm") <= 0).count() == 0


def test_quantized_topk_matches_brute_force(spark, sf_dir):
    """Int8 candidates + exact rescore must reproduce the brute-force
    top-k exactly on the fixtures (recall 1.0) — the property that lets
    the quantized query share the brute-force oracle."""
    from square_etl_spark.io import load_table
    from square_etl_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_quantized,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {tuple(r) for r in cosine_topk(e, q, k=5).collect()}
    quant = {tuple(r) for r in cosine_topk_quantized(e, q, k=5, dim=64).collect()}
    assert quant == brute


def test_topk_from_materialized_codes_matches_brute_force(spark, sf_dir, tmp_path):
    """The deployment shape: quantize ONCE, write codes+norm parquet,
    probe the stored table via topk_from_codes — result identical to
    brute force on the fixtures (and to the per-call wrapper)."""
    from square_etl_spark.io import load_table
    from square_etl_spark.operators.similarity import (
        cosine_topk,
        quantize_int8,
        topk_from_codes,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    codes_df, factors = quantize_int8(e, dim=64)
    path = str(tmp_path / "codes")
    codes_df.write.parquet(path)
    stored = spark.read.parquet(path)
    got = {tuple(r) for r in topk_from_codes(stored, factors, e, q, k=5, dim=64).collect()}
    brute = {tuple(r) for r in cosine_topk(e, q, k=5).collect()}
    assert got == brute


def test_dot_unrolled_hof_fallback_matches_at_d256(spark):
    """Above UNROLL_MAX_DIM, dot_unrolled falls back to the aggregate()
    HOF: at d=256 the fallback must equal the explicitly-unrolled sum
    bit-for-bit (same left-to-right accumulation order), and the plan
    must stay bounded (one HOF node, not a 256-term Add chain)."""
    import numpy as np

    from square_etl_spark.operators.similarity import (
        UNROLL_MAX_DIM,
        dot,
        dot_unrolled,
    )

    assert 256 > UNROLL_MAX_DIM
    d = 256
    rng = np.random.default_rng(11)
    rows = [
        (i, rng.normal(size=d).tolist(), rng.normal(size=d).tolist())
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    # explicit unroll (the reference computation, bypassing the threshold)
    terms = F.col("a")[0] * F.col("b")[0]
    for i in range(1, d):
        terms = terms + F.col("a")[i] * F.col("b")[i]
    got = df.select(
        "id",
        dot_unrolled(F.col("a"), F.col("b"), d).alias("hof"),
        terms.alias("unrolled"),
        dot(F.col("a"), F.col("b")).alias("plain_hof"),
    ).collect()
    for r in got:
        assert r.hof == r.unrolled == r.plain_hof  # bit-identical


def test_quantize_int8_hof_path_matches_unrolled_at_d256(spark):
    """dim > UNROLL_MAX_DIM switches quantize_int8 to posexplode scales
    + zip_with/aggregate codes+norm: at d=256 every code and norm must
    equal a numpy re-derivation of the same per-dim-symmetric scheme."""
    import numpy as np

    from square_etl_spark.operators.similarity import quantize_int8

    d = 256
    rng = np.random.default_rng(5)
    mat = rng.normal(scale=3.0, size=(50, d))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))],
        "vec_id long, embedding array<double>",
    )
    codes_df, factors = quantize_int8(df, dim=d)
    want_factors = np.abs(mat).max(axis=0) / 127.0
    assert np.allclose(factors, want_factors)
    rows = {r.vec_id: r for r in codes_df.collect()}
    f = np.array(factors)
    for i in range(len(mat)):
        want_codes = np.round(mat[i] / f).astype(int)
        assert list(want_codes) == rows[i].codes, f"vec {i}"
        assert abs(rows[i].qnorm - np.linalg.norm(want_codes * f)) < 1e-9
    assert codes_df.filter(F.col("qnorm") <= 0).count() == 0


def test_quantize_plan_compiles_bounded_at_d1024(spark):
    """The HOF path's reason to exist: at d=1024 the whole
    quantize -> codes+norm plan must ANALYZE in bounded time (an
    unrolled build would put 3x1024 expression nodes per projection
    into Catalyst).  Generous wall bound - the pre-HOF shape took
    tens of seconds and grew superlinearly with dim."""
    import time

    import numpy as np

    from square_etl_spark.operators.similarity import quantize_int8

    d = 1024
    rng = np.random.default_rng(1)
    mat = rng.normal(size=(8, d))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))],
        "vec_id long, embedding array<double>",
    )
    t0 = time.perf_counter()
    codes_df, factors = quantize_int8(df, dim=d)
    codes_df.schema  # force analysis
    elapsed = time.perf_counter() - t0
    assert len(factors) == d
    assert elapsed < 30, f"quantize analysis took {elapsed:.1f}s at d={d}"
    # and the result is actually computable
    row = codes_df.orderBy("vec_id").first()
    assert len(row.codes) == d and row.qnorm > 0


def test_hard_negatives_skip_band_and_fence(spark):
    # unit vectors (cos t, sin t) against query (1, 0): cosine == cos t
    # exactly, so ranks are fully controlled
    import math

    from square_etl_spark.operators.similarity import hard_negatives

    sims = [1.0, 0.9, 0.8, 0.7, 0.4, 0.2]
    rows = [
        (i, [c, math.sqrt(1.0 - c * c)]) for i, c in enumerate(sims)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    got = hard_negatives(vecs, q, skip=2, k=2, min_sim=0.5).collect()
    assert [(r.vec_id, r.rank) for r in sorted(got, key=lambda r: r.rank)] == [
        (2, 3), (3, 4)
    ]
    # the fence DROPS rather than pads: raising it above rank 4's sim
    # leaves a single negative
    fenced = hard_negatives(vecs, q, skip=2, k=2, min_sim=0.75).collect()
    assert [(r.vec_id, r.rank) for r in fenced] == [(2, 3)]


def test_hard_negatives_disjoint_from_positives(spark, sf_dir):
    from square_etl_spark.operators.similarity import cosine_topk, hard_negatives

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    pos = {
        (r.query_id, r.vec_id) for r in cosine_topk(e, q, k=5).collect()
    }
    neg = {
        (r.query_id, r.vec_id)
        for r in hard_negatives(e, q, skip=5, k=5, min_sim=0.0).collect()
    }
    assert pos and neg and pos.isdisjoint(neg)


def test_hard_negatives_plan_window_group_limit(spark, sf_dir):
    # the rank <= skip+k filter must reach the window as a partial
    # group limit — O(Q*(skip+k)) rows to the shuffle, never Q*N
    from square_etl_spark.operators.similarity import hard_negatives

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = (
        hard_negatives(e, q, skip=5, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_pq_encode_layout_and_determinism(spark, sf_dir):
    from square_etl_spark.operators.similarity import pq_encode

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    codes, cb = pq_encode(e, dim=64, m=4, ksub=4, iters=2)
    rows = codes.collect()
    n_vec = e.count()
    # m rows per vector, codes in [0, ksub)
    assert len(rows) == n_vec * 4
    assert all(0 <= r["c"] < 4 for r in rows)
    per_vec = {}
    for r in rows:
        per_vec.setdefault(r["vec_id"], set()).add(r["s"])
    assert all(v == {0, 1, 2, 3} for v in per_vec.values())
    # codebooks: m*ksub*(dim/m) values, GLOBAL dim indices per subspace
    cbr = cb.collect()
    assert len(cbr) == 4 * 4 * 16
    for r in cbr:
        assert r["s"] * 16 <= r["dim"] < (r["s"] + 1) * 16
    # deterministic: a second run produces identical codes
    codes2, _ = pq_encode(e, dim=64, m=4, ksub=4, iters=2)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, codes2.collect()))


def test_pq_encode_pool_jobs_keep_the_callers_job_group(spark, sf_dir):
    """The subspace fits run on a driver thread pool; every job they
    launch must carry the caller's job group, or cancelJobGroup and
    per-query attribution miss it.  Job ids are sequential, so the jobs
    of the call are exactly those between two marker jobs."""
    from square_etl_spark.operators.similarity import pq_encode

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(group):
        sc.setJobGroup(group, "marker")
        sc.parallelize([1]).count()
        return max(tracker.getJobIdsForGroup(group))

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    before = marker("pq-before")
    sc.setJobGroup("pq-encode", "pq_encode under a job group")
    pq_encode(e, dim=64, m=4, ksub=2, iters=1)
    after = marker("pq-after")
    sc.setLocalProperty("spark.jobGroup.id", None)
    launched = set(range(before + 1, after))
    assert launched, "pq_encode launched no jobs"
    assert launched == set(tracker.getJobIdsForGroup("pq-encode"))


def test_ivfpq_topk_shape_and_rescore_correctness(spark, sf_dir):
    """The rescored cosine values must be the EXACT cosines of the
    returned pairs (PQ only selects candidates; it must never change
    reported similarity), ranks dense 1..k per query."""
    from square_etl_spark.operators.similarity import cosine, cosine_topk_ivfpq

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk_ivfpq(e, q, k=5, dim=64).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == [1, 2, 3, 4, 5]
        sims = [r["cosine_sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
    # exact-rescore check against independently computed cosines
    pairs = spark.createDataFrame(
        [(r["query_id"], r["vec_id"], r["cosine_sim"]) for r in out],
        "query_id long, vec_id long, reported double",
    )
    ev = e.select(F.col("vec_id"), F.col("embedding"))
    qv = q
    chk = (
        pairs.join(ev, "vec_id").join(qv, "query_id")
        .withColumn("exact", F.round(cosine(F.col("embedding"), F.col("query_vec")), 6))
        .filter(F.col("exact") != F.col("reported"))
    )
    assert chk.count() == 0
    # self is always retrievable: the query's own cell is its nearest,
    # PQ scores it top, rescore ranks it #1
    for qid, rs in by_q.items():
        top = [r for r in rs if r["rank"] == 1][0]
        assert top["vec_id"] == qid and top["cosine_sim"] == 1.0


def test_ivfpq_stored_probe_matches_inmemory_and_prunes_partitions(
    spark, sf_dir, tmp_path
):
    from square_etl_spark.operators.similarity import (
        cosine_topk_ivfpq,
        ivfpq_index,
        topk_from_pq_stored,
        write_ivfpq_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    idx = ivfpq_index(e, dim=64, n_cells=4, m=4, ksub=4, iters=2)
    base = str(tmp_path / "pqidx")
    write_ivfpq_index(idx, base)
    got = sorted(map(tuple, topk_from_pq_stored(
        spark, base, e, q, k=5, n_probe=2).collect()))
    want = sorted(map(tuple, cosine_topk_ivfpq(
        e, q, k=5, dim=64, n_cells=4, n_probe=2).collect()))
    assert got == want and len(got) == 15
    # the stored-codes scan must be partition-pruned on cell
    import os
    plan = (
        spark.read.parquet(os.path.join(base, "codes"))
        .filter(F.col("cell").isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "cell" in plan


def test_ivfpq_append_fold_law_and_probe_equivalence(spark, sf_dir):
    """Append-only IVF-PQ ingest under frozen parameters (r13):
    (1) batch-fold associativity — append(append(I,b2),b3) ==
        append(I, b2 UNION b3) element-for-element (every relation is
        per-row under frozen params, so micro-batch ingest composes);
    (2) codes for a vector are bit-equal whether it arrived at build
        time or via append (fit-once/encode-many);
    (3) the probe over the appended index finds appended vectors —
        each is its own exact nearest neighbor at cosine 1.0."""
    from square_etl_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_index_append,
        pq_encode_with,
        topk_from_pq,
    )

    e = load_table(spark, sf_dir, "embeddings")
    b1 = e.filter(F.col("vec_id") % 3 == 0)
    b2 = e.filter(F.col("vec_id") % 3 == 1)
    b3 = e.filter(F.col("vec_id") % 3 == 2)
    idx = ivfpq_index(b1, dim=64, n_cells=4, m=4, ksub=4, iters=2)

    one = ivfpq_index_append(idx, b2.unionByName(b3), dim=64, m=4)
    two = ivfpq_index_append(
        ivfpq_index_append(idx, b2, dim=64, m=4), b3, dim=64, m=4
    )
    for i, name in ((0, "cells"), (2, "codes"), (4, "rnorm")):
        a = sorted(map(tuple, one[i].collect()))
        b = sorted(map(tuple, two[i].collect()))
        assert a == b, f"fold law broke on {name}"

    # encode-many determinism: re-encoding ANY batch against the
    # frozen codebooks is bit-stable call-to-call (the append path's
    # consistency guarantee)...
    enc1 = sorted(map(tuple, pq_encode_with(b2, idx[3], dim=64, m=4).collect()))
    enc2 = sorted(map(tuple, pq_encode_with(b2, idx[3], dim=64, m=4).collect()))
    assert enc1 == enc2
    # ...while the BUILD's own codes follow the kmeans_fixed
    # convention (last assignment vs the penultimate codebooks — the
    # shape its DuckDB oracles replay), so re-encoding the training
    # batch against the FINAL codebooks may legally move boundary
    # vectors; pin the declared asymmetry: same rows, mostly equal,
    # and every difference is still a valid (id, s, code) triple
    again = sorted(map(tuple, pq_encode_with(b1, idx[3], dim=64, m=4).collect()))
    build = sorted(map(tuple, idx[2].collect()))
    assert {(i, s) for i, s, _ in again} == {(i, s) for i, s, _ in build}
    moved = sum(1 for x, y in zip(again, build) if x != y)
    assert moved <= len(build) // 4  # boundary effect, not divergence

    # appended vectors are searchable: self-queries return themselves
    # at rank 1 with cosine 1.0 (unit-normalized verify)
    qids = [r.vec_id for r in b2.select("vec_id").limit(3).collect()]
    q = (
        e.filter(F.col("vec_id").isin(qids))
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"))
    )
    full = e  # rescore side reads the raw vectors
    cells, coarse, codes, books, rnorm = one
    # rescore pool sized for the tiny test config: ksub=4 ADC is very
    # coarse for vectors OUTSIDE the training batch (b1-trained
    # codebooks quantize b2 with higher error), so self must only be
    # guaranteed into a generous exact-rescore pool, where the exact
    # cosine then ranks it first
    got = topk_from_pq(
        cells, coarse, codes, books, rnorm, full, q,
        k=3, n_probe=4, rescore_factor=200,
    ).collect()
    for qid in qids:
        top = [r for r in got if r.query_id == qid and r["rank"] == 1][0]
        assert top.vec_id == qid and top.cosine_sim == 1.0
