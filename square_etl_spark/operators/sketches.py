"""Mergeable frequency/membership sketches (§2.10 extension).

Count-min and Bloom are the two workhorse sketches of a 100 TB
pipeline: a count-min sketch summarizes key frequencies in O(depth x
width) cells REGARDLESS of input size, and a Bloom filter summarizes
set membership in O(m) bits — both are monoids (cell-wise sum / bit-
wise OR), so they build with one partial-aggregated shuffle, merge
across shards/days for free, and broadcast to every executor for
probe-side use (join pruning, heavy-hitter admission).

Hashing is md5-based — the same engine-portable randomness discipline
as operators/sampling.py — so every estimate is deterministic and a
DuckDB oracle recomputes the IDENTICAL sketch, estimates and all.
(Spark's own BloomFilter/CountMinSketch via ``df.stat`` use
implementation-specific hashing and could only be rows-only checked;
these column-expression forms trade a few hash cycles for full
cross-engine auditability and zero JVM-private state.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _md5_mod(col: Column, seed: int, mod: int) -> Column:
    """Deterministic bucket in [0, mod): first 32 md5 bits of
    ``"{seed}:{key}"`` reduced mod ``mod``.  Pure column expression —
    portable to any engine with md5 (oracle twin: ``_MD5_MOD_SQL``)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return h % mod


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-min sketch of ``key_col`` frequencies: ``depth`` x
    ``width`` cells, cell (j, b) = number of rows whose j-th hash
    lands in bucket b.  One grouped shuffle of AT MOST depth*width
    distinct cells (partial map-side combine does the heavy lifting);
    the result is broadcast-sized by construction at any input scale.

    Mergeable: sketch(A ∪ B) = cell-wise sum of sketch(A), sketch(B)
    — see :func:`cms_merge` and the test pin.
    """
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _md5_mod(F.col(key_col), j, width).alias("b"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("cell")
    )
    return rows.groupBy(
        F.col("cell.j").alias("j"), F.col("cell.b").alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum of count-min sketches — the monoid merge that
    makes per-shard/per-day sketches composable into a global one."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("j", "b").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Point-frequency estimate for each key: min over the sketch's
    ``depth`` rows of the key's cell count (the classic CM upper
    bound — never under-estimates, over-estimates by collision mass).
    The sketch side broadcasts (it is ≤ depth*width rows by
    construction); per-key work is a map + a grouped min on the key
    partitioning."""
    probe = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _md5_mod(F.col(key_col), j, width).alias("b"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(key_col, F.col("cell.j").alias("j"), F.col("cell.b").alias("b"))
    # bcast-ok: CMS sketch is exactly d×w cells, fixed by sketch params
    joined = probe.join(F.broadcast(sketch), ["j", "b"], "left").na.fill(
        {"cnt": 0}
    )
    return joined.groupBy(key_col).agg(F.min("cnt").alias("cms_est"))


def bloom_build(
    df: DataFrame, key_col: str, k: int = 3, m: int = 4096
) -> DataFrame:
    """Bloom filter of the distinct ``key_col`` values as a relation
    of SET BIT POSITIONS (≤ m rows — broadcast-sized by construction).
    ``k`` md5-derived hash positions per key; building is one grouped
    distinct of positions.  Mergeable: union of position relations =
    bit-wise OR of the filters."""
    pos = df.select(
        F.explode(
            F.array(*[_md5_mod(F.col(key_col), j, m) for j in range(k)])
        ).alias("pos")
    )
    return pos.distinct()


def bloom_probe_keys(
    keys: DataFrame,
    key_col: str,
    positions: DataFrame,
    k: int = 3,
    m: int = 4096,
) -> DataFrame:
    """Keys that PASS the Bloom filter (all ``k`` positions set) —
    guaranteed superset of the build set: no false negatives, false
    positives at the classic (1 − e^{−kn/m})^k rate.  The positions
    relation broadcasts; a key passes iff its k position probes all
    hit, counted with one grouped count on the key partitioning.

    The 100 TB use: semi-join pruning.  Build over the small side's
    keys, probe the big side's keys, and only bloom-passing rows reach
    the real (expensive) join — the same role Spark's AQE runtime
    bloom pruning plays, here as an explicit, auditable operator.

    Returns DISTINCT passing keys.  The probe side is deduplicated
    internally: without it, a key appearing d times yields d·k probe
    rows and n_hits = d·k ≠ k, silently dropping a present key — a
    false negative the Bloom contract forbids.  (The dedup is a
    map-side-combinable distinct on the same key partitioning the
    grouped count needs anyway, so it adds no extra shuffle.)"""
    probe = keys.select(key_col).distinct().select(
        F.col(key_col),
        F.explode(
            F.array(*[_md5_mod(F.col(key_col), j, m) for j in range(k)])
        ).alias("pos"),
    )
    # bcast-ok: distinct set-bit positions ≤ m, fixed by filter params
    hits = probe.join(F.broadcast(positions), "pos")
    return (
        hits.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") == k)
        .select(key_col)
    )
