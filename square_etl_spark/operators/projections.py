"""Projections, filters, and scalar functions (SURVEY.md §2.3, §2.7).

Every mapper in the reference is a row-at-a-time projection with
null-coalescing, tolerant casts, and validity filters (the ``map*ToRow``
family).  Here each becomes a pure Column expression — JVM-side,
whole-stage-codegen, zero Python UDFs (SURVEY.md §2.7: none are needed
for parity, which is what keeps the hot path at Tungsten speed on
100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def coalesce_first(*cols: Column | str) -> Column:
    """F1: the reference's pervasive ``a ?? b ?? null`` chains.

    E.g. money pick ``total_money ?? amount_money`` (reference
    src/etl-square-payments.ts:29) and parent-name fallback
    ``parentName ?? variationName`` (src/etl-square-catalog.ts:45-47).
    """
    return F.coalesce(*[F.col(c) if isinstance(c, str) else c for c in cols])


def with_default(col: Column | str, default) -> Column:
    """F7/P4/P5: ``x ?? <literal>`` — e.g. ``state ?? "UNKNOWN"``
    (src/etl-square-inventory.ts:55), ``name ?? "Unknown Category"``
    (src/etl-square-categories.ts:36), ``is_deleted === true`` coercion
    (src/etl-square-catalog.ts:41)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(default))


def tolerant_double(col: Column | str) -> Column:
    """F3: ``parseFloat`` + finiteness guard → NULL on garbage.

    Reference parses string quantities tolerantly and drops rows where
    the parse fails (src/etl-square-orders.ts:61-68,
    src/etl-square-inventory.ts:38-45).  ``try_cast`` gives exactly
    parseFloat's yield-NULL-on-garbage semantics under Spark 4 ANSI
    mode (a plain cast would raise).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


def valid_quantity_filter(df: DataFrame, qty_col: str) -> DataFrame:
    """P2: parse quantity; drop non-finite or <= 0 rows.

    Reference drops line items whose quantity fails to parse or is not
    positive (src/etl-square-orders.ts:61-68).
    """
    q = tolerant_double(qty_col)
    return df.withColumn(qty_col, q).filter(q.isNotNull() & (q > 0) & ~F.isnan(q))


def flatten_address(*parts: Column | str, sep: str = ", ") -> Column:
    """P6/F6: null-skipping string join of struct parts.

    Reference formats an address struct as
    ``[line1, locality, state, zip].filter(Boolean).join(", ")``
    (src/etl-square-locations.ts:36-43).  ``concat_ws`` natively skips
    nulls; it yields '' (not NULL) when every part is null, so wrap in
    nullif to preserve SQL-null semantics (SURVEY.md §7 hard-list #4).
    """
    cols = [F.col(p) if isinstance(p, str) else p for p in parts]
    return F.nullif(F.concat_ws(sep, *cols), F.lit(""))


def enrich_constants(df: DataFrame, **constants) -> DataFrame:
    """P9/F9: multi-tenancy constant enrichment.

    The reference prepends TENANT_ID / POS_PROVIDER /
    POS_PROVIDER_ACCOUNT_ID env constants to every row
    (src/etl-square-payments.ts:100-103).  Catalyst constant-folds the
    literals; at scale these become partition columns, not data.
    """
    out = df
    for name, value in constants.items():
        out = out.withColumn(name, F.lit(value))
    return out


def raw_payload(df: DataFrame, cols: list[str] | None = None) -> Column:
    """F2: the schema-evolution escape hatch.

    Reference keeps ``raw_payload = JSON.stringify(record)`` on every
    row (src/etl-square-payments.ts:45 and 5 siblings).  Spark-side:
    ``to_json(struct(*))`` — recover later with from_json /
    get_json_object.
    """
    struct = F.struct(*[F.col(c) for c in cols]) if cols else F.struct("*")
    return F.to_json(struct)


def json_field(col: Column | str, path: str) -> Column:
    """F2 (read side): extract a field from a JSON payload column, the
    engine's recovery path for raw_payload (SURVEY.md §1.2)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path)


def nullify_when(col: Column | str, cond: Column) -> Column:
    """Test/fixture helper: introduce NULLs deterministically.

    The driver fixtures contain no NULLs, while the reference's inputs
    are optional-heavy (SURVEY.md §1.3) — queries exercising coalesce /
    required-field semantics first synthesize NULLs with an explicit
    CASE, identically on the Spark and oracle sides.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(cond, F.lit(None)).otherwise(c)


#: type widenings that cannot lose information — the only implicit
#: casts schema conformance applies without `unsafe_cast`
_SAFE_WIDENINGS: set[tuple[str, str]] = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("byte", "double"), ("short", "double"), ("integer", "double"),
    ("float", "double"),
    ("date", "timestamp"),
}


def conform_schema(
    df: DataFrame,
    target,
    on_extra: str = "drop",
    defaults: dict | None = None,
    unsafe_cast: bool = False,
) -> DataFrame:
    """Schema evolution at the ingestion boundary: reshape a batch to
    exactly ``target`` (a StructType) so generations of a source with
    added/removed columns all land in one table.

    - column MISSING from the batch → filled with ``defaults[name]``
      (else typed NULL) — the new-column-added-upstream case;
    - EXTRA column in the batch → dropped (``on_extra='drop'``) or a
      hard error (``'error'``) — silent data loss is a choice, not an
      accident;
    - type mismatch → cast ONLY along lossless widenings (int→long,
      float→double, date→timestamp, …); anything else (long→int,
      string→int) raises unless ``unsafe_cast=True``, because a
      truncating cast at the ingestion boundary is corruption with
      extra steps.

    Pure projection — a single Select over the batch, no shuffle; at
    100 TB this is free (column pruning composes with it).  The merge
    sinks compose downstream: conform first, then merge.
    """
    defaults = defaults or {}
    have = {f.name: f for f in df.schema.fields}
    want = {f.name for f in target.fields}
    extra = [c for c in df.columns if c not in want]
    if extra and on_extra == "error":
        raise ValueError(f"batch has columns not in target schema: {extra}")
    cols = []
    for f in target.fields:
        if f.name not in have:
            cols.append(F.lit(defaults.get(f.name)).cast(f.dataType).alias(f.name))
            continue
        src_t = have[f.name].dataType
        if src_t == f.dataType:
            cols.append(F.col(f.name))
            continue
        pair = (src_t.typeName(), f.dataType.typeName())
        if pair == ("decimal", "decimal"):
            # decimal widening is lossless iff both the integer digits
            # (precision − scale) and the scale grow or stay equal
            safe = (
                f.dataType.precision - f.dataType.scale
                >= src_t.precision - src_t.scale
                and f.dataType.scale >= src_t.scale
            )
            if not safe and not unsafe_cast:
                raise ValueError(
                    f"column {f.name}: {src_t.simpleString()} → "
                    f"{f.dataType.simpleString()} narrows precision or "
                    f"scale; pass unsafe_cast=True to force it"
                )
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            continue
        if pair not in _SAFE_WIDENINGS and not unsafe_cast:
            raise ValueError(
                f"column {f.name}: {src_t.simpleString()} → "
                f"{f.dataType.simpleString()} is not a lossless widening; "
                f"pass unsafe_cast=True to force it"
            )
        cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
    return df.select(*cols)
