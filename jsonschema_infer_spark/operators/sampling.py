"""Deterministic sampling and splitting for training-data pipelines.

Every split here is a pure function of the row's key — no RNG state, no
`rand()` whose result changes per task retry or per run. That property is
what makes a 100 TB split reproducible (re-running the job, or running it
on a different cluster layout, assigns every row to the same split) and
auditable (an external engine can recompute the assignment — each
operator has a DuckDB oracle twin in __spark_entry__).

The hash is md5-derived rather than xxhash64 for the same reason as
``dedup.md5_hash64``: md5 is bit-identical in every engine, so the split
is portable across Spark, DuckDB, or a plain Python checker.

Scale shapes:
- ``hash_split`` is a zero-shuffle projection (split assignment rides the
  scan).
- ``stratified_cap`` is a per-strata top-k; Spark 4 plans it with
  WindowGroupLimit, shuffling at most k rows per (strata, input
  partition) — same bounded shape as validate.violation_examples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# 2^52: the largest power of two a DOUBLE holds exactly AND within the
# exact-integer range where BIGINT->DOUBLE division is lossless enough to
# agree across engines; 13 hex chars of md5 = 52 uniform bits.
_HASH_SPACE = float(1 << 52)


def _unit_hash(col, salt: str):
    """Uniform [0, 1) double from md5(key || ':' || salt) — engine-portable
    (DuckDB: CAST(concat('0x', substr(md5(...), 1, 13)) AS BIGINT) /
    2^52)."""
    h = F.md5(F.concat(col.cast("string"), F.lit(f":{salt}")))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("bigint") / F.lit(
        _HASH_SPACE
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict | None = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hashing its key: the standard
    reproducible train/validation/test partition. ``fractions`` maps split
    name -> fraction (must sum to <= 1; remainder falls into the LAST
    listed split so nothing is dropped); default 0.8/0.1/0.1
    train/validation/test.

    Keyed on ``key_col`` so correlated rows stay together — split
    transcripts by conv_id, not by turn, or the same conversation leaks
    across train and test."""
    if fractions is None:
        fractions = {"train": 0.8, "validation": 0.1, "test": 0.1}
    if not fractions:
        raise ValueError("fractions must name at least one split")
    import math

    total = math.fsum(fractions.values())
    if total > 1.0 + 1e-9:
        # fractions past 1 would silently truncate later splits to empty
        raise ValueError(f"fractions must sum to <= 1, got {total}")

    u = _unit_hash(F.col(key_col), salt)
    names = list(fractions)
    expr = None
    for i, name in enumerate(names[:-1]):
        # correctly-rounded prefix sum (fsum), not float accumulation:
        # 0.8 + 0.1 accumulates to 0.9000000000000001 while an external
        # engine's literal 0.9 is 0.9000000000000000222 — a boundary key
        # would split differently across engines
        acc = math.fsum(fractions[n] for n in names[: i + 1])
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def stratified_cap(
    df: DataFrame,
    strata_cols: list,
    k: int,
    order_cols: list,
    rank_col: str = "strata_rank",
) -> DataFrame:
    """At most ``k`` rows per strata, deterministically chosen by
    ``order_cols`` — the "cap each language/domain at N documents" balance
    pass. Plans as WindowGroupLimit (partial per-partition top-k below the
    exchange), so the shuffle is bounded by k per strata per input
    partition regardless of how skewed the strata are."""
    from pyspark.sql import Window

    w = Window.partitionBy(*strata_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )
