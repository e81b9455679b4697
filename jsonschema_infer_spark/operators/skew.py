"""Explicit skew handling for hot conv_ids (north_rule mandate).

Most checks in this engine are aggregation-shaped on purpose — partial
aggregation combines map-side, so a hot conversation costs one reducer row
(validate.turn_ordering_violations), or one partial per map task for the
integrity merge (validate.transcript_integrity_summary), not a sorted
shuffle of all its turns. The two places skew can still
bite are (a) per-conversation WINDOW operators, where one 10^7-turn
conversation serializes on a single task, and (b) grouped counts whose key
distribution is Zipf-hot. This module provides the salted two-phase forms:

* ``add_salt`` / ``salted_count`` — generic hot-key group-count: shard each
  key across ``buckets`` reducers, then sum the shards (two small shuffles
  instead of one skewed one).
* ``ts_regressions_salted`` — the per-conversation monotonic-timestamp check
  with a bounded window: each conversation is split into fixed turn_idx
  blocks, the window runs per (conv, block) — so the largest sort group is
  ``block`` rows regardless of conversation size — and block boundaries are
  stitched with a second, tiny per-block window. Result set is identical to
  ``validate.ts_regressions``.

AQE (``spark.sql.adaptive.enabled`` + skewJoin) complements but does not
replace these: AQE can split skewed shuffle PARTITIONS, but a window over one
giant key is a single group no matter how partitions split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def add_salt(df: DataFrame, buckets: int = 16, col_name: str = "_salt") -> DataFrame:
    """Deterministic per-row salt in [0, buckets): xxhash64 of the whole row
    via monotonically-increasing id is NOT reproducible across runs, so salt
    from a stable row hash of all columns instead."""
    return df.withColumn(
        col_name, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(buckets))
    )


def salted_count(
    df: DataFrame, keys: list, buckets: int = 16, salt_cols: list | None = None
) -> DataFrame:
    """groupBy(keys).count() for Zipf-hot keys: phase 1 counts per
    (keys, salt) shard — hot keys spread over ``buckets`` reducers — and
    phase 2 sums the (already tiny) shard counts per key.

    The salt must carry NON-KEY entropy: hashing only the group keys makes
    the salt a deterministic function of the key, so every row of a hot key
    lands in one shard and the mitigation is a no-op. With ``salt_cols``
    the salt is a stable hash of those per-row columns (e.g. turn_idx —
    reproducible across runs); without, rows round-robin on a
    partition-local row position, which spreads hot keys evenly. The salt
    only shapes the intermediate shuffle, never the final counts, so
    run-to-run salt stability is not required for correctness."""
    if salt_cols:
        salted = df.select(*keys, *salt_cols).withColumn(
            "_salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(buckets)),
        )
    else:
        salted = df.select(*keys).withColumn(
            "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(buckets))
        )
    shards = salted.groupBy(*keys, "_salt").agg(F.count(F.lit(1)).alias("c"))
    return shards.groupBy(*keys).agg(F.sum("c").alias("count"))


def ts_regressions_salted(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
    block: int = 1024,
) -> DataFrame:
    """``validate.ts_regressions`` with a bounded sort group.

    The plain form windows over (conv) — exact, but one hot conversation
    with 10^7 turns becomes one 10^7-row sort group on one task. Here:

    1. interior pass: window over (conv, turn_idx DIV block); each group is
       at most ``block`` rows, so hot conversations shard evenly;
    2. boundary pass: per (conv, block) aggregate first/last (idx, ts) via
       min_by/max_by (map-side combined), then a window over the BLOCKS of
       each conversation — thousands of rows per conv at block=1024 even
       for a 10^6-turn conversation — flags first-row-of-block regressions.

    Union of the two passes == the plain operator's result set (a
    regression is between consecutive turns; consecutive turns are either
    in the same block (pass 1) or in adjacent blocks (pass 2))."""
    blk = F.floor(F.col(idx_col) / F.lit(block)).alias("_blk")
    base = df.select(conv_col, idx_col, ts_col, blk)

    w_in = Window.partitionBy(conv_col, "_blk").orderBy(idx_col)
    prev_in = F.lag(ts_col).over(w_in)
    interior = base.select(
        conv_col, idx_col, ts_col, prev_in.alias("prev_ts")
    ).filter(F.col("prev_ts").isNotNull() & (F.col(ts_col) <= F.col("prev_ts")))

    per_block = base.groupBy(conv_col, "_blk").agg(
        F.min_by(idx_col, idx_col).alias("first_idx"),
        F.min_by(ts_col, idx_col).alias("first_ts"),
        F.max_by(ts_col, idx_col).alias("last_ts"),
    )
    w_blk = Window.partitionBy(conv_col).orderBy("_blk")
    prev_last = F.lag("last_ts").over(w_blk)
    boundary = (
        per_block.select(
            conv_col,
            F.col("first_idx").alias(idx_col),
            F.col("first_ts").alias(ts_col),
            prev_last.alias("prev_ts"),
        )
        .filter(F.col("prev_ts").isNotNull() & (F.col(ts_col) <= F.col("prev_ts")))
    )
    return interior.unionByName(boundary)
