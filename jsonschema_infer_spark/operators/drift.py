"""Distribution-drift checks between two table snapshots (north_rule:
"KS/chi-square distribution-drift checks across Iceberg snapshots").

All heavy lifting is built-in Spark plumbing (SURVEY.md §4.2): category
histograms via groupBy partial aggregation, ECDFs via groupBy-on-value +
one ordered pass over the DISTINCT values (tiny compared to the data), or a
fixed-width histogram sketch for the 100 TB path. Only the final test
statistics (a handful of floats) are computed on the driver with
functions/stats.py.

Snapshots are any two DataFrames — in production two Iceberg snapshot reads
(``VERSION AS OF``) via sources/provider.py; in the sandbox two parquet
directories (same statistics code either way)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.stats import chi2_homogeneity, ks_two_sample_p


OTHER_BUCKET = "__other__"


def _paired_category_counts(
    df_a: DataFrame, df_b: DataFrame, column: str
) -> DataFrame:
    """(cat, n_a, n_b) counts of a categorical column over two snapshots:
    one union scan, one map-side-combined groupBy shuffling only
    (category, counts) pairs — no row-proportional shuffle at any size.
    Categories are cast to string (the ``__other__`` fold is
    string-keyed)."""
    a = df_a.select(F.col(column).cast("string").alias("cat")).where(
        F.col("cat").isNotNull()
    )
    b = df_b.select(F.col(column).cast("string").alias("cat")).where(
        F.col("cat").isNotNull()
    )
    u = a.withColumn("side", F.lit(1)).unionByName(b.withColumn("side", F.lit(0)))
    return u.groupBy("cat").agg(
        F.sum("side").alias("n_a"),
        F.sum(F.lit(1) - F.col("side")).alias("n_b"),
    )


def _cap_paired_counts(g: DataFrame, k: int) -> DataFrame:
    """Bound a (cat, n_a, n_b) count table to the top-``k`` categories by
    combined count (category asc on ties — deterministic), folding the
    rest into one ``__other__`` row. An id-like column passed as
    "categorical" then costs a ``k+1``-row driver collect instead of an
    O(categories) OOM. Top-k is TakeOrderedAndProject (distributed partial
    top-k, no global sort); the remainder fold is a broadcast anti-join +
    one scalar agg. Totals are preserved exactly, so tests computed on the
    capped domain match a hand-fold of the full domain."""
    top = g.orderBy(F.desc(F.col("n_a") + F.col("n_b")), F.col("cat").asc()).limit(k)
    rest = (
        g.join(F.broadcast(top.select("cat")), "cat", "left_anti")
        .agg(
            F.coalesce(F.sum("n_a"), F.lit(0)).alias("n_a"),
            F.coalesce(F.sum("n_b"), F.lit(0)).alias("n_b"),
        )
        .select(F.lit(OTHER_BUCKET).alias("cat"), "n_a", "n_b")
        .where((F.col("n_a") + F.col("n_b")) > 0)
    )
    return top.unionByName(rest)


def categorical_drift(
    df_a: DataFrame, df_b: DataFrame, column: str, max_categories: int = 1000
) -> dict:
    """Chi-square homogeneity test on a categorical column's distribution.

    The groupBy shuffles only (category, count) pairs — map-side combined,
    so cost is a scan regardless of table size. The driver collect is
    bounded by ``max_categories``: beyond it, the tail folds DISTRIBUTED
    into one ``__other__`` category on BOTH sides (one top-K+other cap —
    both sides must share one partition of the category space for the
    homogeneity test to mean anything). Pass
    ``max_categories=None`` to collect the full domain."""
    g = _paired_category_counts(df_a, df_b, column)
    if max_categories is not None:
        g = _cap_paired_counts(g, max_categories)
    rows = g.collect()
    ca = {r.cat: int(r.n_a) for r in rows if r.n_a > 0}
    cb = {r.cat: int(r.n_b) for r in rows if r.n_b > 0}
    out = chi2_homogeneity(ca, cb)
    out["column"] = column
    return out


def _exact_ks_d(df_a: DataFrame, df_b: DataFrame, col_expr) -> tuple:
    """Exact two-sample KS statistic D.

    Pre-aggregates per distinct value (groupBy = partial agg), then runs a
    cumulative window over the DISTINCT values only. Exactness costs a
    global sort of distinct values — right for tests/moderate cardinality;
    use mode='hist' at extreme scale."""
    a = df_a.select(col_expr.alias("v")).where(F.col("v").isNotNull())
    b = df_b.select(col_expr.alias("v")).where(F.col("v").isNotNull())
    u = a.withColumn("side", F.lit(1)).unionByName(b.withColumn("side", F.lit(0)))
    g = u.groupBy("v").agg(
        F.count(F.when(F.col("side") == 1, 1)).alias("ca"),
        F.count(F.when(F.col("side") == 0, 1)).alias("cb"),
    )
    n1 = a.count()
    n2 = b.count()
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    d_row = (
        g.select(
            F.abs(
                F.sum("ca").over(w) / F.lit(float(n1))
                - F.sum("cb").over(w) / F.lit(float(n2))
            ).alias("diff")
        )
        .agg(F.max("diff").alias("d"))
        .collect()[0]
    )
    return float(d_row.d), n1, n2


def _hist_ks_d(df_a: DataFrame, df_b: DataFrame, col_expr, bins: int) -> tuple:
    """Approximate KS D via a shared fixed-width histogram (error <= 1/bins
    in ECDF space plus binning error): two scans + tiny driver reduce —
    the 100 TB path (no global sort, no high-cardinality shuffle)."""
    a = df_a.select(col_expr.cast("double").alias("v")).where(F.col("v").isNotNull())
    b = df_b.select(col_expr.cast("double").alias("v")).where(F.col("v").isNotNull())
    bounds = (
        a.unionByName(b)
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()[0]
    )
    lo, hi = float(bounds.lo), float(bounds.hi)
    if hi <= lo:
        return 0.0, a.count(), b.count()

    def hist(df):
        return {
            r.bucket: r["count"]
            for r in df.select(
                F.width_bucket(F.col("v"), F.lit(lo), F.lit(hi), F.lit(bins)).alias(
                    "bucket"
                )
            )
            .groupBy("bucket")
            .count()
            .collect()
        }

    ha, hb = hist(a), hist(b)
    n1, n2 = sum(ha.values()), sum(hb.values())
    cum_a = cum_b = 0.0
    d = 0.0
    for k in range(1, bins + 2):  # width_bucket: hi falls in bins+1
        cum_a += ha.get(k, 0) / n1
        cum_b += hb.get(k, 0) / n2
        d = max(d, abs(cum_a - cum_b))
    return d, n1, n2


def numeric_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    column,
    mode: str = "exact",
    bins: int = 1024,
    max_exact_distinct: int | None = 100_000,
) -> dict:
    """Two-sample KS test on a numeric column (or Column expression).

    ``mode='exact'`` sorts the DISTINCT values through one global window —
    a silent single-task serial sort if the column is high-cardinality. A
    cheap ``approx_count_distinct`` probe guards that: above
    ``max_exact_distinct`` the call auto-switches to ``mode='hist'`` (the
    returned ``mode`` reflects what actually ran). Pass
    ``max_exact_distinct=None`` to skip the probe and force the exact path."""
    col_expr = F.col(column) if isinstance(column, str) else column
    if mode == "exact" and max_exact_distinct is not None:
        nd = (
            df_a.select(col_expr.alias("v"))
            .unionByName(df_b.select(col_expr.alias("v")))
            .agg(F.approx_count_distinct("v").alias("nd"))
            .collect()[0]
            .nd
        )
        if nd > max_exact_distinct:
            mode = "hist"
    if mode == "exact":
        d, n1, n2 = _exact_ks_d(df_a, df_b, col_expr)
    elif mode == "hist":
        d, n1, n2 = _hist_ks_d(df_a, df_b, col_expr, bins)
    else:
        raise ValueError("mode must be 'exact' or 'hist'")
    return {
        "column": str(column),
        "d": d,
        "n_a": n1,
        "n_b": n2,
        "p_value": ks_two_sample_p(d, n1, n2),
        "mode": mode,
    }


def psi_categorical(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str,
    eps: float = 1e-6,
    max_categories: int = 1000,
) -> DataFrame:
    """Population Stability Index per category: ``(pa - pb) * ln(pa / pb)``
    with proportions clamped to ``eps`` so one-sided categories contribute
    a large finite term instead of infinity. Total PSI = sum of terms
    (common reading: < 0.1 stable, 0.1-0.25 shifting, > 0.25 drifted).

    Same scale shape as ``categorical_drift``: one union scan, one
    map-side-combined groupBy shuffling (category, count) pairs, totals
    broadcast back — no row-proportional shuffle at any size. Unlike the
    chi-square it needs no p-value machinery, which is why ops teams run
    it per-snapshot as a monitor; both live here so the report can carry
    both. Returns (category, n_a, n_b, psi_term) rows, terms rounded to 6
    decimals for deterministic comparison.

    Output cardinality is bounded by ``max_categories`` (top-K by combined
    count, tail folded distributed into ``__other__`` — the same cap as
    ``categorical_drift``), so a caller's ``.collect()`` on the result
    can't OOM the driver when handed an id-like column. Totals (and hence
    the summed PSI's category partition) are fold-exact. ``None`` skips
    the cap."""
    g = _paired_category_counts(df_a, df_b, column)
    if max_categories is not None:
        g = _cap_paired_counts(g, max_categories)
    tot = g.agg(
        F.sum("n_a").cast("double").alias("ta"),
        F.sum("n_b").cast("double").alias("tb"),
    )
    j = g.crossJoin(F.broadcast(tot))
    pa = F.greatest(F.col("n_a") / F.col("ta"), F.lit(eps))
    pb = F.greatest(F.col("n_b") / F.col("tb"), F.lit(eps))
    term = (pa - pb) * F.log(pa / pb)
    return j.select(
        F.col("cat").alias(column),
        "n_a",
        "n_b",
        F.round(term, 6).alias("psi_term"),
    )


def psi_numeric(
    df_a: DataFrame,
    df_b: DataFrame,
    column,
    bins: int = 32,
    lo: float | None = None,
    hi: float | None = None,
    eps: float = 1e-6,
) -> DataFrame:
    """PSI over a shared fixed-width histogram of a numeric column — the
    bounded-cardinality form for continuous values (bucket count is the
    only shuffle, like ``_hist_ks_d``). Bucket math is plain
    ``least(floor((v - lo) / width), bins - 1)`` so an external SQL engine
    reproduces it bit-for-bit (no width_bucket boundary quirks). ``lo``/
    ``hi`` default to the union min/max (one extra tiny agg scan); pass
    them explicitly to pin the layout across many snapshots."""
    va = df_a.select(
        (F.col(column) if isinstance(column, str) else column)
        .cast("double")
        .alias("v")
    ).where(F.col("v").isNotNull())
    vb = df_b.select(
        (F.col(column) if isinstance(column, str) else column)
        .cast("double")
        .alias("v")
    ).where(F.col("v").isNotNull())
    if lo is None or hi is None:
        bounds = (
            va.unionByName(vb)
            .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
            .collect()[0]
        )
        if bounds.lo is None:  # both sides all-NULL/empty: nothing to drift
            spark = df_a.sparkSession
            return spark.createDataFrame(
                [], "bucket long, n_a bigint, n_b bigint, psi_term double"
            )
        lo = float(bounds.lo) if lo is None else lo
        hi = float(bounds.hi) if hi is None else hi
    width = (hi - lo) / bins if hi > lo else 1.0
    # clamp BOTH edges: with an explicitly pinned lo, values below it must
    # collapse into bucket 0 the way values past hi collapse into bins-1
    # (matches the SQL oracle)
    bucket = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.floor((F.col("v") - F.lit(lo)) / F.lit(width)).cast("long"),
            F.lit(bins - 1),
        ),
    )
    u = va.withColumn("side", F.lit(1)).unionByName(vb.withColumn("side", F.lit(0)))
    g = u.select(bucket.alias("bucket"), "side").groupBy("bucket").agg(
        F.sum("side").alias("n_a"),
        F.sum(F.lit(1) - F.col("side")).alias("n_b"),
    )
    tot = g.agg(
        F.sum("n_a").cast("double").alias("ta"),
        F.sum("n_b").cast("double").alias("tb"),
    )
    j = g.crossJoin(F.broadcast(tot))
    pa = F.greatest(F.col("n_a") / F.col("ta"), F.lit(eps))
    pb = F.greatest(F.col("n_b") / F.col("tb"), F.lit(eps))
    term = (pa - pb) * F.log(pa / pb)
    return j.select("bucket", "n_a", "n_b", F.round(term, 6).alias("psi_term"))
