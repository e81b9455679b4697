"""Distribution-drift checks between two table snapshots (north_rule:
"KS/chi-square distribution-drift checks across Iceberg snapshots").

Every statistic reads one paired-count table ``(key, n_a, n_b)``: one
union scan and one map-side-combined groupBy (SURVEY.md §4.2), so only
(key, counts) pairs are shuffled, never rows. The key is a category
(chi-square and categorical PSI, capped to the top ``max_categories``), a
distinct value (exact KS) or a bucket of one shared fixed-width histogram
(histogram KS and numeric PSI). ``chi2_terms``, ``ks_statistic`` and the
``psi_*`` operators return DataFrames; ``categorical_drift`` and
``numeric_drift`` collect them and add the p-value on the driver with
functions/stats.py.

Snapshots are any two DataFrames — in production two Iceberg snapshot reads
(``VERSION AS OF``) via sources/provider.py; in the sandbox two parquet
directories (same statistics code either way)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.stats import chi2_sf, ks_two_sample_p


OTHER_BUCKET = "__other__"


def _as_column(column) -> Column:
    return F.col(column) if isinstance(column, str) else column


def _non_null(df: DataFrame, expr: Column, key: str) -> DataFrame:
    return df.select(expr.alias(key)).where(F.col(key).isNotNull())


def _paired_counts(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """(key, n_a, n_b) over two one-column frames: one union scan, one
    map-side-combined groupBy shuffling only (key, counts) pairs — no
    row-proportional shuffle at any size."""
    u = a.withColumn("side", F.lit(1)).unionByName(b.withColumn("side", F.lit(0)))
    return u.groupBy(key).agg(
        F.sum("side").alias("n_a"),
        F.sum(F.lit(1) - F.col("side")).alias("n_b"),
    )


def _paired_category_counts(
    df_a: DataFrame, df_b: DataFrame, column: str
) -> DataFrame:
    """(cat, n_a, n_b) counts of a categorical column over two snapshots.
    Categories are cast to string (the ``__other__`` fold is
    string-keyed)."""
    cat = F.col(column).cast("string")
    return _paired_counts(
        _non_null(df_a, cat, "cat"), _non_null(df_b, cat, "cat"), "cat"
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


def _with_totals(g: DataFrame) -> DataFrame:
    """A paired-count table with both sides' totals (``ta``, ``tb``, as
    doubles) broadcast onto every row."""
    tot = g.agg(
        F.sum("n_a").cast("double").alias("ta"),
        F.sum("n_b").cast("double").alias("tb"),
    )
    return g.crossJoin(F.broadcast(tot))


def _category_totals(
    df_a: DataFrame, df_b: DataFrame, column: str, max_categories: int | None
) -> DataFrame:
    g = _paired_category_counts(df_a, df_b, column)
    if max_categories is not None:
        g = _cap_paired_counts(g, max_categories)
    return _with_totals(g)


def _histogram_counts(
    df_a: DataFrame,
    df_b: DataFrame,
    column,
    bins: int,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """(bucket, n_a, n_b) over a shared fixed-width histogram of a numeric
    column (or Column expression). Bucket math is plain
    ``greatest(0, least(floor((v - lo) / width), bins - 1))`` so an external
    SQL engine reproduces it bit-for-bit (no width_bucket boundary quirks);
    both edges clamp, so with a pinned ``lo`` values below it fall into
    bucket 0 the way values past ``hi`` fall into ``bins - 1``. ``lo``/``hi``
    default to the union min/max (one extra tiny agg job); pass them to pin
    the layout across many snapshots."""
    v = _as_column(column).cast("double")
    va, vb = _non_null(df_a, v, "v"), _non_null(df_b, v, "v")
    if lo is None or hi is None:
        bounds = (
            va.unionByName(vb)
            .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
            .collect()[0]
        )
        if bounds.lo is None:  # both sides all-NULL/empty: nothing to bucket
            return df_a.sparkSession.createDataFrame(
                [], "bucket long, n_a bigint, n_b bigint"
            )
        lo = float(bounds.lo) if lo is None else lo
        hi = float(bounds.hi) if hi is None else hi
    width = (hi - lo) / bins if hi > lo else 1.0
    bucket = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.floor((F.col("v") - F.lit(lo)) / F.lit(width)).cast("long"),
            F.lit(bins - 1),
        ),
    ).alias("bucket")
    return _paired_counts(va.select(bucket), vb.select(bucket), "bucket")


def chi2_terms(
    df_a: DataFrame, df_b: DataFrame, column: str, max_categories: int = 1000
) -> DataFrame:
    """Chi-square homogeneity terms of a categorical column, one
    ``(column, n_a, n_b, chi2_term)`` row per category; the statistic is
    the sum of ``chi2_term``. Expected counts come from the pooled
    proportions. Categories past the top ``max_categories`` fold into one
    ``__other__`` row on BOTH sides (the homogeneity test needs one
    partition of the category space); ``None`` keeps every category."""
    j = _category_totals(df_a, df_b, column, max_categories)
    row = (F.col("n_a") + F.col("n_b")).cast("double")
    grand = F.col("ta") + F.col("tb")
    ea = row * F.col("ta") / grand
    eb = row * F.col("tb") / grand
    # try_divide: an empty side gives NULL terms, not an ANSI divide error
    term = F.try_divide(F.pow(F.col("n_a") - ea, F.lit(2)), ea) + F.try_divide(
        F.pow(F.col("n_b") - eb, F.lit(2)), eb
    )
    return j.select(F.col("cat").alias(column), "n_a", "n_b", term.alias("chi2_term"))


def categorical_drift(
    df_a: DataFrame, df_b: DataFrame, column: str, max_categories: int = 1000
) -> dict:
    """Chi-square homogeneity test on a categorical column's distribution:
    ``chi2_terms`` collected (at most ``max_categories + 1`` rows) plus the
    p-value. Pass ``max_categories=None`` to collect the full domain."""
    rows = chi2_terms(df_a, df_b, column, max_categories).collect()
    n_a, n_b = sum(r.n_a for r in rows), sum(r.n_b for r in rows)
    if n_a == 0 or n_b == 0:
        raise ValueError("both samples must be non-empty")
    stat = sum(r.chi2_term for r in rows)
    dof = max(len(rows) - 1, 1)
    return {
        "statistic": stat,
        "dof": dof,
        "p_value": chi2_sf(stat, dof),
        "n_a": n_a,
        "n_b": n_b,
        "categories": len(rows),
        "column": column,
    }


def ks_statistic(
    df_a: DataFrame, df_b: DataFrame, column, bins: int | None = None
) -> DataFrame:
    """One row ``(d, n_a, n_b)``: the two-sample KS statistic D of a numeric
    column (or Column expression) and the non-null counts of each side.

    Without ``bins``, D is exact: one cumulative window over the paired
    counts per DISTINCT value. That window has no partition key, so one
    task sorts the distinct values — fine at moderate cardinality, serial
    on an id-like column. With ``bins``, the same window runs over the
    shared fixed-width histogram ``psi_numeric`` uses (at most ``bins``
    rows; D is then exact on the bucketed values): the 100 TB shape."""
    if bins is None:
        v = _as_column(column)
        g = _paired_counts(_non_null(df_a, v, "v"), _non_null(df_b, v, "v"), "v")
        key = "v"
    else:
        g, key = _histogram_counts(df_a, df_b, column, bins), "bucket"
    upto = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, 0)
    every = Window.partitionBy()
    n_a, n_b = F.sum("n_a").over(every), F.sum("n_b").over(every)
    diff = F.abs(
        F.try_divide(F.sum("n_a").over(upto), n_a)
        - F.try_divide(F.sum("n_b").over(upto), n_b)
    )
    return g.select(diff.alias("diff"), n_a.alias("n_a"), n_b.alias("n_b")).agg(
        F.max("diff").alias("d"), F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b")
    )


def numeric_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    column,
    mode: str = "exact",
    bins: int = 1024,
    max_exact_distinct: int | None = 100_000,
) -> dict:
    """Two-sample KS test on a numeric column (or Column expression):
    ``ks_statistic`` collected plus the p-value.

    ``mode='exact'`` sorts the DISTINCT values through one global window —
    a silent single-task serial sort if the column is high-cardinality. A
    cheap ``approx_count_distinct`` probe guards that: above
    ``max_exact_distinct`` the call auto-switches to ``mode='hist'`` with
    ``bins`` buckets (the returned ``mode`` reflects what actually ran).
    Pass ``max_exact_distinct=None`` to skip the probe and force the exact
    path."""
    if mode not in ("exact", "hist"):
        raise ValueError("mode must be 'exact' or 'hist'")
    if mode == "exact" and max_exact_distinct is not None:
        v = _as_column(column).alias("v")
        nd = (
            df_a.select(v)
            .unionByName(df_b.select(v))
            .agg(F.approx_count_distinct("v").alias("nd"))
            .collect()[0]
            .nd
        )
        if nd > max_exact_distinct:
            mode = "hist"
    r = ks_statistic(df_a, df_b, column, bins if mode == "hist" else None).collect()[0]
    if not r.n_a or not r.n_b:
        raise ValueError("both samples must be non-empty")
    return {
        "column": str(column),
        "d": float(r.d),
        "n_a": int(r.n_a),
        "n_b": int(r.n_b),
        "p_value": ks_two_sample_p(float(r.d), int(r.n_a), int(r.n_b)),
        "mode": mode,
    }


def _psi_terms(j: DataFrame, key: Column, eps: float) -> DataFrame:
    pa = F.greatest(F.col("n_a") / F.col("ta"), F.lit(eps))
    pb = F.greatest(F.col("n_b") / F.col("tb"), F.lit(eps))
    term = (pa - pb) * F.log(pa / pb)
    return j.select(key, "n_a", "n_b", F.round(term, 6).alias("psi_term"))


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
    Unlike the chi-square it needs no p-value machinery, which is why ops
    teams run it per-snapshot as a monitor. Returns (category, n_a, n_b,
    psi_term) rows, terms rounded to 6 decimals for deterministic
    comparison, over the same capped category counts as ``chi2_terms``
    (``None`` skips the cap)."""
    j = _category_totals(df_a, df_b, column, max_categories)
    return _psi_terms(j, F.col("cat").alias(column), eps)


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
    bounded-cardinality form for continuous values (bucket counts are the
    only shuffle; the histogram is the one the histogram KS reads). Returns
    (bucket, n_a, n_b, psi_term) rows; no rows when both sides are
    empty."""
    j = _with_totals(_histogram_counts(df_a, df_b, column, bins, lo, hi))
    return _psi_terms(j, F.col("bucket"), eps)
