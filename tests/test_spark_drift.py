"""Drift checks across two snapshots (FIXTURES.md §C contract): role chi2
and both KS checks must reject at alpha=0.01; tool chi2 must NOT reject
(false-positive guard)."""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from jsonschema_infer_spark.operators.drift import (
    categorical_drift,
    numeric_drift,
)
from jsonschema_infer_spark.sources.transcripts import generate_transcripts, write_parquet


@pytest.fixture(scope="module")
def snaps(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("snaps")
    base = generate_transcripts(3000, seed=42)
    shifted = generate_transcripts(3000, seed=43, shifted=True)
    pa_, pb_ = str(d / "snap_base.parquet"), str(d / "snap_shifted.parquet")
    write_parquet(base, pa_)
    write_parquet(shifted, pb_)
    return spark.read.parquet(pa_), spark.read.parquet(pb_)


def test_hist_mode_agrees_with_exact(snaps):
    from pyspark.sql import functions as F

    a, b = snaps
    exact = numeric_drift(a, b, F.length("text"), mode="exact")
    hist = numeric_drift(a, b, F.length("text"), mode="hist", bins=512)
    assert hist["d"] == pytest.approx(exact["d"], abs=0.02)
    assert hist["drifted"] if "drifted" in hist else hist["p_value"] < 0.01


def test_categorical_drift_detects_reweighting(snaps):
    a, b = snaps
    r = categorical_drift(a, b, "role")
    assert r["p_value"] < 1e-6
    same = categorical_drift(a, a, "role")
    assert same["statistic"] == pytest.approx(0.0)


def test_psi_categorical_matches_hand_computation(spark):
    import math

    from jsonschema_infer_spark.operators.drift import psi_categorical

    a = spark.createDataFrame([("x",)] * 80 + [("y",)] * 20, "cat string")
    b = spark.createDataFrame([("x",)] * 50 + [("y",)] * 50, "cat string")
    rows = {r.cat: r for r in psi_categorical(a, b, "cat").collect()}
    exp_x = (0.8 - 0.5) * math.log(0.8 / 0.5)
    exp_y = (0.2 - 0.5) * math.log(0.2 / 0.5)
    assert rows["x"].psi_term == pytest.approx(exp_x, abs=1e-6)
    assert rows["y"].psi_term == pytest.approx(exp_y, abs=1e-6)
    assert rows["x"].n_a == 80 and rows["x"].n_b == 50


def test_psi_one_sided_category_finite(spark):
    from jsonschema_infer_spark.operators.drift import psi_categorical

    a = spark.createDataFrame([("only_a",)] * 10, "cat string")
    b = spark.createDataFrame([("only_b",)] * 10, "cat string")
    rows = psi_categorical(a, b, "cat").collect()
    total = sum(r.psi_term for r in rows)
    assert all(abs(r.psi_term) < float("inf") for r in rows)
    assert total > 0.25  # fully disjoint distributions read as drifted


def test_psi_identical_snapshots_zero(snaps):
    from jsonschema_infer_spark.operators.drift import psi_categorical, psi_numeric
    from pyspark.sql import functions as F

    a, _ = snaps
    cat = psi_categorical(a, a, "role").collect()
    assert all(r.psi_term == 0.0 for r in cat)
    num = psi_numeric(a, a, F.length("text"), bins=16).collect()
    assert all(r.psi_term == 0.0 for r in num)


def test_psi_detects_transcript_shift(snaps):
    from jsonschema_infer_spark.operators.drift import psi_categorical, psi_numeric
    from pyspark.sql import functions as F

    a, b = snaps
    total_cat = sum(r.psi_term for r in psi_categorical(a, b, "role").collect())
    assert total_cat > 0.01, total_cat
    total_num = sum(
        r.psi_term
        for r in psi_numeric(a, b, F.length("text"), bins=32).collect()
    )
    assert total_num > 0.01, total_num


def test_psi_numeric_pinned_bounds_stable_buckets(snaps):
    from jsonschema_infer_spark.operators.drift import psi_numeric
    from pyspark.sql import functions as F

    a, b = snaps
    auto = psi_numeric(a, b, F.length("text"), bins=16)
    pinned = psi_numeric(a, b, F.length("text"), bins=16, lo=0.0, hi=4000.0)
    assert {r.bucket for r in auto.collect()} <= set(range(16))
    assert {r.bucket for r in pinned.collect()} <= set(range(16))


def test_exact_ks_cardinality_guard(spark):
    """mode='exact' sorts DISTINCT values through one global window — above
    max_exact_distinct it must auto-switch to the histogram path instead of
    silently serial-sorting (the returned mode says what ran)."""
    from pyspark.sql import functions as F

    a = spark.range(0, 5000).select((F.col("id") * 1.0).alias("v"))
    b = spark.range(0, 5000).select((F.col("id") * 1.0 + 0.25).alias("v"))
    out = numeric_drift(a, b, "v", mode="exact", max_exact_distinct=100)
    assert out["mode"] == "hist"
    forced = numeric_drift(a, b, "v", mode="exact", max_exact_distinct=None)
    assert forced["mode"] == "exact"
    # low-cardinality exact stays exact under the default guard
    la = spark.range(0, 1000).select((F.col("id") % 7 * 1.0).alias("v"))
    lb = spark.range(0, 1000).select((F.col("id") % 5 * 1.0).alias("v"))
    assert numeric_drift(la, lb, "v", mode="exact")["mode"] == "exact"


def test_psi_numeric_pinned_lo_clamps_low_values(spark):
    """With explicitly pinned lo, values BELOW lo must collapse into bucket
    0 the way values past hi collapse into bins-1 (ADVICE r2)."""
    from pyspark.sql import functions as F

    from jsonschema_infer_spark.operators.drift import psi_numeric

    a = spark.createDataFrame([(-50.0,), (0.5,), (1.5,), (99.0,)], "v double")
    b = spark.createDataFrame([(0.5,), (3.5,)], "v double")
    rows = psi_numeric(a, b, F.col("v"), bins=4, lo=0.0, hi=4.0).collect()
    buckets = {r.bucket: (r.n_a, r.n_b) for r in rows}
    assert set(buckets) <= {0, 1, 2, 3}
    # -50 collapsed into bucket 0 alongside 0.5; 99 into bucket 3
    assert buckets[0][0] == 2
    assert buckets[3][0] == 1


def test_batch_drift_cap_bounds_collect_and_is_fold_exact(spark):
    """VERDICT r4 item 4: an id-like column passed as "categorical" must
    cost a <= max_categories+1-row driver collect, and the chi2/PSI on the
    capped domain must equal a hand-fold of the full domain."""
    from pyspark.sql import functions as F

    from jsonschema_infer_spark.functions.stats import chi2_homogeneity
    from jsonschema_infer_spark.operators.drift import (
        OTHER_BUCKET,
        _cap_paired_counts,
        _paired_category_counts,
        psi_categorical,
    )

    # 10_000 distinct ids per side; ids 0..49 are 10x heavier so the top-K
    # is deterministic; side b reweights them to create real drift
    a = (
        spark.range(0, 10_000)
        .withColumn("w", F.when(F.col("id") < 50, 10).otherwise(1))
        .select(F.explode(F.array_repeat(F.col("id").cast("string"), F.col("w").cast("int"))).alias("cat"))
    )
    b = (
        spark.range(0, 10_000)
        .withColumn("w", F.when(F.col("id") < 50, 20).otherwise(1))
        .select(F.explode(F.array_repeat(F.col("id").cast("string"), F.col("w").cast("int"))).alias("cat"))
    )
    k = 100
    capped = _cap_paired_counts(_paired_category_counts(a, b, "cat"), k)
    rows = capped.collect()
    assert len(rows) <= k + 1  # the bounded driver collect
    assert any(r.cat == OTHER_BUCKET for r in rows)
    # totals preserved exactly by the fold
    assert sum(r.n_a for r in rows) == 50 * 10 + 9_950
    assert sum(r.n_b for r in rows) == 50 * 20 + 9_950

    # chi2 on the capped domain == chi2 on a hand-fold of the full domain
    full = _paired_category_counts(a, b, "cat").collect()
    kept = {r.cat for r in rows if r.cat != OTHER_BUCKET}
    ca = {r.cat: int(r.n_a) for r in full if r.cat in kept}
    cb = {r.cat: int(r.n_b) for r in full if r.cat in kept}
    ca[OTHER_BUCKET] = sum(int(r.n_a) for r in full if r.cat not in kept)
    cb[OTHER_BUCKET] = sum(int(r.n_b) for r in full if r.cat not in kept)
    hand = chi2_homogeneity(ca, cb)
    capped_ca = {r.cat: int(r.n_a) for r in rows if r.n_a > 0}
    capped_cb = {r.cat: int(r.n_b) for r in rows if r.n_b > 0}
    spark_side = chi2_homogeneity(capped_ca, capped_cb)
    assert spark_side["statistic"] == pytest.approx(hand["statistic"], rel=1e-9)
    assert spark_side["dof"] == hand["dof"]

    # PSI path: bounded output + fold-exact total on the same partition
    psi_rows = psi_categorical(a, b, "cat", max_categories=k).collect()
    assert len(psi_rows) <= k + 1
    import math

    ta = sum(v for v in ca.values())
    tb = sum(v for v in cb.values())
    eps = 1e-6
    exp_total = 0.0
    for c in set(ca) | set(cb):
        pa_ = max(ca.get(c, 0) / ta, eps)
        pb_ = max(cb.get(c, 0) / tb, eps)
        exp_total += (pa_ - pb_) * math.log(pa_ / pb_)
    got_total = sum(r.psi_term for r in psi_rows)
    assert got_total == pytest.approx(exp_total, abs=1e-4)


def test_batch_drift_cap_noop_below_k(spark):
    """Low-cardinality columns are untouched by the default cap — no
    __other__ row, identical stats to max_categories=None."""
    from jsonschema_infer_spark.operators.drift import OTHER_BUCKET, psi_categorical

    a = spark.createDataFrame([("x",)] * 80 + [("y",)] * 20, "cat string")
    b = spark.createDataFrame([("x",)] * 50 + [("y",)] * 50, "cat string")
    capped = psi_categorical(a, b, "cat").collect()
    uncapped = psi_categorical(a, b, "cat", max_categories=None).collect()
    assert {r.cat for r in capped} == {"x", "y"}
    assert OTHER_BUCKET not in {r.cat for r in capped}
    assert {(r.cat, r.n_a, r.n_b, r.psi_term) for r in capped} == {
        (r.cat, r.n_a, r.n_b, r.psi_term) for r in uncapped
    }
    r_cap = categorical_drift(a, b, "cat")
    r_full = categorical_drift(a, b, "cat", max_categories=None)
    assert r_cap["statistic"] == pytest.approx(r_full["statistic"])
    assert r_cap["dof"] == r_full["dof"]


# (cat, n_a, n_b) tables as _paired_category_counts builds them (every
# category seen at least once; counts 0-2 so ranks tie often) and a k
# that mostly cuts through them
@st.composite
def _capped_tables(draw):
    table = draw(st.dictionaries(
        keys=st.text(alphabet="abc", min_size=1, max_size=3),
        values=st.tuples(st.integers(0, 2), st.integers(0, 2)).filter(any),
        min_size=1,
        max_size=30,
    ))
    return table, draw(st.integers(1, len(table) + 1))


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(case=_capped_tables())
def test_cap_paired_counts_matches_python_top_k(spark, case):
    """The cap against a pure-Python top-k fold: the kept set is the top
    k by n_a + n_b with cat ascending on ties, the fold keeps both totals
    exactly, and a table of at most k categories gets no __other__ row."""
    from jsonschema_infer_spark.operators.drift import OTHER_BUCKET, _cap_paired_counts

    table, k = case
    g = spark.createDataFrame(
        [(c, a, b) for c, (a, b) in table.items()], "cat string, n_a long, n_b long"
    )
    rows = _cap_paired_counts(g, k).collect()
    got = {r.cat: (r.n_a, r.n_b) for r in rows}
    assert len(got) == len(rows)

    ranked = sorted(table, key=lambda c: (-sum(table[c]), c))
    assert set(got) - {OTHER_BUCKET} == set(ranked[:k])
    assert all(got[c] == table[c] for c in ranked[:k])
    for side in (0, 1):
        assert sum(v[side] for v in got.values()) == sum(v[side] for v in table.values())
    if len(table) <= k:
        assert OTHER_BUCKET not in got
    else:
        rest = ranked[k:]
        assert got[OTHER_BUCKET] == tuple(sum(table[c][s] for c in rest) for s in (0, 1))
