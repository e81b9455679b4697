"""Deterministic sampling/splitting: pure functions of the key — identical
assignment across runs, partitionings, and engines."""

import pytest
from pyspark.sql import functions as F

from jsonschema_infer_spark.operators.sampling import (
    hash_split,
    stratified_cap,
)


def test_hash_split_deterministic_and_complete(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    a = {r.k: r.split for r in hash_split(df, "k").collect()}
    b = {r.k: r.split for r in hash_split(df.repartition(13), "k").collect()}
    assert a == b  # partitioning-independent
    assert set(a.values()) == {"train", "validation", "test"}
    n = len(a)
    train = sum(1 for v in a.values() if v == "train")
    assert abs(train / n - 0.8) < 0.03  # md5 uniformity at n=5000
    assert n == 5000  # nothing dropped


def test_hash_split_groups_keyed_rows_together(spark):
    # two rows per key must land in the same split (conv-level splitting)
    df = spark.createDataFrame(
        [(i % 100, j) for i in range(200) for j in range(2)], "k long, x long"
    )
    rows = hash_split(df, "k").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.k, set()).add(r.split)
    assert all(len(s) == 1 for s in by_key.values())


def test_hash_split_custom_fractions_and_salt(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r.k: r.split for r in hash_split(df, "k", {"a": 0.5, "b": 0.5}).collect()}
    assert set(a.values()) == {"a", "b"}
    b = {r.k: r.split for r in
         hash_split(df, "k", {"a": 0.5, "b": 0.5}, salt="other").collect()}
    assert a != b  # salt changes the assignment
    with pytest.raises(ValueError):
        hash_split(df, "k", {})


def test_stratified_cap_bounds_and_order(spark):
    df = spark.createDataFrame(
        [(t, i) for t in ("x", "y") for i in range(50)] + [("z", 0)],
        "t string, i long",
    )
    rows = stratified_cap(df, ["t"], 5, ["i"]).collect()
    by = {}
    for r in rows:
        by.setdefault(r.t, []).append((r.strata_rank, r.i))
    assert sorted(by["x"]) == [(k, k - 1) for k in range(1, 6)]
    assert sorted(by["y"]) == [(k, k - 1) for k in range(1, 6)]
    assert by["z"] == [(1, 0)]  # undersized strata kept whole


def test_stratified_cap_plan_window_group_limit(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("s"), F.col("id").alias("i")
    )
    plan = (
        stratified_cap(df, ["s"], 3, ["i"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan


def test_hash_split_rejects_over_unit_fractions(spark):
    df = spark.range(0, 10).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="sum to <= 1"):
        hash_split(df, "k", {"a": 0.8, "b": 0.3})
    # exactly 1 (with fp-safe fsum) stays legal
    hash_split(df, "k", {"a": 0.5, "b": 0.3, "c": 0.2})
