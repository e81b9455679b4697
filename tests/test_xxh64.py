"""functions/xxh64.py: the pure-Python XXH64 must match (a) the published
xxHash64 test vectors and (b) Spark's xxhash64 expression bit-for-bit —
it is the independent implementation the driver oracles use to replay the
xxhash64 MinHash/SimHash fast paths and the verdict bucketing in DuckDB."""

import pytest
from pyspark.sql import functions as F

from jsonschema_infer_spark.functions.xxh64 import (
    spark_xxhash64_str,
    to_signed,
    xxh64_bytes,
)


def test_published_vectors():
    # xxHash reference vectors (seed 0), github.com/Cyan4973/xxHash
    assert xxh64_bytes(b"", 0) == 0xEF46DB3751D8E999
    assert xxh64_bytes(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert (
        xxh64_bytes(b"Nobody inspects the spammish repetition", 0)
        == 0xFBCEA83C8A378BF1
    )


def test_to_signed():
    assert to_signed(1) == 1
    assert to_signed((1 << 64) - 1) == -1
    assert to_signed(1 << 63) == -(1 << 63)


STRINGS = [
    "",  # empty
    "a",
    "hello",  # < 8 bytes (byte tail)
    "12345678",  # exactly one 8-byte word
    "123456789012",  # 8-byte word + 4-byte word
    "the quick brown fox",  # word + int + byte tails
    "x" * 31,  # just below the stripe path
    "x" * 32,  # exactly one 32-byte stripe
    "the quick brown fox jumps over the lazy dog repeatedly " * 3,  # stripes + tail
    "naïve café — ünïcode ☃",  # multi-byte UTF-8
    "c000134",  # transcript conv_id shape
]


def test_matches_spark_string_hash(spark):
    df = spark.createDataFrame([(s,) for s in STRINGS], "s string")
    got = {r.s: r.h for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in STRINGS:
        assert got[s] == spark_xxhash64_str(s), repr(s)


def test_seed_propagates():
    assert xxh64_bytes(b"abc", 1) != xxh64_bytes(b"abc", 2)


@pytest.mark.parametrize("n", [0, 1, 3, 4, 7, 8, 9, 15, 16, 31, 32, 33, 63, 64, 100])
def test_length_boundaries_vs_spark(spark, n):
    s = "ab" * (n // 2) + "c" * (n % 2)
    assert len(s) == n
    got = spark.createDataFrame([(s,)], "s string").select(
        F.xxhash64("s").alias("h")
    ).collect()[0].h
    assert got == spark_xxhash64_str(s)
