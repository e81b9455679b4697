"""Mirror of the driver's correctness gate: every queries() entry runs on
Spark and, when an oracle_sql() twin exists, must match DuckDB on row count,
column names and order-insensitive values (floats rounded to 6).

Runs at sf0.001 for speed. The driver runs the same contract at sf0.01;
the pre-flight at its scale is this file with ``SPARK_GRAFT_ORACLE_SF``
pointing at the sf0.01 data directory."""

import glob
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# signature/mapping oracle parquets must be built from the SAME sf the
# queries run on (the driver uses the default, sf0.01)
SF = os.environ.setdefault("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")

import __spark_entry__ as E  # noqa: E402


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for p in glob.glob(f"{SF}/*.parquet"):
        t = os.path.basename(p).removesuffix(".parquet")
        c.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
    return c


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _norm(cols, rows):
    cols = list(cols)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows),
    )


ORACLED = sorted(E.oracle_sql().keys())
ROWS_ONLY = sorted(set(E.queries()) - set(ORACLED))


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, con, name):
    sdf = E.queries()[name](spark, SF)
    scols, srows = _norm(sdf.columns, [tuple(r) for r in sdf.collect()])
    cur = con.execute(E.oracle_sql()[name])
    ocols, orows = _norm([d[0] for d in cur.description], cur.fetchall())
    assert scols == ocols, f"{name}: column mismatch {scols} vs {ocols}"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    assert srows == orows, f"{name}: value mismatch"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    sdf = E.queries()[name](spark, SF)
    assert sdf.count() >= 0
    assert len(sdf.schema.fields) > 0


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"constraint", "violation_count"}
    # testdata events are clean -> no violations anywhere
    assert all(r.violation_count == 0 for r in rows)


def test_drift_library_runs_the_driver_queries(spark):
    """The driver's KS and chi-square queries and the library's
    numeric_drift / categorical_drift read the same drift.py operators:
    on the user_id%2 halves the library's results round to the queries'
    rows, and the chi-square statistic is the sum of chi2_terms."""
    from pyspark.sql import functions as F

    from jsonschema_infer_spark.operators.drift import (
        categorical_drift,
        chi2_terms,
        numeric_drift,
    )

    df = spark.read.parquet(f"{SF}/events.parquet").where(F.col("user_id").isNotNull())
    a = df.where(F.pmod(F.col("user_id"), F.lit(2)) == 0)
    b = df.where(F.pmod(F.col("user_id"), F.lit(2)) == 1)
    for name, kw in (
        ("events_value_ks", {}),
        ("events_value_ks_hist", {"mode": "hist", "bins": 64}),
    ):
        (q,) = E.queries()[name](spark, SF).collect()
        lib = numeric_drift(a, b, "value", **kw)
        assert lib["mode"] == kw.get("mode", "exact")
        assert (round(lib["d"], 4), lib["n_a"], lib["n_b"]) == (q.ks_d, q.n_a, q.n_b), name

    terms = chi2_terms(a, b, "event_type").collect()
    stat = categorical_drift(a, b, "event_type")["statistic"]
    assert stat == pytest.approx(sum(r.chi2_term for r in terms), rel=1e-12)
    assert stat > 0
