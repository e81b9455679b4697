"""run_validation_report writes all four sinks with consistent numbers."""

import json
import os

from jsonschema_infer_spark.operators.report import run_validation_report


def test_report_sinks(spark, tx_paths, tmp_path):
    viol = spark.read.parquet(tx_paths["viol"])
    out = str(tmp_path / "report")
    metrics = run_validation_report(viol, out)

    assert set(os.listdir(out)) >= {
        "schema.json",
        "violations.parquet",
        "verdicts.parquet",
        "metrics.json",
    }
    with open(os.path.join(out, "metrics.json")) as f:
        on_disk = json.load(f)
    assert on_disk == metrics
    assert metrics["rows"] == viol.count()
    assert metrics["integrity"]["ordering_violations"] > 0

    vdf = spark.read.parquet(os.path.join(out, "violations.parquet"))
    assert vdf.count() == 0 or "violations" in vdf.columns
    verd = spark.read.parquet(os.path.join(out, "verdicts.parquet"))
    assert verd.filter("NOT passed").count() >= 0
    # schema byte-render loads back through the reference-parity loader
    from jsonschema_infer_spark.plans.render import load_schema

    with open(os.path.join(out, "schema.json")) as f:
        load_schema(f.read())


def test_report_against_reference_schema(spark, tx_paths, tmp_path):
    """Validating the violated table against the CLEAN snapshot's schema
    surfaces the injected required/enum violations instead of absorbing
    them into a freshly inferred (looser) schema."""
    from jsonschema_infer_spark.operators.infer_spark import infer_dataframe

    clean = spark.read.parquet(tx_paths["clean"])
    viol = spark.read.parquet(tx_paths["viol"])
    ref = infer_dataframe(clean, num_partitions=4)
    out = str(tmp_path / "ref_report")
    metrics = run_validation_report(viol, out, reference=ref)
    log = tx_paths["log"]
    assert metrics["constraints"]["required:role"] == len(log["null_role_rows"])
    assert metrics["constraints"]["enum:role"] == len(log["bad_role_rows"])
    assert metrics["rows"] == viol.count()
    from jsonschema_infer_spark.operators import validate as V

    cons = V.compile_constraints(ref.schema, state=ref.state, df=viol)
    assert metrics["constraints"] == {
        r.constraint: r.violation_count
        for r in V.violation_counts(viol, cons).collect()
    }

    # a table with no rows: no verdict rows, every total 0
    empty = run_validation_report(viol.limit(0), str(tmp_path / "empty"), reference=ref)
    assert empty["rows"] == 0 and empty["violation_total"] == 0
    assert empty["constraints"] == dict.fromkeys(metrics["constraints"], 0)


def test_report_schema_drift_and_fk_checks(spark, tx_paths, tmp_path):
    from jsonschema_infer_spark.operators.infer_spark import infer_dataframe

    viol = spark.read.parquet(tx_paths["viol"])
    ref = infer_dataframe(viol.limit(200))
    out = str(tmp_path / "report_full")

    # parent covering only some conversations -> real orphans
    parent = viol.select("conv_id").distinct().limit(5)
    metrics = run_validation_report(
        viol,
        out,
        reference=ref,
        schema_drift=True,
        fk_checks=[(parent, "conv_id", "conv_id")],
    )

    assert os.path.exists(os.path.join(out, "schema_drift.json"))
    with open(os.path.join(out, "schema_drift.json")) as f:
        records = json.load(f)
    assert metrics["schema_drift_changes"] == len(records)

    fk = metrics["referential"]["conv_id"]
    orph = spark.read.parquet(os.path.join(out, "referential_conv_id.parquet"))
    assert fk["orphan_keys"] == orph.count()
    assert fk["orphan_rows"] == sum(r.orphan_rows for r in orph.collect())
    # covered convs must not be reported
    covered = {r.conv_id for r in parent.collect()}
    assert not ({r.conv_id for r in orph.collect()} & covered)


def test_report_schema_drift_requires_reference(spark, tx_paths, tmp_path):
    import pytest

    viol = spark.read.parquet(tx_paths["viol"])
    with pytest.raises(ValueError):
        run_validation_report(viol, str(tmp_path / "x"), schema_drift=True)
