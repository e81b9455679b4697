"""One-call validation run with durable sinks (SURVEY.md §2.3 "Sinks"):

    schema.json        the inferred schema (Go-byte-compatible render)
    violations.parquet violating rows with per-row reason arrays
    verdicts.parquet   per-bucket pass/fail + per-constraint counts
    metrics.json       run metrics: rows, per-constraint totals,
                       uniqueness/ordering summary, wall seconds

This is the batch pipeline the benchmarks time, packaged as an operator a
user can point at a table and an output directory. All sinks are plain
files/parquet so a downstream system (or the checkpoint/resume machinery
in ``checkpoint.py``) can consume them."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame

from ..config import InferConfig
from .infer_spark import infer_dataframe
from . import validate as V


def run_validation_report(
    df: DataFrame,
    out_dir: str,
    config: InferConfig | None = None,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    num_buckets: int = 64,
    keep_cols: list | None = None,
    reference=None,
    schema_drift: bool = False,
    fk_checks: list | None = None,
) -> dict:
    """``reference`` (an InferResult from a trusted snapshot) switches the
    run from self-validation to drift-style validation: constraints come
    from the reference schema, so anomalies in ``df`` are reported instead
    of being absorbed into a freshly inferred schema (a null in a required
    column would otherwise just make the column optional).

    ``schema_drift=True`` (needs ``reference``) additionally infers a
    fresh schema from ``df`` (one extra scan) and writes the structural
    diff reference→fresh to ``schema_drift.json`` (plans/diff records:
    property ±, type widening, format/const transitions, required ±).

    ``fk_checks`` is a list of ``(parent_df, child_key, parent_key)``
    referential-integrity checks; orphan counts land in
    ``referential.parquet`` (one file per check, suffixed by child key)
    and per-check totals in metrics."""
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)

    res = reference if reference is not None else infer_dataframe(df, config)
    cons = V.compile_constraints(res.schema, state=res.state, df=df)

    with open(os.path.join(out_dir, "schema.json"), "w") as f:
        f.write(res.schema_json)

    has_keys = conv_col in df.columns and idx_col in df.columns
    keep = keep_cols if keep_cols is not None else (
        [conv_col, idx_col] if has_keys else df.columns[:1]
    )
    V.violations(df, cons, keep_cols=keep).write.mode("overwrite").parquet(
        os.path.join(out_dir, "violations.parquet")
    )

    bucket_col = conv_col if conv_col in df.columns else df.columns[0]
    verdicts_path = os.path.join(out_dir, "verdicts.parquet")
    V.partition_verdicts(
        df, cons, bucket_col=bucket_col, num_buckets=num_buckets
    ).write.mode("overwrite").parquet(verdicts_path)

    # the run's totals are the column sums of its (at most num_buckets)
    # verdict rows: no second scan of df; a table with no rows has none
    buckets = df.sparkSession.read.parquet(verdicts_path).collect()
    counts = {c.name: sum(int(b[c.name]) for b in buckets) for c in cons}
    metrics = {
        "rows": sum(int(b["rows"]) for b in buckets),
        "constraints": counts,
        "violation_total": int(sum(counts.values())),
        "wall_secs": round(time.time() - t0, 3),
    }
    if has_keys:
        metrics["integrity"] = V.transcript_integrity_summary(
            df, conv_col, idx_col
        )
    if schema_drift:
        if reference is None:
            raise ValueError("schema_drift=True needs a reference InferResult")
        from ..plans.diff import schema_diff

        fresh = infer_dataframe(df, config)
        records = schema_diff(reference.schema, fresh.schema)
        with open(os.path.join(out_dir, "schema_drift.json"), "w") as f:
            json.dump(records, f, indent=2, sort_keys=True)
        metrics["schema_drift_changes"] = len(records)
    if fk_checks:
        ref_counts = {}
        for idx, (parent_df, child_key, parent_key) in enumerate(fk_checks):
            # two checks on the same child column (different parents) must
            # not overwrite each other's sink or metrics entry
            label = child_key if child_key not in ref_counts else (
                f"{child_key}#{idx}"
            )
            orphans = V.referential_violations(
                df, parent_df, child_key, parent_key
            )
            orphans.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"referential_{label}.parquet")
            )
            from pyspark.sql import functions as F

            # count(lit(1)), not count(key): the NULL-FK group is a real
            # orphan key and count(col) would skip it
            agg = orphans.agg(
                F.sum("orphan_rows").alias("r"), F.count(F.lit(1)).alias("k")
            ).collect()[0]
            ref_counts[label] = {
                "orphan_rows": int(agg.r or 0),
                "orphan_keys": int(agg.k or 0),
            }
        metrics["referential"] = ref_counts
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2, sort_keys=True)
    return metrics
