#!/usr/bin/env python
"""spark-submit job: transcript inference+validation pipeline at whatever
--master the launcher chose. Writes a one-line JSON result to --out.

Usage:
  spark-submit --master local[8] --py-files jis.zip bench/pipeline_job.py \
      --data .cache/transcripts_bench_*.parquet --out /tmp/result8.json
"""

import argparse
import json
import sys
import time

# bumped on every engine/config change that affects timings: bench_scaling
# stores it per paired-round side, auto-excludes rounds whose two sides ran
# different revisions, and scopes the current-engine claim to the max rev.
# rev 2 = fused scan + background integrity reduce overlap.
# rev 3 = tuned validation scan (right-sized splits + AQE off for the
#         single-agg violations pass — see validate.validation_scan).
# rev 4 = hash-keyed integrity merge (int64 conv hash spilled by map
#         tasks; driver reduce 6.6s -> ~1s at 5M partials).
# rev 5 = validation prewarm: constraint build + violations codegen
#         compiled against a one-row twin on a driver thread DURING the
#         fused scan; the real violations run starts with hot codegen and
#         zero py4j on the critical path (spec-match guarded).
# rev 6 = single-pass validation: the fused scan also counts row
#         violations against the PREDICTED spec (arrow twin of the Spark
#         predicates, equality-tested); on a spec hit the separate
#         violations scan disappears entirely — one table read total.
#         Miss/unsupported falls back to the rev-5 flow.
# rev 7 = incremental spill watcher: the background integrity reduce's
#         parquet decode is prepaid DURING the scan by a driver tail
#         thread (the spill watcher, deleted in rev 10) — rev 6 removed the
#         stages the reduce used to hide behind, exposing 1.6-8 s of
#         integrity_wait at both parallelism levels in paired rounds.
# rev 8 = watcher's incremental ch-merge replaced by ONE finalize radix
#         sort: rev 7's insertion-merge was O(n²/batch) — 5-7 s of
#         prepaid memory-bus traffic during the scan plus a 1.75 s
#         serial tail fold; numpy stable (LSD radix) sort of the
#         concatenated chunks is ~0.2 s at 5M hashes.
# rev 9 = finalize made allocation-free: rev 8's concat+radix allocated
#         ~80 MB fresh AT finalize, and this host's fault-servicing
#         degradation (100x, invisible to bandwidth probes that pass at
#         3 GB/s moments later) turned that 0.2 s into 5-10 s of
#         integrity_wait in half the paired rounds. The watcher now
#         copies chunks into a growing pre-faulted buffer DURING the
#         scan and finalize runs one in-place introsort (~0.07-0.35 s
#         in every host state).
# rev 10 = one eager integrity reduce: the watcher thread and the
#         background reduce are gone; the spill reduce runs inside the
#         fused call.
# rev 11 = engine tasks drop the worker's cached zip finders on exit, so
#         PySpark's per-task importlib.invalidate_caches() re-reads no zip.
ENGINE_REV = 11


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
        .config("spark.sql.adaptive.enabled", "true")
        # single-file parquet input: splits (and thus scan parallelism) are
        # file-size/maxPartitionBytes, bounded by row-group count — keep
        # splits small enough to feed every core at local[32]
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .appName("jis-scaling-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from jsonschema_infer_spark.operators import validate as V
    from jsonschema_infer_spark.operators.pipeline import infer_and_integrity_parquet

    df = spark.read.parquet(args.data)

    # warm-up: one scan (JIT + page cache) and one trivial arrow round-trip
    # so every python worker is forked and has pandas imported before the
    # timed section — worker cold-start is O(cores), not O(data), and would
    # otherwise bias the high-parallelism run
    df.count()
    warm = spark.range(0, cores * 4, 1, cores * 4)
    warm.mapInArrow(lambda it: it, "id long").count()

    # task granularity scaled to the cluster: aim for >=6 waves of fused
    # scan tasks per core so the last wave can't strand most of the cluster
    # (233 row-groups at 4 rg/task = 59 tasks = 1.8 waves at 32 cores)
    import pyarrow.parquet as pq

    n_rg = pq.ParquetFile(args.data).num_row_groups
    rg_per_task = max(1, min(4, n_rg // (cores * 6)))

    from jsonschema_infer_spark.operators.pipeline import (
        ValidationPrewarm,
        predict_constraint_spec,
    )

    t0 = time.time()
    # predict the constraint spec from row-group 0 SYNCHRONOUSLY (pure
    # pyarrow, ~0.3 s) — the fused scan below counts row violations
    # against this prediction in the same pass; prewarm then compiles the
    # Spark constraints + violations codegen on a driver thread purely as
    # the MISS-path insurance (joined only if the prediction is wrong)
    pred_spec = predict_constraint_spec(args.data)
    pw = ValidationPrewarm(spark, args.data, spec=pred_spec)
    # fused one-pass scan: inference fold + per-conv integrity partials +
    # predicted-spec violation counts, all off the same native pyarrow
    # row-group read (rev 2 removed the second integrity pass; rev 6
    # removes the third violations pass on a spec hit), with the integrity
    # spill reduced before the call returns.
    res, integ, vcounts = infer_and_integrity_parquet(
        spark, args.data, rg_per_task=rg_per_task, violation_spec=pred_spec
    )
    t_fused = time.time() - t0
    t = time.time()
    real_spec = V.constraint_spec(
        res.schema, state=res.state, temporal_cols=V.temporal_columns(df)
    )
    spec_hit = frozenset(real_spec) == frozenset(pred_spec)
    t_compile = time.time() - t
    t = time.time()
    if spec_hit:
        # the fused counts ARE the violations result for the real spec —
        # no second scan at all
        agg_counts = vcounts
    else:
        # miss: classic flow — prewarmed constraints (or fresh build) +
        # tuned single-pass validation scan
        cons = pw.constraints_for(res.schema, res.state, df)
        with V.validation_scan(spark, args.data) as vdf:
            agg_counts = {
                r.constraint: r.violation_count
                for r in V.violation_counts(vdf, cons).collect()
            }
    t_viol = time.time() - t
    n_dup = integ["dup_rows_excess"]
    n_ord = integ["ordering_violations"]
    secs = time.time() - t0

    out = {
        "cores": cores,
        "engine_rev": ENGINE_REV,
        "rows": res.total_rows,
        "secs": round(secs, 3),
        "turns_per_sec": round(res.total_rows / secs, 1),
        "row_violations": int(sum(agg_counts.values())),
        "dup_rows_excess": n_dup,
        "ordering_violations": n_ord,
        "spec_hit": bool(spec_hit),
        "prewarm_error": repr(pw.error) if pw.error is not None else None,
        "stage_secs": {
            "infer+integrity": round(t_fused, 2),
            "compile": round(t_compile, 2),
            "violations": round(t_viol, 2),
        },
    }
    with open(args.out, "w") as f:
        json.dump(out, f)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
