"""spark-submit job: the transcript pipeline (bench.run_transcript_pipeline:
the violated snapshot validated against the clean snapshot's contract in
one fused scan) at whatever --master the launcher chose. Writes a one-line
JSON result to --out.

Usage:
  spark-submit --master local[8] --py-files jis.zip bench/pipeline_job.py \
      --data .cache/transcripts_bench_v3_*/violated.parquet \
      --contract .cache/transcripts_bench_v3_*/clean.parquet --out /tmp/result8.json

The injection log the counts are checked against is read from the
snapshot directory (bench.INJECTION_LOG next to --data).
"""

import argparse
import json
import os
import sys

# the repo root holds bench.py, whose run_transcript_pipeline this job runs
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# bumped on every engine/config change that affects timings: bench_scaling
# stores it per paired-round side, auto-excludes rounds whose two sides ran
# different revisions, and scopes the current-engine claim to the max rev.
# rev 2 = fused scan + background integrity reduce overlap.
# rev 3 = tuned validation scan (right-sized splits + AQE off for the
#         single-agg violations pass; deleted in rev 12).
# rev 4 = hash-keyed integrity merge (int64 conv hash spilled by map
#         tasks; driver reduce 6.6s -> ~1s at 5M partials).
# rev 5 = constraint build + violations codegen compiled against a
#         one-row twin on a driver thread DURING the fused scan (deleted
#         in rev 12).
# rev 6 = single-pass validation: the fused scan also counts row
#         violations against a spec guessed from row-group 0 (arrow twin
#         of the Spark predicates, equality-tested); a wrong guess fell
#         back to the rev-5 flow.
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
# rev 12 = contract-first: the violated snapshot is validated against the
#         clean snapshot's contract in the one fused scan; the spec guess,
#         its driver thread and the fallback scan are gone.
# rev 13 = each fused task commits a completion marker after its spill,
#         so the same call resumes from a checkpoint directory.
# rev 14 = one task protocol and one reduce (checkpoint.run_task and
#         reduce_tasks) for every inference driver; a resumed fused task
#         must match its file's fingerprint.
ENGINE_REV = 14


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True, help="violated snapshot")
    ap.add_argument("--contract", required=True,
                    help="clean snapshot the contract is inferred from")
    ap.add_argument("--out", required=True)
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import bench

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

    # warm-up: one scan (JIT + page cache) and one trivial arrow round-trip
    # so every python worker is forked and has pandas imported before the
    # timed section — worker cold-start is O(cores), not O(data), and would
    # otherwise bias the high-parallelism run
    spark.read.parquet(args.data).count()
    warm = spark.range(0, cores * 4, 1, cores * 4)
    warm.mapInArrow(lambda it: it, "id long").count()

    log = os.path.join(os.path.dirname(args.data), bench.INJECTION_LOG)
    p = bench.run_transcript_pipeline(spark, (args.contract, args.data, log))
    out = {
        "cores": cores,
        "engine_rev": ENGINE_REV,
        **p,
        "secs": round(p["secs"], 3),
        "turns_per_sec": round(p["turns_per_sec"], 1),
    }
    with open(args.out, "w") as f:
        json.dump(out, f)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
