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

# the engine revision in the result line: ties a timing to the code that made it
ENGINE_REV = 19


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
