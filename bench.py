#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "turns_per_sec": ..., "bench_rows": ...}

The flagship measurement is the transcript validation pipeline: a
violated synthetic transcript table (seed-fixed, cached under .cache/
next to its clean twin and the injection log) validated against the
clean table's contract in one fused scan (inference + row violations +
uniqueness + turn ordering), reported as turns/sec — the BASELINE.json
metric. Its per-constraint counts must equal the injection log.
bench_scaling.py runs the same pipeline at local[1] and local[N] under
spark-submit.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from contractbench.hostinfo import probe_health  # noqa: E402

BENCH_QUERIES = [
    "events_column_stats",
    "events_user_sessions",
    "q1_pricing_summary",
    "q3_revenue_topk",
    "region_revenue",
    "best_order_per_customer",
    "docs_token_stats",
    "docs_quality",
    "docs_top_jaccard",
    "events_type_drift",
    "events_type_psi",
    "events_value_psi",
    "events_value_ks",
    "events_value_ks_hist",
    "events_orphan_users",
    "events_violation_examples",
    "events_type_cap",
    "docs_repetition",
    "docs_decontaminate",
    "docs_split_profile",
    "embeddings_topk",
    "embeddings_cos_pairs",
    "embeddings_lsh_pairs",
    "embeddings_ivf_topk",
    "minhash_dups_docs",
    "simhash_near_docs",
    "infer_events_schema",
]

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")


# the injection log's file name, next to the two snapshots
INJECTION_LOG = "injections.json"


def ensure_bench_transcripts(n_convs: int, seed: int = 42) -> tuple:
    """Generate-and-cache the bench snapshots: a clean transcript table,
    the same table with labelled violations injected, and the injection
    log as JSON. Returns their paths ``(clean, violated, log)``."""
    d = os.path.join(CACHE, f"transcripts_bench_v3_{n_convs}_{seed}")
    paths = tuple(
        os.path.join(d, name)
        for name in ("clean.parquet", "violated.parquet", INJECTION_LOG)
    )
    if not all(map(os.path.exists, paths)):
        from jsonschema_infer_spark.sources.transcripts import (
            generate_transcripts,
            inject_violations,
            write_parquet,
        )

        os.makedirs(d, exist_ok=True)
        clean = generate_transcripts(n_convs, seed=seed, hot_convs=3, hot_turns=4096)
        violated, log = inject_violations(clean, seed=seed)
        write_parquet(clean, paths[0])
        write_parquet(violated, paths[1])
        # the log last: its presence marks a complete cache
        with open(paths[2], "w") as f:
            json.dump(log, f, default=int)
    return paths


def run_transcript_pipeline(spark, snaps: tuple) -> dict:
    """The headline pipeline: validate the violated snapshot against the
    clean snapshot's contract. ``snaps`` is ``(clean, violated, log)`` as
    ensure_bench_transcripts returns them.

    The contract is inferred from the clean snapshot once, untimed; it
    stands in for a stored contract. The timed work is compiling its
    constraint spec plus ONE fused scan of the violated table: inference,
    row violations against the spec, uniqueness and turn ordering. Raises
    when the per-constraint counts disagree with the injection log."""
    # the contract benchmark's oracle: constraint -> injection-log list
    # whose length is its count; every other constraint counts 0
    from contractbench.snapshots import LOGGED_CONSTRAINTS
    from jsonschema_infer_spark.operators import validate as V
    from jsonschema_infer_spark.operators.pipeline import infer_and_integrity_parquet

    clean, violated, log_path = snaps
    contract, _ = infer_and_integrity_parquet(spark, clean)
    temporal = V.temporal_columns(spark.read.parquet(violated))

    t0 = time.perf_counter()
    spec = V.constraint_spec(
        contract.schema, state=contract.state, temporal_cols=temporal
    )
    t1 = time.perf_counter()
    res, integ, counts = infer_and_integrity_parquet(
        spark, violated, violation_spec=spec
    )
    t2 = time.perf_counter()

    with open(log_path) as f:
        log = json.load(f)
    want = dict.fromkeys(counts, 0)
    want.update({c: len(log[k]) for c, k in LOGGED_CONSTRAINTS.items()})
    if counts != want:
        raise RuntimeError(
            f"violation counts {counts} disagree with the injection log "
            f"{log_path}: expected {want}"
        )
    secs = t2 - t0
    return {
        "rows": res.total_rows,
        "secs": secs,
        "turns_per_sec": res.total_rows / secs,
        "row_violations": sum(counts.values()),
        "violations": counts,
        "dup_rows_excess": integ["dup_rows_excess"],
        "ordering_violations": integ["ordering_violations"],
        # the fused scan as its task job ("scan") and the driver's spill merge
        "stage_secs": {"spec": round(t1 - t0, 3),
                       **{k: round(v, 3) for k, v in res.stage_secs.items()}},
    }


def run_suite(
    spark, qs, sf_dir: str, n_convs: int, reps: int, pipe_reps: int
) -> tuple:
    """One pass over the transcript pipeline (one untimed warm-up, then
    best of ``pipe_reps``) followed by the headline queries (best of
    ``reps`` timed runs each, after one warm-up).

    The pipeline — the headline turns/sec metric — is measured FIRST,
    right after the caller's verified-healthy probe: this host's degraded
    windows arrive on minute timescales that a 15 s probe can't gate, so
    the most important number must sit closest to the probe instead of
    ~7 suite-minutes downstream (r4 measured the same steady-state
    pipeline at 0.87 s in isolation and 2.7 s at the tail of a suite
    whose mid-window had silently degraded). A mid-suite probe is
    returned so the output can label a window that collapsed between the
    pipeline and the query phase."""
    timings: dict = {}
    snaps = ensure_bench_transcripts(n_convs)
    # The pipeline's warm-up curve is long (cold page-cache parquet scan,
    # codegen, Python-worker fork: rep0 runs 6-10x slower than steady
    # state, and reps keep improving through ~rep3) — measured 9.9s ->
    # 1.68 -> 1.49 -> 1.41 -> 1.0s on the 1.84M-row table. One untimed
    # warm-up plus best-of-N reports the steady-state rate a long-running
    # cluster sees, matching how the queries below are measured.
    run_transcript_pipeline(spark, snaps)  # warm-up, untimed
    pipe: dict = {}
    for _ in range(pipe_reps):
        p = run_transcript_pipeline(spark, snaps)
        if not pipe or p["turns_per_sec"] > pipe["turns_per_sec"]:
            pipe = p
    timings["transcript_pipeline"] = round(pipe["secs"], 3)
    mid = probe_health()

    for name in BENCH_QUERIES:
        df = qs[name](spark, sf_dir)
        # warm-up run: pay whole-stage-codegen compilation + IO cache once,
        # then time the steady-state execution (what a long-running cluster
        # actually sees)
        df.write.format("noop").mode("overwrite").save()
        best = 1e9
        for _ in range(reps):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()  # full exec, no collect
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
    return timings, pipe, {"mid_gbps": mid["mem_gbps"], "mid_burn_s": mid["burn_s"]}


def spark_resources() -> tuple:
    """(cores, driver memory) for local[N]: $SPARK_GRAFT_CPUS, default the
    usable CPUs, and $SPARK_GRAFT_MEM, default a quarter of RAM. Exits
    with a message when asked for more cores than the host has: an
    oversubscribed local[N] measures the scheduler, not the engine."""
    have = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", have))
    if not 1 <= cpus <= have:
        raise SystemExit(
            f"SPARK_GRAFT_CPUS={cpus} but this host has {have} usable CPUs; "
            f"set it to 1..{have} or unset it"
        )
    mem = os.environ.get("SPARK_GRAFT_MEM")
    if mem is None:
        mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        mem = f"{mem_mb // 4}m"
    return cpus, mem


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus, mem = spark_resources()
    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "300000"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_REPS", "3"))
    pipe_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PIPE_REPS", "4")))
    max_attempts = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3"))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .appName("jsonschema-infer-spark-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    qs = E.queries()

    # Health-gated measurement (contractbench.hostinfo.probe_health: memory
    # copy bandwidth and a fixed CPU burn): wait (bounded, fail-open on a
    # host that stays slow) for a healthy window, run the suite best-of-N,
    # re-probe after — if the window collapsed mid-suite, run again and
    # keep the per-query minima. Probes are recorded in the output so a
    # degraded-host number is labeled as such.
    timings: dict = {}
    pipe: dict = {}
    probes = []
    for attempt in range(max_attempts):
        deadline = time.time() + 600.0
        pre = probe_health()
        while not pre["healthy"] and time.time() < deadline:
            print(
                f"  host degraded (mem {pre['mem_gbps']:.2f} GB/s, "
                f"burn {pre['burn_s']:.3f}s) — waiting 30s",
                file=sys.stderr,
                flush=True,
            )
            time.sleep(30)
            pre = probe_health()
        t, p, mid = run_suite(spark, qs, sf_dir, n_convs, reps, pipe_reps)
        post = probe_health()
        probes.append(
            {"pre_gbps": pre["mem_gbps"], "pre_burn_s": pre["burn_s"],
             **mid,
             "post_gbps": post["mem_gbps"], "post_burn_s": post["burn_s"]}
        )
        timings = {k: min(v, timings.get(k, 1e9)) for k, v in t.items()}
        if not pipe or p["turns_per_sec"] > pipe["turns_per_sec"]:
            pipe = p
        if post["healthy"]:
            break
        print(
            f"  suite attempt {attempt + 1} tainted "
            f"(post mem {post['mem_gbps']:.2f} GB/s, burn {post['burn_s']:.3f}s)",
            file=sys.stderr,
            flush=True,
        )
    total = sum(timings.values())

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline suite wall time (incl. transcript inference+validation pipeline)",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "turns_per_sec": round(pipe["turns_per_sec"], 1),
                "bench_rows": pipe["rows"],
                "row_violations": pipe["row_violations"],
                "violations": pipe["violations"],
                "pipeline_stage_secs": pipe["stage_secs"],
                "cpus": cpus,
                "query_reps": reps,
                "host_probes": probes,
                "host_healthy": post["healthy"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
