#!/usr/bin/env python3
"""Contract-validation benchmark of the transcript schema engine.

    python3 contractbench/run.py --workload contract_clustered --seed 1 \\
        --seconds 10 --trace 0

One op is the engine's contract-first job, driven from outside the library
through public entry points only: infer a contract from the clean snapshot
(``infer_and_integrity_parquet``, eager integrity), then validate the
violated snapshot against it, either with the same fused scan and the
contract's ``validate.constraint_spec`` (contract_* workloads) or with
``run_validation_report(reference=contract)`` (report_sinks). Ops run in a
closed loop: one client, one op at a time, on Spark local[N]. Every op's
outputs are checked against an oracle built at set-up from the injection
log and DuckDB; an op that raises or fails its check is a failed op.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the ops
without and then with spans, then the single-core layer replays
(layers.py), and prints the per-layer metrics. The last stdout line is the
result object; the line before it is the run record: host facts, health
probes before and after, set-up breakdown, input properties, and every
timing's median, high percentile and sample count. Scratch files live
under ``.contractbench/`` at the checkout root; the large ones are removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Snapshot builds per set-up; setup_s reports their median.
SETUP_REPS = 2
# Checked ops before measuring: JIT and codegen keep speeding ops up
# through the second op (a cold report_sinks op takes ~5x a warm one).
WARMUP_OPS = 3
# Ops per measured loop even when one op outlasts --seconds, so a median
# exists on report_sinks, whose ops are the longest.
MIN_OPS = 3

CLEAN_INTEGRITY = {"dup_rows_excess": 0, "ordering_violations": 0}

END_TO_END = {
    "setup_s": "s",
    "infer_rows_per_s": "rows/s",
    "validate_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}

COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

PER_LAYER = {
    "transcripts.generate_s": "s",
    "transcripts.inject_s": "s",
    "transcripts.write_s": "s",
    "transcripts.text_plain_share": "ratio",
    "transcripts.text_distinct_ratio": "ratio",
    "pipeline.fused_scan_s": "s",
    "pipeline.tasks": "count",
    "pipeline.task_rows_max_over_mean": "ratio",
    "pipeline.fused_task_ns_per_row": "ns/row",
    "pipeline.fused_task_remainder_ns_per_row": "ns/row",
    **{f"decode.{c}_ns_per_row": "ns/row" for c in COLUMNS},
    "decode.batches_ns_per_row": "ns/row",
    "infer_spark.observe_ns_per_row": "ns/row",
    "validate.integrity_fold_ns_per_row": "ns/row",
    "validate.partials_per_conv": "ratio",
    "validate.multi_partial_share": "ratio",
    "validate.spanning_conv_share": "ratio",
    "validate.spill_bytes": "bytes",
    "validate.spill_write_ns_per_row": "ns/row",
    "validate.partials_merge_s": "s",
    "validate.violation_counter_ns_per_row": "ns/row",
    "validate.constraint_spec_s": "s",
    "state.merge_s": "s",
    "render.finalize_render_s": "s",
    "report.compile_s": "s",
    "report.violations_sink_s": "s",
    "report.verdicts_sink_s": "s",
    "report.counts_s": "s",
    "report.integrity_s": "s",
    "report.sink_bytes": "bytes",
    "trace.overhead_ratio": "ratio",
}


def _no_span(name, op=None):
    return nullcontext()


def summarize(xs: list) -> dict:
    """Median, and the highest percentile with at least ten samples beyond
    it (none below 20 samples; the maximum is given either way)."""
    xs = sorted(xs)
    n = len(xs)
    out = {"n": n, "median": statistics.median(xs) if xs else None,
           "max": xs[-1] if xs else None, "p_hi": None, "p_hi_value": None}
    if n >= 20:
        out["p_hi"] = math.floor(100 * (n - 10) / n)
        out["p_hi_value"] = xs[n - 11]
    return out


class Bench:
    """One workload's snapshots, oracle and Spark session, and the op that
    runs against them."""

    def __init__(self, spark, workload: str, snap: dict, expected: dict,
                 rg_per_task: int, work: str):
        import snapshots

        self.spark = spark
        self.snap = snap
        self.expected = expected
        self.rg_per_task = rg_per_task
        self.report = snapshots.WORKLOADS[workload]["report"]
        self.violated_df = spark.read.parquet(snap["violated"])
        self.report_dir = os.path.join(work, "report")
        self.contract = None
        self.contract_json = None

    def op(self, op_id: str, tracer=None) -> dict:
        span = tracer.span if tracer is not None else _no_span
        sample = {"op": op_id}
        try:
            with span("op", op=op_id):
                sample["problems"] = self._op(sample, span)
        except Exception:  # a raising op is a failed op; the loop goes on
            sample["problems"] = [traceback.format_exc(limit=4)]
        sample["ok"] = not sample["problems"]
        return sample

    def _op(self, sample: dict, span) -> list:
        from jsonschema_infer_spark.operators import validate as V
        from jsonschema_infer_spark.operators.pipeline import infer_and_integrity_parquet
        from jsonschema_infer_spark.operators.report import run_validation_report

        with span("pipeline.infer"):
            t = time.perf_counter()
            res, integrity = infer_and_integrity_parquet(
                self.spark, self.snap["clean"], rg_per_task=self.rg_per_task
            )
            sample["infer_s"] = time.perf_counter() - t
        self.contract = res
        problems = self._check_contract(res, integrity)
        if self.report:
            with span("report.run_validation_report"):
                t = time.perf_counter()
                metrics = run_validation_report(
                    self.violated_df, self.report_dir, reference=res
                )
                sample["validate_s"] = time.perf_counter() - t
            with span("check"):
                problems += self._check_report(metrics)
        else:
            with span("validate.temporal_columns"):
                temporal = V.temporal_columns(self.violated_df)
            with span("validate.constraint_spec"):
                spec = V.constraint_spec(res.schema, state=res.state, temporal_cols=temporal)
            with span("pipeline.validate"):
                t = time.perf_counter()
                _, integrity, counts = infer_and_integrity_parquet(
                    self.spark, self.snap["violated"], rg_per_task=self.rg_per_task,
                    violation_spec=spec,
                )
                sample["validate_s"] = time.perf_counter() - t
            with span("check"):
                problems += self._check_counts(counts)
                if integrity != self.expected["integrity"]:
                    problems.append(
                        f"integrity {integrity} != {self.expected['integrity']}"
                    )
        return problems

    def _check_contract(self, res, integrity: dict) -> list:
        problems = []
        if integrity != CLEAN_INTEGRITY:
            problems.append(f"clean-snapshot integrity {integrity}")
        if res.total_rows != self.snap["clean_rows"]:
            problems.append(f"contract saw {res.total_rows} rows")
        if self.contract_json is None:
            self.contract_json = res.schema_json
        elif res.schema_json != self.contract_json:
            problems.append("contract schema_json differs from the first op's")
        return problems

    def _check_counts(self, counts: dict) -> list:
        import snapshots

        problems = []
        missing = sorted(set(snapshots.LOGGED_CONSTRAINTS) - set(counts))
        if missing:
            problems.append(f"contract lacks constraints {missing}")
        want = snapshots.expected_counts(self.expected, counts)
        if counts != want:
            problems.append(f"constraint counts {counts} != {want}")
        return problems

    def expected_metrics(self, counts: dict) -> dict:
        """metrics.json of run_validation_report, less wall_secs."""
        import snapshots

        want = snapshots.expected_counts(self.expected, counts)
        return {
            "rows": self.expected["rows"],
            "constraints": want,
            "violation_total": sum(want.values()),
            "integrity": self.expected["integrity"],
        }

    def _check_report(self, metrics: dict) -> list:
        problems = self._check_counts(metrics["constraints"])
        got = {k: v for k, v in metrics.items() if k != "wall_secs"}
        want = self.expected_metrics(metrics["constraints"])
        if got != want:
            problems.append(f"report metrics {got} != {want}")
        with open(os.path.join(self.report_dir, "metrics.json")) as f:
            if json.load(f) != metrics:
                problems.append("metrics.json differs from the returned metrics")
        return problems

    def run_ops(self, seconds: float, tracer=None, prefix: str = "op") -> list:
        samples = []
        deadline = time.perf_counter() + seconds
        while len(samples) < MIN_OPS or time.perf_counter() < deadline:
            samples.append(self.op(f"{prefix}{len(samples)}", tracer))
        return samples


def setup(workload: str, seed: int, scale: str, work: str, make_spark,
          cores: int) -> tuple:
    """Build the snapshots SETUP_REPS times, start Spark (``make_spark``,
    local[cores]) and warm it with WARMUP_OPS checked ops. setup_s is the
    median build plus the Spark start plus the warm-up; the oracle and the
    input properties are measured too but are the benchmark's own work,
    outside setup_s."""
    import pyarrow.parquet as pq

    import snapshots

    builds = []
    for r in range(SETUP_REPS):
        if builds:
            shutil.rmtree(os.path.dirname(builds[-1]["clean"]))
            builds[-1].pop("violated_table")
        builds.append(snapshots.build(workload, seed, scale, os.path.join(work, f"snap{r}")))
    snap = builds[-1]
    step = {k: statistics.median(b["secs"][k] for b in builds) for k in snap["secs"]}
    data_s = statistics.median(sum(b["secs"].values()) for b in builds)
    expected = snapshots.oracle(snap)

    # bench.py's task granularity: about six tasks per core, at most four
    # row groups per task
    n_rg = pq.ParquetFile(snap["violated"]).num_row_groups
    rg_per_task = max(1, min(4, n_rg // (cores * 6)))
    props = snapshots.input_properties(snap, rg_per_task)
    del snap["violated_table"]

    t = time.perf_counter()
    spark = make_spark()
    spark_s = time.perf_counter() - t
    t = time.perf_counter()
    bench = Bench(spark, workload, snap, expected, rg_per_task, work)
    bench.warmups = [bench.op(f"warmup{i}") for i in range(WARMUP_OPS)]
    warm_s = time.perf_counter() - t
    info = {
        "setup_s": data_s + spark_s + warm_s,
        "build_s": data_s,
        "spark_start_s": spark_s,
        "warmup_s": warm_s,
        "generate_s": step["generate"],
        "inject_s": step["inject"],
        "write_s": step["write"],
        "reps": SETUP_REPS,
        "cores": cores,
        "rg_per_task": rg_per_task,
        "clean_rows": snap["clean_rows"],
        "violated_rows": snap["violated_rows"],
        "properties": props,
        "expected": expected,
    }
    return bench, info


def end_to_end(bench: Bench, samples: list, info: dict, peak_rss: int) -> dict:
    ok = [s for s in samples if s["ok"]]
    attempted = bench.warmups + samples
    return {
        "setup_s": info["setup_s"],
        "infer_rows_per_s": statistics.median(
            info["clean_rows"] / s["infer_s"] for s in ok) if ok else 0.0,
        "validate_rows_per_s": statistics.median(
            info["violated_rows"] / s["validate_s"] for s in ok) if ok else 0.0,
        "peak_rss_mb": peak_rss / 1e6,
        "success_rate": sum(s["ok"] for s in attempted) / len(attempted),
    }


def traced_run(bench: Bench, seconds: float, work: str, info: dict) -> tuple:
    """Ops without and then with spans (the overhead ratio), then the
    engine's fused scan of the violated snapshot for reference, the
    single-core layer replays, and the report replay. Raises
    layers.ReplayMismatch when a replay's outputs differ from the engine's."""
    import layers
    from jsonschema_infer_spark.operators import validate as V
    from jsonschema_infer_spark.operators.pipeline import infer_and_integrity_parquet

    untraced = bench.run_ops(seconds / 2, prefix="untraced")
    tracer = layers.Tracer()
    traced = bench.run_ops(seconds / 2, tracer, prefix="traced")
    samples = untraced + traced
    if not all(s["ok"] for s in bench.warmups + samples):
        return samples, None

    def op_s(group):
        return statistics.median(s["infer_s"] + s["validate_s"] for s in group)

    contract = bench.contract
    temporal = V.temporal_columns(bench.violated_df)
    spec_s = []
    for _ in range(21):
        t = time.perf_counter()
        spec = V.constraint_spec(contract.schema, state=contract.state, temporal_cols=temporal)
        spec_s.append(time.perf_counter() - t)

    violated, rg = bench.snap["violated"], bench.rg_per_task
    for k in range(3):
        with tracer.span("pipeline.fused_scan", op=f"engine{k}"):
            engine, integrity, counts = infer_and_integrity_parquet(
                bench.spark, violated, rg_per_task=rg, violation_spec=spec
            )
    passes = []
    for k in range(2):
        out = layers.replay_fused(tracer, bench.spark, violated, spec, rg, work, f"replay{k}")
        layers.require_equal("schema JSON", out["schema_json"], engine.schema_json)
        layers.require_equal("integrity", out["integrity"], integrity)
        layers.require_equal("constraint counts", out["counts"], counts)
        passes.append(out)

    # contract_* ops never run the report's Spark plans: a first, unmeasured
    # replay compiles them so that every workload reports warm numbers
    for op in ("report-warmup", "report"):
        report = layers.replay_report(
            tracer, bench.violated_df, contract, os.path.join(work, op), op
        )
    if bench.report:
        with open(os.path.join(bench.report_dir, "metrics.json")) as f:
            engine_metrics = {k: v for k, v in json.load(f).items() if k != "wall_secs"}
    else:
        engine_metrics = bench.expected_metrics(counts)
    layers.require_equal("metrics.json", report["metrics"], engine_metrics)
    tracer.write(os.path.join(work, "trace.jsonl"))

    # every layer number comes from the pass whose engine baseline ran fastest
    best = min(range(len(passes)), key=lambda k: tracer.total("replay.fused_task", f"replay{k}"))
    op, rows = f"replay{best}", passes[best]["rows"]

    def ns_per_row(name):
        return tracer.total(name, op, self_time=True) / rows * 1e9

    def secs(name, op=op):
        return tracer.total(name, op, self_time=True)

    fused = tracer.total("replay.fused_task", op) / rows * 1e9
    layer_sum = sum(ns_per_row(name) for name in layers.TASK_LAYERS)
    stats = layers.partial_stats(passes[best]["spill_dir"])
    props = info["properties"]
    m = {
        "transcripts.generate_s": info["generate_s"],
        "transcripts.inject_s": info["inject_s"],
        "transcripts.write_s": info["write_s"],
        "transcripts.text_plain_share": props["text_plain_share"],
        "transcripts.text_distinct_ratio": props["text_distinct_ratio"],
        "pipeline.fused_scan_s": statistics.median(tracer.durations("pipeline.fused_scan")),
        "pipeline.tasks": props["tasks"],
        "pipeline.task_rows_max_over_mean": props["task_rows_max_over_mean"],
        "pipeline.fused_task_ns_per_row": fused,
        "pipeline.fused_task_remainder_ns_per_row": fused - layer_sum,
        **{f"decode.{c}_ns_per_row": ns_per_row(f"decode.{c}") for c in COLUMNS},
        "decode.batches_ns_per_row": ns_per_row("decode"),
        "infer_spark.observe_ns_per_row": ns_per_row("infer_spark.observe"),
        "validate.integrity_fold_ns_per_row": ns_per_row("validate.integrity_fold"),
        "validate.partials_per_conv": stats["partials_per_conv"],
        "validate.multi_partial_share": stats["multi_partial_share"],
        "validate.spanning_conv_share": stats["spanning_conv_share"],
        "validate.spill_bytes": stats["spill_bytes"],
        "validate.spill_write_ns_per_row": ns_per_row("validate.spill_write"),
        "validate.partials_merge_s": secs("validate.partials_merge"),
        "validate.violation_counter_ns_per_row": ns_per_row("validate.violation_counter"),
        "validate.constraint_spec_s": statistics.median(spec_s),
        "state.merge_s": secs("state.merge"),
        "render.finalize_render_s": secs("render.finalize_render"),
        "report.compile_s": secs("report.compile", "report"),
        "report.violations_sink_s": secs("report.violations_sink", "report"),
        "report.verdicts_sink_s": secs("report.verdicts_sink", "report"),
        "report.counts_s": secs("report.counts", "report"),
        "report.integrity_s": secs("report.integrity", "report"),
        "report.sink_bytes": report["sink_bytes"],
        "trace.overhead_ratio": op_s(traced) / op_s(untraced),
    }
    return samples, m


def result_line(bench: Bench, samples: list, metrics: dict | None, units: dict) -> dict:
    attempted = bench.warmups + samples
    failed = sum(not s["ok"] for s in attempted)
    if metrics is None:  # no numbers from a run whose ops failed their check
        metrics = dict.fromkeys(units, 0.0)
    return {
        "correct": failed == 0,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def run(args, work: str, make_spark, cores: int, record: dict) -> dict:
    import hostinfo

    bench, info = setup(args.workload, args.seed, args.scale, work, make_spark, cores)
    record["setup"] = info
    if args.trace:
        samples, metrics = traced_run(bench, args.seconds, work, info)
        units = PER_LAYER
    else:
        with hostinfo.PeakRss() as rss:
            samples = bench.run_ops(args.seconds)
        metrics = end_to_end(bench, samples, info, rss.peak)
        record["peak_rss_by_command_mb"] = {k: v / 1e6 for k, v in rss.breakdown.items()}
        units = END_TO_END
    attempted = bench.warmups + samples
    record["error_rate"] = sum(not s["ok"] for s in attempted) / len(attempted)
    record["failures"] = [
        {"op": s["op"], "problems": s["problems"]} for s in attempted if not s["ok"]
    ][:5]
    ok = [s for s in samples if s["ok"]]
    record["timings"] = {
        k: summarize([s[k] for s in ok]) for k in ("infer_s", "validate_s")
    }
    record["ops"] = [
        {k: s.get(k) for k in ("op", "ok", "infer_s", "validate_s")} for s in attempted
    ]
    return result_line(bench, samples, metrics, units)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401  (the oracle)
        import jsonschema_infer_spark
    except ImportError as e:
        print(f"contractbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(jsonschema_infer_spark.__file__).startswith(ROOT + os.sep):
        # the benchmark measures the engine of its own checkout, no other
        print(f"contractbench: the engine imported from "
              f"{jsonschema_infer_spark.__file__}, not {ROOT}", file=sys.stderr)
        return 2
    import hostinfo
    import snapshots

    if args.workload not in snapshots.WORKLOADS:
        print(f"contractbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".contractbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cores, driver_memory = hostinfo.spark_resources()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "loop": "closed, one client",
        "host": hostinfo.host_facts(f"local[{cores}]", driver_memory),
        "probe_before": hostinfo.probe_health(),
    }
    sessions = []

    def make_spark():
        sessions.append(hostinfo.start_spark(work, ROOT, cores, driver_memory))
        return sessions[-1]

    try:
        result = run(args, work, make_spark, cores, record)
    finally:
        if sessions:
            hostinfo.stop_spark(sessions[0])
        for name in os.listdir(work):
            if name not in ("trace.jsonl",):
                path = os.path.join(work, name)
                shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    record["probe_after"] = hostinfo.probe_health()
    # a run on an unhealthy host is labelled, never dropped or retried
    record["host_healthy"] = record["probe_before"]["healthy"] and record["probe_after"]["healthy"]
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
