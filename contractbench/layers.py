"""The traced run: an in-memory span recorder, and the single-core replays
that call the engine's module functions in the order the engine calls
them, so each layer's time is measured where the work happens.

A replay that does not reproduce the engine's outputs raises
ReplayMismatch: its layer numbers would describe some other computation."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from jsonschema_infer_spark.config import default_config
from jsonschema_infer_spark.operators import state as S
from jsonschema_infer_spark.operators import validate as V
from jsonschema_infer_spark.operators.infer_spark import (
    _list_rg_tasks,
    fold_batches_columnar,
    merge_states,
)
from jsonschema_infer_spark.operators.pipeline import _fused_task
from jsonschema_infer_spark.plans.render import render_schema

CONV, IDX = "conv_id", "turn_idx"

# the per-task layers of _fused_task, whose self times should add up to it
TASK_LAYERS = (
    "decode",
    "infer_spark.observe",
    "validate.integrity_fold",
    "validate.violation_counter",
    "validate.spill_write",
)


class ReplayMismatch(RuntimeError):
    """A replay's outputs differ from the engine's."""


class Tracer:
    """Spans (name, start, end, parent, op id) and counts, kept in memory
    and written out once at the end. Spans nest on one thread, so a span's
    self time is its duration minus its children's."""

    def __init__(self):
        self.spans: list = []
        self.counts: list = []
        self._open: list = []

    @contextmanager
    def span(self, name: str, op=None):
        parent = self._open[-1] if self._open else None
        if op is None and parent is not None:
            op = parent["op"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def count(self, name: str, value) -> None:
        parent = self._open[-1] if self._open else None
        self.counts.append({
            "name": name,
            "value": value,
            "span": parent["id"] if parent else None,
            "op": parent["op"] if parent else None,
        })

    def self_times(self) -> dict:
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def total(self, name: str, op=None, self_time: bool = False) -> float:
        own = self.self_times() if self_time else None
        return sum(
            own[s["id"]] if self_time else s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        )

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"span": s}) + "\n")
            for c in self.counts:
                f.write(json.dumps({"count": c}, default=float) + "\n")


def _plain_keys(b: pa.RecordBatch, idxs: tuple) -> pa.RecordBatch:
    """The (conv, turn) batch _fused_task tees into the integrity fold."""
    cols = []
    for j in idxs:
        a = b.column(j)
        if pa.types.is_dictionary(a.type):
            a = a.cast(a.type.value_type)
        cols.append(a)
    return pa.RecordBatch.from_arrays(cols, names=[CONV, IDX])


def replay_fused(tracer: Tracer, spark, path: str, spec: list,
                 rg_per_task: int, work: str, op: str) -> dict:
    """One pass over ``path`` on this core: first the engine's own
    ``_fused_task`` per task (the single-threaded baseline), then the
    module functions it calls, one layer at a time, in its order, then the
    driver tail infer_and_integrity_parquet runs after the scan. Returns
    the layer replay's outputs and its spill directory."""
    config = default_config()
    tasks = _list_rg_tasks([path], rg_per_task)
    baseline_dir = os.path.join(work, f"{op}-baseline")
    spill_dir = os.path.join(work, f"{op}-spill")
    os.makedirs(baseline_dir)
    os.makedirs(spill_dir)

    with tracer.span("replay.fused_task", op=op):
        for i, (f, lo, hi) in enumerate(tasks):
            _fused_task(f, lo, hi, config, CONV, IDX, baseline_dir, i, None, spec)

    names = pq.ParquetFile(path).schema_arrow.names
    with tracer.span("replay.decode_columns", op=op):
        for f, lo, hi in tasks:
            pf = pq.ParquetFile(f)
            for c in names:
                with tracer.span(f"decode.{c}"):
                    for _ in pf.iter_batches(
                        batch_size=10_000, row_groups=list(range(lo, hi)), columns=[c]
                    ):
                        pass

    states, vcounts, rows = [], None, 0
    with tracer.span("replay.layers", op=op):
        for i, (f, lo, hi) in enumerate(tasks):
            with tracer.span("replay.task"):
                pf = pq.ParquetFile(f)
                with tracer.span("decode"):
                    batches = list(pf.iter_batches(
                        batch_size=10_000, row_groups=list(range(lo, hi))
                    ))
                with tracer.span("infer_spark.observe"):
                    st, n = fold_batches_columnar(iter(batches), config, None)
                with tracer.span("validate.integrity_fold"):
                    idxs = (names.index(CONV), names.index(IDX))
                    kept = [_plain_keys(b, idxs) for b in batches]
                    out = list(V._integrity_fold(CONV, IDX)(iter(kept)))
                with tracer.span("validate.violation_counter"):
                    vnames, counter = V.arrow_violation_counter(spec, pf.schema_arrow)
                    v = np.zeros(len(vnames), dtype=np.int64)
                    for b in batches:
                        v += counter(b)
                with tracer.span("validate.spill_write"):
                    if out:
                        final = os.path.join(spill_dir, f"part-{i:05d}.parquet")
                        tmp = os.path.join(spill_dir, f".part-{i:05d}.parquet.inprogress")
                        pq.write_table(pa.Table.from_batches(out), tmp)
                        os.replace(tmp, final)
                tracer.count("rows", n)
                tracer.count("partial_rows", sum(b.num_rows for b in out))
                states.append(st)
                vcounts = v if vcounts is None else vcounts + v
                rows += n
        with tracer.span("validate.partials_merge"):
            integrity = V.reduce_spilled_partials(spark, spill_dir)
        with tracer.span("state.merge"):
            merged = merge_states(states)
        with tracer.span("render.finalize_render"):
            schema_json = render_schema(S.finalize(merged, config), config.indent)
    return {
        "rows": rows,
        "schema_json": schema_json,
        "integrity": integrity,
        "counts": dict(zip(vnames, (int(x) for x in vcounts))),
        "spill_dir": spill_dir,
    }


def partial_stats(spill_dir: str) -> dict:
    """How the integrity partials of one pass spread over convs."""
    files = sorted(
        os.path.join(spill_dir, p) for p in os.listdir(spill_dir) if p.startswith("part-")
    )
    conv = pa.concat_tables([pq.read_table(p, columns=["conv"]) for p in files]).column("conv")
    per_conv = pc.value_counts(conv).field("counts").to_numpy()
    multi = per_conv > 1
    return {
        "partials_per_conv": len(conv) / len(per_conv),
        "multi_partial_share": per_conv[multi].sum() / len(conv),
        "spanning_conv_share": multi.sum() / len(per_conv),
        "spill_bytes": sum(os.path.getsize(p) for p in files),
    }


def replay_report(tracer: Tracer, df, reference, out_dir: str, op: str) -> dict:
    """The validate calls of operators.report.run_validation_report, in its
    order and with its defaults, each in its own span. Returns the
    metrics.json content (less wall_secs) and the bytes of all sinks."""
    os.makedirs(out_dir, exist_ok=True)
    with tracer.span("replay.report", op=op):
        with tracer.span("report.compile"):
            cons = V.compile_constraints(reference.schema, state=reference.state, df=df)
        with tracer.span("report.schema_sink"):
            with open(os.path.join(out_dir, "schema.json"), "w") as f:
                f.write(reference.schema_json)
        with tracer.span("report.violations_sink"):
            V.violations(df, cons, keep_cols=[CONV, IDX]).write.mode("overwrite").parquet(
                os.path.join(out_dir, "violations.parquet")
            )
        with tracer.span("report.verdicts_sink"):
            V.partition_verdicts(df, cons, bucket_col=CONV, num_buckets=64).write.mode(
                "overwrite"
            ).parquet(os.path.join(out_dir, "verdicts.parquet"))
        with tracer.span("report.counts"):
            counts = {
                r.constraint: int(r.violation_count)
                for r in V.violation_counts(df, cons).collect()
            }
            rows = df.count()
        with tracer.span("report.integrity"):
            integrity = V.transcript_integrity_summary(df, CONV, IDX)
        metrics = {
            "rows": rows,
            "constraints": counts,
            "violation_total": int(sum(counts.values())),
            "integrity": integrity,
        }
        with open(os.path.join(out_dir, "metrics.json"), "w") as f:
            json.dump(metrics, f, indent=2, sort_keys=True)
    sink_bytes = sum(
        os.path.getsize(os.path.join(d, name))
        for d, _, names in os.walk(out_dir)
        for name in names
    )
    tracer.count("sink_bytes", sink_bytes)
    return {"metrics": metrics, "sink_bytes": sink_bytes}


def require_equal(what: str, replay, engine) -> None:
    if replay != engine:
        raise ReplayMismatch(f"{what}: replay {replay!r} != engine {engine!r}")
