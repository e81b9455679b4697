"""Checkpointed, resumable distributed inference (north_rule: "resumable
from a checkpointed partition manifest carrying per-partition lineage and
metrics").

Design: NO extra shuffle. The fold runs over the scan's own partitions
(deterministic for a fixed parquet file set + maxPartitionBytes); each task
writes its partial SchemaState to ``<dir>/states/state_<pid>.json``
atomically (tmp + rename, idempotent under task retry). A resumed run checks
for the state file BEFORE consuming its Arrow batches, so completed
partitions cost an open, not a scan. The driver merges whatever states exist
(the merge is associative — any subset is a valid partial result) and the
manifest records lineage: input files, partition count, config fingerprint,
per-partition row counts and timings.

This improves on the reference's ``Load`` resume (jsonschema.go:178-209),
which reconstructs lossy synthetic counts from the OUTPUT schema; we
checkpoint the exact aggregation STATE, so resume is lossless (SURVEY.md
§2.1 #20). A reference-parity schema-JSON loader still exists in
plans/render.py.

On a real cluster the checkpoint dir must be shared storage (HDFS/S3/...);
in this sandbox it is a local path, which on local[N] is equivalent.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pyarrow as pa

from ._worker import release_zip_finders
from .config import InferConfig, default_config
from .operators import state as S
from .operators.infer_spark import (
    InferResult,
    fold_batches_columnar,
    fold_batches_json,
    merge_states,
)
from .plans.render import render_schema

MANIFEST = "manifest.json"
STATES = "states"


def config_fingerprint(
    config: InferConfig, mode: str, json_column, order_cols=None
) -> str:
    key = json.dumps(
        {
            "formats": list(config.format_names()),
            "predefined": dict(sorted(config.predefined.items())),
            "max_samples": config.max_samples,
            "version": config.schema_version,
            "examples": config.examples,
            "mode": mode,
            "json_column": json_column,
            "order_cols": list(order_cols) if order_cols else None,
        },
        sort_keys=True,
    )
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def _state_path(ckpt: str, pid: int) -> str:
    return os.path.join(ckpt, STATES, f"state_{pid:06d}.json")


def _atomic_write(path: str, payload: str) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, path)  # idempotent under task retries


def _open_manifest(checkpoint_dir: str, identity: dict) -> str:
    """Refuse a checkpoint written for another input, config or task
    layout; on a fresh one, record ``identity`` BEFORE any task runs, so a
    run killed mid-scan still leaves behind which layout its state files
    and spills belong to. Returns the manifest path."""
    mpath = os.path.join(checkpoint_dir, MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as f:
            prev = json.load(f)
        if any(prev.get(k) != v for k, v in identity.items()):
            raise ValueError(
                "checkpoint manifest does not match this input/config; "
                "use a fresh checkpoint_dir"
            )
    else:
        _atomic_write(mpath, json.dumps({**identity, "complete": False}, indent=2))
    return mpath


def infer_with_checkpoint(
    df,
    checkpoint_dir: str,
    config: InferConfig | None = None,
    mode: str = "columnar",
    json_column: str | None = None,
    order_cols: list | None = None,
    _skip_partitions=None,  # test hook: simulate partitions that never finish
):
    """Run (or resume) a checkpointed inference. Returns (InferResult,
    manifest dict). ``manifest['complete']`` is False when some partitions
    have no state yet (e.g. a simulated failure) — rerunning with the same
    checkpoint_dir folds only the missing ones."""
    config = config or default_config()
    if config.examples and not order_cols:
        raise NotImplementedError(
            "examples capture needs a total order: pass order_cols=[...]"
        )
    if config.max_samples > 0:
        df = df.limit(config.max_samples)

    os.makedirs(os.path.join(checkpoint_dir, STATES), exist_ok=True)
    fp = config_fingerprint(config, mode, json_column, order_cols)
    input_files = sorted(df.inputFiles())
    n_parts = df.rdd.getNumPartitions()
    mpath = _open_manifest(
        checkpoint_dir,
        {
            "config_fingerprint": fp,
            "input_files": input_files,
            "num_partitions": n_parts,
        },
    )

    skip = set(_skip_partitions or ())
    ckpt = checkpoint_dir

    def fold(batches):
        from pyspark import TaskContext

        try:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            path = _state_path(ckpt, pid)
            if os.path.exists(path):
                return  # resume: completed partition, skip without scanning
            if pid in skip:
                return  # test hook: pretend this partition never finished
            t0 = time.time()
            if mode == "json":
                st, rows = fold_batches_json(batches, config, json_column, order_cols)
            else:
                st, rows = fold_batches_columnar(batches, config, order_cols)
            _atomic_write(
                path,
                json.dumps(
                    {
                        "pid": pid,
                        "rows": rows,
                        "secs": time.time() - t0,
                        "attempt": ctx.attemptNumber() if ctx is not None else 0,
                        "state": S.state_to_jsonable(st),
                    }
                ),
            )
            yield pa.RecordBatch.from_pydict({"pid": pa.array([pid], pa.int64())})
        finally:
            release_zip_finders()

    t0 = time.time()
    folded_now = [
        r.pid for r in df.mapInArrow(fold, "pid long").collect()
    ]

    # driver: read every completed state from the manifest dir. Only
    # exact "state_*.json" names count — a writer killed between the tmp
    # write and os.replace leaves "state_*.json.tmp.<pid>" behind, which
    # must not be merged (double-count) nor crash the resume (truncated)
    states, partitions = [], []
    for fn in sorted(os.listdir(os.path.join(ckpt, STATES))):
        if not (fn.startswith("state_") and fn.endswith(".json")):
            continue
        with open(os.path.join(ckpt, STATES, fn)) as f:
            rec = json.load(f)
        states.append(S.state_from_jsonable(rec["state"]))
        partitions.append((rec["pid"], rec["rows"], rec["secs"]))

    merged = merge_states(states)
    schema = S.finalize(merged, config)
    result = InferResult(
        state=merged,
        config=config,
        schema=schema,
        schema_json=render_schema(schema, config.indent),
        total_rows=sum(p[1] for p in partitions),
        partitions=partitions,
        wall_secs=time.time() - t0,
    )

    manifest = {
        "config_fingerprint": fp,
        "mode": mode,
        "json_column": json_column,
        "input_files": input_files,
        "num_partitions": n_parts,
        "completed_partitions": sorted(p[0] for p in partitions),
        "folded_this_run": sorted(folded_now),
        "complete": len(partitions) >= n_parts,
        "total_rows": result.total_rows,
        "per_partition": [
            {"pid": p, "rows": r, "secs": round(s, 4)} for p, r, s in partitions
        ],
        "schema_sha256": hashlib.sha256(result.schema_json.encode()).hexdigest(),
    }
    _atomic_write(mpath, json.dumps(manifest, indent=2))
    return result, manifest


def fused_with_checkpoint(
    spark,
    path: str,
    checkpoint_dir: str,
    config: InferConfig | None = None,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    rg_per_task: int = 4,
    _skip_tasks=None,  # test hook: simulate tasks that never finish
):
    """Checkpointed, resumable form of the FUSED benchmark pipeline
    (``operators.pipeline.infer_and_integrity_parquet``): each (file,
    row-group-range) task writes its integrity partial parquet and then —
    last, as the completion marker — its inference state JSON with
    lineage (file, row-group range, rows, seconds, attempt). A resumed
    run skips tasks whose marker exists WITHOUT re-reading their bytes;
    the driver merges whatever states exist and reduces the spilled
    integrity partials, so a partial manifest is still a valid partial
    result (associative merges on both sides). The spill must hold
    exactly one part file per completed task, or the run is refused.

    Returns (InferResult | None, integrity dict | None, manifest) —
    the results are None only when no task has completed yet."""
    from .operators.infer_spark import _list_rg_tasks, list_parquet_files
    from .operators.pipeline import _check_spill_parts, _fused_task
    from .operators.validate import reduce_spilled_partials

    config = config or default_config()
    if config.max_samples > 0:
        raise ValueError(
            "max_samples is unsupported on the fused path (integrity must "
            "see every row); see infer_and_integrity_parquet"
        )
    if config.examples:
        raise NotImplementedError(
            "examples capture is not wired into the checkpointed fused "
            "path; use infer_with_checkpoint(order_cols=...) or the "
            "direct pipeline"
        )
    files = list_parquet_files(path)
    tasks = _list_rg_tasks(files, rg_per_task)
    fp = config_fingerprint(config, f"fused:{conv_col}:{idx_col}:{rg_per_task}", None)

    states_dir = os.path.join(checkpoint_dir, STATES)
    spill_dir = os.path.join(checkpoint_dir, "integrity")
    os.makedirs(states_dir, exist_ok=True)
    os.makedirs(spill_dir, exist_ok=True)

    mpath = _open_manifest(
        checkpoint_dir, {"config_fingerprint": fp, "input_files": sorted(files)}
    )

    skip = set(_skip_tasks or ())
    ckpt = checkpoint_dir

    def run(item):
        from pyspark import TaskContext

        i, (f, lo, hi) = item
        spath = _state_path(ckpt, i)
        if os.path.exists(spath) or i in skip:
            return None
        t0 = time.time()
        st, rows = _fused_task(
            f, lo, hi, config, conv_col, idx_col, spill_dir, i
        )
        ctx = TaskContext.get()
        _atomic_write(
            spath,
            json.dumps(
                {
                    "pid": i,
                    "file": f,
                    "row_groups": [lo, hi],
                    "rows": rows,
                    "secs": time.time() - t0,
                    "attempt": ctx.attemptNumber() if ctx is not None else 0,
                    "state": S.state_to_jsonable(st),
                }
            ),
        )
        return i

    t0 = time.time()
    spark.sparkContext.parallelize(
        list(enumerate(tasks)), max(len(tasks), 1)
    ).map(run).collect()

    states, partitions, lineage = [], [], []
    for fn in sorted(os.listdir(states_dir)):
        if not (fn.startswith("state_") and fn.endswith(".json")):
            continue  # orphaned "*.json.tmp.<pid>" from a killed writer
        with open(os.path.join(states_dir, fn)) as f:
            rec = json.load(f)
        states.append(S.state_from_jsonable(rec["state"]))
        partitions.append((rec["pid"], rec["rows"], rec["secs"]))
        lineage.append(
            {
                "pid": rec["pid"],
                "file": rec["file"],
                "row_groups": rec["row_groups"],
                "rows": rec["rows"],
                "secs": round(rec["secs"], 4),
                "attempt": rec.get("attempt", 0),
            }
        )

    _check_spill_parts(spill_dir, [p[0] for p in partitions])
    result = integ = None
    if states:
        merged = merge_states(states)
        schema = S.finalize(merged, config)
        result = InferResult(
            state=merged,
            config=config,
            schema=schema,
            schema_json=render_schema(schema, config.indent),
            total_rows=sum(p[1] for p in partitions),
            partitions=partitions,
            wall_secs=time.time() - t0,
        )
        integ = reduce_spilled_partials(spark, spill_dir)

    manifest = {
        "config_fingerprint": fp,
        "mode": "fused",
        "input_files": sorted(files),
        "num_tasks": len(tasks),
        "completed_tasks": sorted(p[0] for p in partitions),
        "complete": len(partitions) >= len(tasks),
        "total_rows": result.total_rows if result else 0,
        "per_task": lineage,
        "integrity": integ,
        "schema_sha256": (
            hashlib.sha256(result.schema_json.encode()).hexdigest()
            if result
            else None
        ),
    }
    _atomic_write(mpath, json.dumps(manifest, indent=2))
    return result, integ, manifest
