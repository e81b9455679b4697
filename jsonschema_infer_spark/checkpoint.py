"""Checkpoint primitives and checkpointed, resumable inference over a
DataFrame (north_rule: "resumable from a checkpointed partition manifest
carrying per-partition lineage and metrics").

A checkpoint directory holds ``manifest.json`` and one completion marker
per task, ``states/state_<pid>.json``: the task's partial SchemaState and
lineage, written atomically (tmp + rename, idempotent under task retry)
as the task's last step. ``_open_manifest`` records the run's identity
(input files + config fingerprint) before any task runs and refuses a
directory written for another one. A rerun skips every task whose marker
exists. Two drivers use this layout:
- ``infer_with_checkpoint`` (here) folds a DataFrame's own scan
  partitions with no extra shuffle; a resumed partition checks its marker
  before consuming its Arrow batches, so it costs an open, not a scan.
- ``operators.pipeline.infer_and_integrity_parquet(checkpoint_dir=...)``,
  the fused inference + integrity + contract-validation scan; its markers
  also carry the violation vector, next to ``integrity/part-<i>.parquet``.

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
    _infer_result,
    fold_batches_columnar,
    fold_batches_json,
    merge_states,
)

MANIFEST = "manifest.json"
STATES = "states"


def config_fingerprint(
    config: InferConfig, mode, json_column, order_cols=None
) -> str:
    """``mode`` names the fold: a string for ``infer_with_checkpoint``, a
    JSON-able description of the task layout and contract for the fused
    scan."""
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
        default=str,
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
):
    """Run (or resume) a checkpointed inference. Returns (InferResult,
    manifest dict). A run that fails mid-job leaves its finished
    partitions' states behind; rerunning with the same checkpoint_dir folds
    only the missing ones (``manifest['folded_this_run']``)."""
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

    ckpt = checkpoint_dir

    def fold(batches):
        from pyspark import TaskContext

        try:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            path = _state_path(ckpt, pid)
            if os.path.exists(path):
                return  # resume: completed partition, skip without scanning
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

    result = _infer_result(
        merge_states(states), sum(p[1] for p in partitions), partitions,
        config, t0,
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
