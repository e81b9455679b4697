"""The engine's one task protocol: how every inference scan commits,
resumes, reduces and checks its tasks (north_rule: "resumable from a
checkpointed partition manifest carrying per-partition lineage and
metrics").

A checkpoint directory holds ``manifest.json`` and one marker per task,
``states/state_<i>.json``: {pid, rows, secs, attempt, state, violations}
plus the task's key. ``run_task`` returns task i's ``recorded`` result
when its marker's key equals the task's key; otherwise it runs the task
and then ``commit``s the marker atomically (tmp + rename, idempotent
under task retry). ``_open_manifest`` records the run's identity before
any task runs and refuses a directory written for another one.
``reduce_tasks`` is the one reduce: a single ``treeAggregate`` (depth 1,
i.e. collect plus driver fold, up to ``_TREE_REDUCE_THRESHOLD`` tasks)
whose lineage is checked at every task count.

Drivers: ``infer_spark.infer_dataframe(checkpoint_dir=...)``, whose resumed
partitions read their marker before consuming any Arrow batch; and
``pipeline.infer_and_integrity_parquet``, whose markers carry the
violation vector and whose task key is (file, row-group range,
``file_fingerprint``), so a file rewritten in place is scanned again.

This improves on the reference's ``Load`` resume (jsonschema.go:178-209),
which reconstructs lossy synthetic counts from the OUTPUT schema; we
checkpoint the exact aggregation STATE, so resume is lossless (SURVEY.md
§2.1 #20). On a real cluster the checkpoint dir must be shared storage.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time

import numpy as np

from .operators import state as S

MANIFEST = "manifest.json"
STATES = "states"

# Above this many tasks the reduce is a real tree, so the driver never
# deserializes all partial states at once.
_TREE_REDUCE_THRESHOLD = 512


def config_fingerprint(config, mode, json_column, order_cols=None) -> str:
    """``mode`` names the fold: a string for ``infer_dataframe``, a
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


def file_fingerprint(path: str) -> str:
    """A parquet file's identity: its size plus the sha256 of its footer
    (the length word in the last 8 bytes says how long it is). A rewrite
    under the same name changes it, and it costs two reads, not a scan."""
    with open(path, "rb") as f:
        size = f.seek(0, os.SEEK_END)
        f.seek(max(size - 8, 0))
        n = int.from_bytes(f.read(4), "little") + 8
        f.seek(max(size - n, 0))
        footer = f.read(n)
    return f"{size}:{hashlib.sha256(footer).hexdigest()}"


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
    os.makedirs(os.path.join(checkpoint_dir, STATES), exist_ok=True)
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


def recorded(ckpt: str, i: int, key: dict, extra=()):
    """Task ``i``'s committed result as a ``reduce_tasks`` element, or None
    when it has no marker, one committed under another task key, or one
    that lacks a lineage field named in ``extra`` (an older engine's). A
    writer killed before its rename leaves only ``state_<i>.json.tmp.*``,
    which is never read."""
    path = _state_path(ckpt, i)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        rec = json.load(f)
    if any(rec.get(k) != v for k, v in key.items()) or None in map(rec.get, extra):
        return None
    state, vec = S.state_from_jsonable(rec.pop("state")), rec.pop("violations")
    vec = None if vec is None else np.asarray(vec, dtype=np.int64)
    return state, rec["rows"], vec, [{**rec, "resumed": True}]


def commit(ckpt: str, i: int, rec: dict, state: dict, vec) -> None:
    """Commit task ``i`` after every output it spills: its marker is its
    lineage ``rec`` (task key included), state and violation vector."""
    vec = None if vec is None else vec.tolist()
    marker = {**rec, "state": S.state_to_jsonable(state), "violations": vec}
    _atomic_write(_state_path(ckpt, i), json.dumps(marker))


def run_task(ckpt: str | None, i: int, key: dict, body, extra=None) -> tuple:
    """Task ``i``'s recorded result if ``ckpt`` holds a marker for ``key``,
    else ``body() -> (state, rows[, violation vector])`` and its commit
    (none with ``ckpt=None``). Returns the ``reduce_tasks`` element
    (state, rows, vector or None, [lineage]). The body fills in the
    lineage fields named in ``extra``."""
    extra = extra or {}
    got = recorded(ckpt, i, key, extra) if ckpt is not None else None
    if got is not None:
        return got
    from pyspark import TaskContext

    ctx = TaskContext.get()
    t = time.perf_counter()
    out = body()
    vec = out[2] if len(out) > 2 else None
    rec = {
        "pid": i,
        **key,
        "rows": out[1],
        "secs": time.perf_counter() - t,
        "attempt": ctx.attemptNumber() if ctx is not None else 0,
        **extra,
    }
    if ckpt is not None:
        commit(ckpt, i, rec, out[0], vec)
    return out[0], out[1], vec, [{**rec, "resumed": False}]


def _combine(a: tuple, b: tuple) -> tuple:
    # None is the identity of the state and of the violation vector
    st = b[0] if a[0] is None else a[0] if b[0] is None else S.merge(a[0], b[0])
    vec = b[2] if a[2] is None else a[2] if b[2] is None else a[2] + b[2]
    return st, a[1] + b[1], vec, a[3] + b[3]


def reduce_tasks(rdd, n_tasks: int) -> tuple:
    """Reduce an RDD of ``run_task`` elements, one per task, with one
    ``treeAggregate`` to (merged_state, total_rows, violation totals or
    None, lineage). Its zero value makes an empty input an empty state,
    where ``treeReduce`` would raise. The lineage is checked, not assumed:
    every task id in ``range(n_tasks)`` exactly once, rows summing to the
    total."""
    depth = 1
    if n_tasks > _TREE_REDUCE_THRESHOLD:
        depth = max(2, math.ceil(math.log(n_tasks, 64)))
    st, rows, vec, lineage = rdd.treeAggregate(
        (None, 0, None, []), _combine, _combine, depth
    )
    lineage.sort(key=lambda r: r["pid"])
    pids = [r["pid"] for r in lineage]
    lineage_rows = sum(r["rows"] for r in lineage)
    if pids != list(range(n_tasks)) or lineage_rows != rows:
        raise RuntimeError(
            f"task lineage holds tasks {pids[:10]} for {n_tasks} tasks "
            f"and {lineage_rows} rows for {rows}"
        )
    return (st if st is not None else S.new_state()), rows, vec, lineage


def write_manifest(mpath: str, identity: dict, lineage: list, res, **extra) -> None:
    """The finished run's manifest: identity, per-task lineage, row total,
    schema digest and the driver's ``extra`` results."""
    sha = hashlib.sha256(res.schema_json.encode()).hexdigest()
    manifest = {
        **identity, "num_tasks": len(lineage), "complete": True,
        "total_rows": res.total_rows, "per_task": lineage,
        "schema_sha256": sha, **extra,
    }
    _atomic_write(mpath, json.dumps(manifest, indent=2))
