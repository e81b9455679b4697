"""One-pass transcript pipeline: schema inference + integrity partials off
a SINGLE native parquet scan.

The north_rule pipeline is infer -> compile -> validate. Composed from the
standalone operators it scans the table twice before validation: once for
the inference fold (`infer_spark.infer_dataframe`) and once for the
integrity fold (`validate.transcript_integrity_summary`). Both folds are
per-partition pre-aggregations over the same rows — the classic
multi-aggregate fusion a 100 TB job cannot afford to skip, since the
second scan is the same IO all over again.

Here each (file, row-group-range) task iterates its Arrow batches ONCE:

    pyarrow row-group scan (memory-mapped, no Spark row pipeline)
      -> vectorized inference fold (observe every column)   \\ same
      -> per-conversation integrity pre-aggregation          | batch
      -> contract violation counter (given a violation_spec) / stream
    inference partial  -> returned, merged by checkpoint.reduce_tasks (one
                          treeAggregate, lineage checked at any task count)
    integrity partials -> spilled to parquet (a few % of input bytes),
                          one part file per task, reduced by
                          validate.reduce_spilled_partials (driver merge or
                          distributed, picked from the measured spill size)
    completion marker  -> the task's state, rows, violation vector and
                          lineage, written last (checkpoint.run_task): the
                          checkpoint a rerun over the same directory
                          resumes from, keyed by (file, row-group range,
                          file fingerprint)

Results equal `infer_dataframe`, `transcript_integrity_summary` and
`violation_counts` on the same table — the folds are the same code; tests
assert equality on clean, violated and NULL-key tables, fresh and resumed.
`infer_and_integrity_parquet` is the one driver of this scan and the one
inference driver for parquet input.

Reference anchor: the sequential equivalent is AddSample folding each
document once (`/root/reference/jsonschema.go:57-92`); validation is the
roadmap feature the reference never built (FEATURES.md:172-174), so its
natural distributed home is the same pass that already reads the rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pyarrow as pa

from .._worker import release_zip_finders
from ..checkpoint import (
    _open_manifest, config_fingerprint, file_fingerprint, reduce_tasks,
    run_task, write_manifest,
)
from ..config import InferConfig, default_config
from .infer_spark import (
    _infer_result,
    _list_rg_tasks,
    fold_batches_columnar,
    list_parquet_files,
)
from .validate import (
    _integrity_fold,
    _partial_schema,
    reduce_spilled_partials,
)


def _fused_task(
    f: str,
    lo: int,
    hi: int,
    config: InferConfig,
    conv_col: str,
    idx_col: str,
    out_dir: str,
    i: int,
    order_cols: list | None = None,
    violation_spec: list | None = None,
) -> tuple:
    """One fused task: fold row-groups [lo, hi) of ``f`` through the
    inference observer while teeing (conv, turn) into the integrity
    pre-aggregation; integrity partials land in ``out_dir/part-<i>`` (a
    task retry overwrites the same file — idempotent). Returns
    (state, rows), or (state, rows, violation_counts_vector) when
    ``violation_spec`` is given — the same batch stream then ALSO feeds
    the arrow violation counter (validate.arrow_violation_counter), so a
    contract's constraint spec is validated in this one pass instead of a
    second whole-table scan. Run by ``infer_and_integrity_parquet`` (with or
    without a checkpoint directory) and, one task at a time without Spark,
    by contractbench's layer replay."""
    import os

    import pyarrow.parquet as pq

    from .validate import arrow_violation_counter

    integrity_fold = _integrity_fold(conv_col, idx_col)
    pf = pq.ParquetFile(f)
    counter = None
    vcounts = None
    vnames: list = []
    if violation_spec is not None:
        vnames, counter = arrow_violation_counter(violation_spec, pf.schema_arrow)
    batches = pf.iter_batches(batch_size=10_000, row_groups=list(range(lo, hi)))
    kept: list = []
    ns = pf.schema_arrow.names
    idxs = (ns.index(conv_col), ns.index(idx_col))

    def tee(bs):
        nonlocal vcounts
        for b in bs:
            cols = []
            for j in idxs:
                a = b.column(j)
                if pa.types.is_dictionary(a.type):
                    a = a.cast(a.type.value_type)
                cols.append(a)
            kept.append(
                pa.RecordBatch.from_arrays(cols, names=[conv_col, idx_col])
            )
            if counter is not None:
                c = counter(b)
                vcounts = c if vcounts is None else vcounts + c
            yield b

    st, rows = fold_batches_columnar(tee(batches), config, order_cols)
    # every task writes its part file, an empty one too, so the driver
    # can check the spill holds exactly one file per task
    # (_check_spill_parts). Write-then-rename: a part file appears under
    # its final name only when complete; the leading dot keeps a torn tmp
    # (writer killed mid-write) invisible to the part-* glob, pyarrow
    # dataset discovery and Spark, and the pid suffix keeps concurrent
    # attempts from sharing a temp file
    final = os.path.join(out_dir, f"part-{i:05d}.parquet")
    tmp = os.path.join(out_dir, f".part-{i:05d}.parquet.inprogress-{os.getpid()}")
    pq.write_table(
        pa.Table.from_batches(
            list(integrity_fold(iter(kept))), schema=_partial_schema()
        ),
        tmp,
    )
    os.replace(tmp, final)
    if violation_spec is not None:
        import numpy as np

        if vcounts is None:  # zero batches in this task's range
            vcounts = np.zeros(len(vnames), dtype=np.int64)
    # last step: the worker's next task then re-reads no zip directory
    release_zip_finders()
    if violation_spec is not None:
        return st, rows, vcounts
    return st, rows


def _check_spill_parts(out_dir: str, task_ids) -> None:
    """Raise unless ``out_dir`` holds exactly one ``part-<i>`` file per
    task in ``task_ids``. A lost part file would silently drop that
    task's conversations from the integrity counts; a stale one (a reused
    spill directory, or a resumed run with another task layout) would
    silently add rows the scan never read."""
    import glob
    import os

    got = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(out_dir, "part-*.parquet"))
    }
    want = {f"part-{i:05d}.parquet" for i in task_ids}
    if got != want:
        raise ValueError(
            f"integrity spill {out_dir!r} does not match the run's tasks: "
            f"missing {sorted(want - got)[:5]}, "
            f"unexpected {sorted(got - want)[:5]}; "
            "use a fresh spill/checkpoint directory"
        )


def infer_and_integrity_parquet(
    spark,
    path: str,
    config: InferConfig | None = None,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    rg_per_task: int = 4,
    order_cols: list | None = None,
    checkpoint_dir: str | None = None,
    violation_spec: list | None = None,
) -> tuple:
    """Fused scan: returns ``(InferResult, integrity_dict)`` where the
    InferResult equals ``infer_dataframe(spark.read.parquet(path), config,
    ...)`` and the dict equals ``transcript_integrity_summary`` over the
    same rows — one data pass for both. This is the one inference driver
    for parquet input; a capped (``max_samples``) or JSON-column inference
    reads the table with ``infer_dataframe`` instead.

    ``violation_spec`` is the constraint spec of a contract known before
    the scan (``validate.constraint_spec`` of a schema inferred from a
    reference snapshot, or loaded). It adds row-violation counting to the
    same pass: the return grows a third element, a dict
    {constraint_name: violation_count} bit-equal to
    ``violation_counts(spark.read.parquet(path), build_constraints(spec))``
    — inference, integrity and validation in one table read. A spec
    inferred from this same table counts 0 everywhere by construction.

    ``checkpoint_dir`` makes the run resumable (layout in checkpoint.py):
    each task spills ``integrity/part-<i>.parquet`` and then commits its
    marker ``states/state_<i>.json``; a rerun over the directory returns
    each committed task's recorded result instead of scanning it again,
    unless the task's file has changed since (size + footer hash): then
    the task runs again and rewrites its part file. The call returns
    complete results or raises, and finished work stays on disk. ``None``
    uses a temp directory, deleted afterwards.

    ``max_samples`` is not supported here (a row budget caps inference but
    integrity must still see every row — the two folds would need
    different scans, defeating the fusion); use infer_dataframe and
    transcript_integrity_summary for that configuration."""
    config = config or default_config()
    if config.max_samples > 0:
        raise ValueError(
            "max_samples caps the inference scan but integrity must see "
            "every row; run infer_dataframe(spark.read.parquet(path)) + "
            "transcript_integrity_summary separately for capped inference"
        )
    if config.examples and not order_cols:
        raise NotImplementedError(
            "examples capture needs a total order in distributed mode: pass "
            "order_cols=[...] (e.g. ['conv_id', 'turn_idx'])"
        )
    t0 = time.time()
    files = list_parquet_files(path)
    tasks = _list_rg_tasks(files, rg_per_task)

    if violation_spec is not None:
        import pyarrow.parquet as _pq

        from .validate import arrow_violation_counter, constraint_name

        if tasks:
            # validate support up front (raises UnsupportedArrowSpec on the
            # driver, not inside 200 tasks) and capture the constraint names
            vnames, _ = arrow_violation_counter(
                violation_spec, _pq.ParquetFile(tasks[0][0]).schema_arrow
            )
        else:  # an empty table violates nothing
            vnames = [constraint_name(e) for e in violation_spec]

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="jis_pipeline_")
    out_dir = os.path.join(ckpt, "integrity")
    os.makedirs(out_dir, exist_ok=True)
    layout = {
        "fused": [conv_col, idx_col, rg_per_task],
        "violation_spec": violation_spec,
    }
    identity = {
        "config_fingerprint": config_fingerprint(config, layout, None, order_cols),
        "input_files": sorted(files),
    }
    fingerprints = {f: file_fingerprint(f) for f in files}

    def run(item):
        i, (f, lo, hi) = item
        key = {"file": f, "row_groups": [lo, hi], "fingerprint": fingerprints[f]}
        return run_task(ckpt, i, key, lambda: _fused_task(
            f, lo, hi, config, conv_col, idx_col, out_dir, i, order_cols,
            violation_spec,
        ))

    try:
        mpath = _open_manifest(ckpt, identity)
        rdd = spark.sparkContext.parallelize(
            list(enumerate(tasks)), max(len(tasks), 1)
        ).map(run)
        merged, total_rows, vtotals, lineage = reduce_tasks(rdd, len(tasks))
        res = _infer_result(merged, total_rows, lineage, config, t0)
        _check_spill_parts(out_dir, range(len(tasks)))
        integ = reduce_spilled_partials(spark, out_dir)
        counts = None
        if violation_spec is not None:
            # no tasks leave no violation vector: every count is 0
            counts = dict.fromkeys(vnames, 0)
            if vtotals is not None:
                counts.update(zip(vnames, (int(v) for v in vtotals)))
        write_manifest(mpath, identity, lineage, res, integrity=integ, violations=counts)
        return (res, integ) if counts is None else (res, integ, counts)
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)
