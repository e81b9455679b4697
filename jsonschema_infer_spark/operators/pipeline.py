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

    pyarrow row-group scan (no Spark row pipeline) of every column but
    the credited strings
      -> vectorized inference fold (observe every column)   \\ same
      -> per-conversation integrity pre-aggregation          | batch
      -> contract violation counter (given a violation_spec) / stream
    then each credited string column on its own reader
      -> inference fold until the column's state is saturated; the
         footer credits the rest, and its null total to ``required``
    inference partial  -> returned, merged by checkpoint.reduce_tasks (one
                          treeAggregate, lineage checked at any task count)
    integrity partials -> one partial per conversation run (or sort group),
                          turn sets in [0, 64) as 64-bit masks, spilled
                          plain in conv-hash order, one part file per
                          task, checked against the task's keyed rows and
                          reduced by validate.reduce_spilled_partials
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
from contextlib import closing

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import state as S
from .._worker import release_zip_finders
from ..checkpoint import (
    _open_manifest, config_fingerprint, file_fingerprint, reduce_tasks,
    run_task, write_manifest,
)
from ..config import InferConfig, default_config
from .infer_spark import (
    _infer_result,
    _is_str,
    _list_rg_tasks,
    credit_strings,
    fold_batches_columnar,
    list_parquet_files,
    observe_arrow_column,
    saturated,
)
from .validate import (
    CONV_HASH,
    SPILL_LAYOUT,
    _integrity_fold,
    _partial_schema,
    arrow_violation_counter,
    constraint_name,
    reduce_spilled_partials,
)


def _credited_columns(pf, lo: int, hi: int, config: InferConfig, keys: set, spec) -> list:
    """(name, parquet leaf index) of the columns a task over row groups
    [lo, hi) of ``pf`` decodes only until their state is ``saturated``:
    top-level string or dictionary<string> columns, not a key or order
    column, that ``spec`` checks for ``required`` at most, whose footer
    has a null count in every row group. On the infer side (no ``spec``)
    that is every such string column. Each is folded on its own reader,
    after the main one, so one that never saturates stops none of the
    others. None with examples capture, or when a nested column makes
    leaf and field indexes differ."""
    sch, md = pf.schema_arrow, pf.metadata
    if config.examples or len(set(sch.names)) != len(sch) or md.num_columns != len(sch):
        return []
    out = []
    for k, fld in enumerate(sch):
        typ = fld.type.value_type if pa.types.is_dictionary(fld.type) else fld.type
        if (_is_str(typ) and fld.name not in keys
                and all(e[0] == "required" for e in spec or () if e[1] == fld.name)):
            stats = [md.row_group(r).column(k).statistics for r in range(lo, hi)]
            if all(s is not None and s.has_null_count for s in stats):
                out.append((fld.name, k))
    return out


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
    lineage: dict | None = None,
) -> tuple:
    """One fused task: fold row-groups [lo, hi) of ``f`` through the
    inference observer while teeing (conv, turn) into the integrity
    pre-aggregation; integrity partials land in ``out_dir/part-<i>`` (a
    task retry overwrites the same file — idempotent). Returns
    (state, rows), or (state, rows, violation_counts_vector) when
    ``violation_spec`` is given — the same batch stream then ALSO feeds
    the arrow violation counter (validate.arrow_violation_counter), so a
    contract's constraint spec is validated in this one pass instead of a
    second whole-table scan. ``lineage`` receives ``keyed_rows`` (rows
    with a non-null conv and turn), which the reduce checks the part file
    against. Run by ``infer_and_integrity_parquet`` and, one task at a
    time without Spark, by contractbench's layer replay.

    The main reader folds every column but the ``_credited_columns``.
    Then each credited column is folded on its own reader, closed as soon
    as that column is ``saturated``, so a never-saturating column (a
    low-cardinality ``role``) keeps no other column decoding. The footer
    credits what a reader did not read: rows less nulls as strings, and
    its null total as ``required`` violations. ``lineage`` also receives
    ``decoded``: {credited column: rows read}."""
    integrity_fold = _integrity_fold(conv_col, idx_col)
    pf = pq.ParquetFile(f)
    ns = pf.schema_arrow.names
    counter = None
    vnames: list = []
    if violation_spec is not None:
        vnames, counter = arrow_violation_counter(violation_spec, pf.schema_arrow)
    # zero batches in this task's range count no violations
    vcounts = np.zeros(len(vnames), np.int64)
    rgs = list(range(lo, hi))
    credit = _credited_columns(
        pf, lo, hi, config, {conv_col, idx_col, *(order_cols or ())}, violation_spec
    )
    cnames = [c for c, _ in credit]

    def read(cols):
        return pf.iter_batches(batch_size=10_000, row_groups=rgs, columns=cols)

    kept: list = []
    keyed = 0

    def tee(bs):
        nonlocal vcounts, keyed
        for b in bs:
            cols = []
            for c in (conv_col, idx_col):
                a = b.column(c)
                if pa.types.is_dictionary(a.type):
                    a = a.cast(a.type.value_type)
                cols.append(a)
            keyed += pc.and_(pc.is_valid(cols[0]), pc.is_valid(cols[1])).true_count
            kept.append(pa.RecordBatch.from_arrays(cols, names=[conv_col, idx_col]))
            if counter is not None:
                vcounts += counter(b)
            yield b

    st, rows = fold_batches_columnar(
        tee(read([c for c in ns if c not in cnames] if credit else None)),
        config, order_cols,
    )
    groups = [pf.metadata.row_group(r) for r in rgs]
    decoded = dict.fromkeys(cnames, 0)  # rows each credited reader yielded
    for c, k in credit:
        seen = 0  # nulls among the rows read
        with closing(read([c])) as reader:
            for b in reader:
                a = b.column(0)
                node = st["props"].setdefault(c, S.new_state())
                observe_arrow_column(node, a, config)
                decoded[c] += len(a)
                seen += a.null_count
                if saturated(node):
                    break
        nulls = sum(g.column(k).statistics.null_count for g in groups)
        rest = rows - decoded[c] - (nulls - seen)  # non-null rows not read
        if rest:  # a zero credit would type an all-null column "string"
            credit_strings(st["props"][c], rest)
        if f"required:{c}" in vnames:
            vcounts[vnames.index(f"required:{c}")] += nulls
    # file-schema order, as infer_dataframe lists them: the merged state
    # and the constraint spec keep the first task's property order
    st["props"] = {c: st["props"][c] for c in ns if c in st["props"]}
    # every task writes its part file, an empty one too, so the driver
    # can check the spill holds exactly one file per task
    # (reduce_spilled_partials). Write-then-rename: a part file appears under
    # its final name only when complete; the leading dot keeps a torn tmp
    # (writer killed mid-write) invisible to the part-* glob, pyarrow
    # dataset discovery and Spark, and the pid suffix keeps concurrent
    # attempts from sharing a temp file. Written plain: the driver reads
    # it once, right after the scan
    final = os.path.join(out_dir, f"part-{i:05d}.parquet")
    tmp = os.path.join(out_dir, f".part-{i:05d}.parquet.inprogress-{os.getpid()}")
    pq.write_table(
        pa.Table.from_batches(
            list(integrity_fold(iter(kept))), schema=_partial_schema()
        ),
        tmp,
        compression="none",
        use_dictionary=False,
        write_statistics=False,
    )
    os.replace(tmp, final)
    if lineage is not None:
        lineage.update(keyed_rows=keyed, decoded=decoded)
    # last step: the worker's next task then re-reads no zip directory
    release_zip_finders()
    if violation_spec is None:
        return st, rows
    return st, rows, vcounts


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

    ``InferResult.stage_secs`` (also in the manifest) times ``scan``, the
    task job from launch to its last result, apart from the driver's
    ``integrity_merge`` (`reduce_spilled_partials`); its ``wall_secs``
    spans the whole call, that merge and the manifest write included.
    The manifest's ``integrity_reduce`` says where that merge ran
    (``path``: "driver" or "executors"), over how many ``spill_bytes``
    and ``partials``, in how many ``ranges``.

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
        if tasks:
            # validate support up front (raises UnsupportedArrowSpec on the
            # driver, not inside 200 tasks) and capture the constraint names
            vnames, _ = arrow_violation_counter(
                violation_spec, pq.ParquetFile(tasks[0][0]).schema_arrow
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
        key = {"file": f, "row_groups": [lo, hi], "fingerprint": fingerprints[f],
               "conv_hash": CONV_HASH, "spill_layout": SPILL_LAYOUT}
        extra = {"keyed_rows": None, "decoded": None}
        return run_task(ckpt, i, key, lambda: _fused_task(
            f, lo, hi, config, conv_col, idx_col, out_dir, i, order_cols,
            violation_spec, extra,
        ), extra)

    try:
        mpath = _open_manifest(ckpt, identity)
        rdd = spark.sparkContext.parallelize(
            list(enumerate(tasks)), max(len(tasks), 1)
        ).map(run)
        t1 = time.perf_counter()
        merged, total_rows, vtotals, lineage = reduce_tasks(rdd, len(tasks))
        t2 = time.perf_counter()
        res = _infer_result(merged, total_rows, lineage, config, t0)
        t3 = time.perf_counter()
        reduce_info: dict = {}
        integ = reduce_spilled_partials(
            spark, out_dir, {r["pid"]: r["keyed_rows"] for r in lineage}, reduce_info
        )
        res.stage_secs = {"scan": t2 - t1, "integrity_merge": time.perf_counter() - t3}
        counts = None
        if violation_spec is not None:
            # no tasks leave no violation vector: every count is 0
            counts = dict.fromkeys(vnames, 0)
            if vtotals is not None:
                counts.update(zip(vnames, (int(v) for v in vtotals)))
        write_manifest(mpath, identity, lineage, res, integrity=integ,
                       violations=counts, stage_secs=res.stage_secs,
                       integrity_reduce=reduce_info)
        res.wall_secs = time.time() - t0
        return (res, integ) if counts is None else (res, integ, counts)
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)
