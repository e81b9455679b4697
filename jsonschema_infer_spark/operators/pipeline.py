"""One-pass transcript pipeline: schema inference + integrity partials off
a SINGLE native parquet scan.

The north_rule pipeline is infer -> compile -> validate. Composed from the
standalone operators it scans the table twice before validation: once for
the inference fold (`infer_parquet`) and once for the integrity fold
(`validate.transcript_integrity_summary`). Both folds are per-partition
pre-aggregations over the same rows — the classic multi-aggregate fusion a
100 TB job cannot afford to skip, since the second scan is the same IO all
over again.

Here each (file, row-group-range) task iterates its Arrow batches ONCE:

    pyarrow row-group scan (memory-mapped, no Spark row pipeline)
      -> vectorized inference fold (observe every column)   \\ same batch
      -> per-conversation integrity pre-aggregation          / stream
    inference partial  -> returned, merged via the associative combOp
                          (collect+reduce, or treeReduce for large P)
    integrity partials -> spilled to parquet (a few % of input bytes),
                          one part file per task, reduced by
                          validate.reduce_spilled_partials (driver merge or
                          distributed, picked from the measured spill size)

Results equal `infer_parquet` and `transcript_integrity_summary` on the
same table — the folds are the same code; tests assert equality on clean,
violated and NULL-key tables.

Reference anchor: the sequential equivalent is AddSample folding each
document once (`/root/reference/jsonschema.go:57-92`); validation is the
roadmap feature the reference never built (FEATURES.md:172-174), so its
natural distributed home is the same pass that already reads the rows.
"""

from __future__ import annotations

import math
import time

import pyarrow as pa

from .._worker import release_zip_finders
from ..config import InferConfig, default_config
from ..operators import state as S
from .infer_spark import (
    InferResult,
    _TREE_REDUCE_THRESHOLD,
    _list_rg_tasks,
    fold_batches_columnar,
    list_parquet_files,
    merge_states,
)
from .validate import (
    _integrity_fold,
    _partial_schema,
    reduce_spilled_partials,
)
from ..plans.render import render_schema


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
    predicted constraint spec is validated in this one pass instead of a
    second whole-table scan. Shared by the direct and checkpointed
    pipelines (and driven standalone by bench_scaling's kernel control)."""
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
    # batch_size matches infer_parquet so the inference fold sees the
    # exact same batch boundaries (value-identical partials)
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
    spill_dir: str | None = None,
    violation_spec: list | None = None,
) -> tuple:
    """Fused scan: returns ``(InferResult, integrity_dict)`` where the
    InferResult equals ``infer_parquet(spark, path, config, ...)`` and the
    dict equals ``transcript_integrity_summary`` over the same rows — one
    data pass for both.

    ``violation_spec`` (a validate.constraint_spec plan, typically the
    prewarm's PREDICTION from row-group 0) adds row-violation counting to
    the same pass: the return grows a third element, a dict
    {constraint_name: violation_count} bit-equal to what
    validation_scan + violation_counts would produce for that spec —
    three whole-table reads collapsed into one. The counts are only
    MEANINGFUL if the spec matches the schema actually inferred; callers
    must compare the predicted spec against the real one
    (``constraint_spec(res.schema, state=res.state, ...)``) and fall back
    to the classic violations pass on a mismatch (see bench/pipeline_job
    for the canonical hit/miss flow).

    ``spill_dir`` must be empty or hold only this run's part files: the
    integrity reduce refuses a spill whose part files are not exactly one
    per task (see _check_spill_parts).

    ``max_samples`` is not supported here (a row budget caps inference but
    integrity must still see every row — the two folds would need
    different scans, defeating the fusion); use infer_parquet and
    transcript_integrity_summary for that configuration."""
    config = config or default_config()
    if config.max_samples > 0:
        raise ValueError(
            "max_samples caps the inference scan but integrity must see "
            "every row; run infer_parquet + transcript_integrity_summary "
            "separately for capped inference"
        )
    if config.examples and not order_cols:
        raise NotImplementedError(
            "examples capture needs a total order in distributed mode: pass "
            "order_cols=[...] (e.g. ['conv_id', 'turn_idx'])"
        )
    import os
    import shutil
    import tempfile

    t0 = time.time()
    tasks = _list_rg_tasks(list_parquet_files(path), rg_per_task)
    out_dir = spill_dir or tempfile.mkdtemp(prefix="jis_pipeline_")
    os.makedirs(out_dir, exist_ok=True)

    if violation_spec is not None:
        # validate support up front (raises UnsupportedArrowSpec on the
        # driver, not inside 200 tasks) and capture the constraint names
        import pyarrow.parquet as _pq

        from .validate import arrow_violation_counter

        vnames, _ = arrow_violation_counter(
            violation_spec, _pq.ParquetFile(tasks[0][0]).schema_arrow
        )

    def run(item):
        # the task's result and its lineage entry (task, rows, seconds)
        i, (f, lo, hi) = item
        t = time.perf_counter()
        out = _fused_task(
            f, lo, hi, config, conv_col, idx_col, out_dir, i, order_cols,
            violation_spec,
        )
        return out, (i, out[1], time.perf_counter() - t)

    try:
        rdd = spark.sparkContext.parallelize(
            list(enumerate(tasks)), max(len(tasks), 1)
        ).map(run)
        vtotals = None
        partitions: list = []
        if len(tasks) > _TREE_REDUCE_THRESHOLD:
            # treeReduce yields only the merged value: no per-task
            # lineage here, as in infer_dataframe
            rdd = rdd.map(lambda r: r[0])
            depth = max(2, int(math.ceil(math.log(max(len(tasks), 2), 64))))
            if violation_spec is not None:
                merged, total_rows, vtotals = rdd.treeReduce(
                    lambda a, b: (
                        S.merge(a[0], b[0]), a[1] + b[1], a[2] + b[2]
                    ),
                    depth=depth,
                )
            else:
                merged, total_rows = rdd.treeReduce(
                    lambda a, b: (S.merge(a[0], b[0]), a[1] + b[1]),
                    depth=depth,
                )
        else:
            got = rdd.collect()
            pairs = [out for out, _ in got]
            partitions = [lineage for _, lineage in got]
            merged = merge_states([p[0] for p in pairs])
            total_rows = sum(p[1] for p in pairs)
            if violation_spec is not None:
                vtotals = sum(p[2] for p in pairs)

        schema = S.finalize(merged, config)
        res = InferResult(
            state=merged,
            config=config,
            schema=schema,
            schema_json=render_schema(schema, config.indent),
            total_rows=total_rows,
            partitions=partitions,
            wall_secs=time.time() - t0,
        )
        _check_spill_parts(out_dir, range(len(tasks)))
        integ = reduce_spilled_partials(spark, out_dir)
        if violation_spec is not None:
            return res, integ, dict(zip(vnames, (int(v) for v in vtotals)))
        return res, integ
    finally:
        if spill_dir is None:
            shutil.rmtree(out_dir, ignore_errors=True)


def predict_constraint_spec(
    path: str, config: InferConfig | None = None, enum_max: int = 16
) -> list:
    """Predict the constraint spec from row-group 0 of the first file —
    the SYNCHRONOUS half of the prewarm (pure pyarrow + Python, no Spark,
    ~0.3 s on a 128k-row group). The fused single-pass flow needs the
    prediction BEFORE launching the scan so the scan itself can count
    violations against it (infer_and_integrity_parquet's
    ``violation_spec``); pass the result to ValidationPrewarm(spec=...)
    so the background codegen warm doesn't refold the sample."""
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    from . import validate as V

    config = config or default_config()
    f = list_parquet_files(path)[0]
    pf = pq.ParquetFile(f)
    batches = pf.iter_batches(batch_size=10_000, row_groups=[0])
    st, _ = fold_batches_columnar(batches, config, None)
    schema = S.finalize(st, config)
    # mirror validate.temporal_columns exactly: Spark maps only
    # timestamp/date arrow types to Timestamp/Date columns. pt.is_temporal
    # also matches time32/time64/duration, which Spark reads as other
    # types — including them would make the predicted spec structurally
    # unequal on such tables and the prediction could never hit.
    temporal = {
        fld.name
        for fld in pf.schema_arrow
        if pt.is_timestamp(fld.type) or pt.is_date(fld.type)
    }
    return V.constraint_spec(
        schema, state=st, temporal_cols=temporal, enum_max=enum_max
    )


class ValidationPrewarm:
    """Move the violations pass's fixed driver costs OFF the critical path.

    The pipeline's validation stage pays two serial costs that do not
    shrink with cores: building the constraint Columns (~0.5 s of py4j
    round trips) and the first-execution whole-stage-codegen compile of
    the violation_counts plan (janino, ~0.5-1 s). Both depend only on the
    constraint SPEC — which a one-row-group sample predicts almost surely
    (enum value sets, required columns and formats stabilize within 128k
    rows) — so this helper, started JUST BEFORE the fused scan, runs on a
    driver thread while executors scan:

      1. fold row-group 0 through the same inference fold (pyarrow, C);
      2. predict the spec (`validate.constraint_spec`, pure Python);
      3. build the Column predicates (py4j, off-path);
      4. execute violation_counts against a ONE-ROW parquet twin of the
         table — same scan schema, same plan shape, so Spark's codegen
         cache is hot for the real run (generated source is identical:
         string literals land in the references array, not the source).

    After inference, ``constraints_for(schema, state, df)`` compares the
    REAL spec with the prediction: on a hit it returns the pre-built
    constraints (zero py4j, warm codegen); on a miss it builds fresh —
    correctness never depends on the prediction.

    On a real cluster this is free driver hardware; on the one-bus bench
    VM its footprint is ~0.3 s of driver CPU against a multi-second scan.
    """

    def __init__(self, spark, path: str, config: InferConfig | None = None,
                 enum_max: int = 16, spec: list | None = None):
        import threading

        self._spark = spark
        self._path = path
        self._config = config or default_config()
        self._enum_max = enum_max
        self.spec = spec  # precomputed prediction (predict_constraint_spec)
        self.constraints = None
        self.error = None
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        import os
        import shutil
        import tempfile

        import pyarrow.parquet as pq

        from . import validate as V

        tmp = tempfile.mkdtemp(prefix="jis_prewarm_")
        try:
            if self.spec is None:
                self.spec = predict_constraint_spec(
                    self._path, self._config, self._enum_max
                )
            f = list_parquet_files(self._path)[0]
            pf = pq.ParquetFile(f)
            cons = V.build_constraints(self.spec)
            # one-row twin: same arrow schema -> same Spark scan schema ->
            # identical generated source for the agg plan
            one = pf.read_row_group(0).slice(0, 1)
            twin = os.path.join(tmp, "twin.parquet")
            pq.write_table(one, twin)
            with V.validation_scan(self._spark, twin) as vdf:
                V.violation_counts(vdf, cons).collect()
            self.constraints = cons
        except Exception as e:  # pragma: no cover - diagnostics only
            self.error = e
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def constraints_for(self, schema: dict, state: dict, df) -> list:
        """Join the prewarm thread and return constraints for the REAL
        inference result: the pre-built list when the predicted spec
        matches, a fresh build otherwise."""
        from . import validate as V

        self._thread.join()
        if self.error is not None:
            # a persistently broken prewarm (bad path, pyarrow change)
            # would otherwise silently cost the full compile+codegen on
            # every run while looking like a working optimization
            import warnings

            warnings.warn(
                f"ValidationPrewarm failed ({self.error!r}); "
                "falling back to cold constraint build",
                RuntimeWarning,
                stacklevel=2,
            )
        real = V.constraint_spec(
            schema, state=state,
            temporal_cols=V.temporal_columns(df),
            enum_max=self._enum_max,
        )
        # order-insensitive: the distributed merge and the serial sample
        # fold iterate properties in different dict orders, but the same
        # SET of constraint entries is the same validation work (entries
        # are unique per (kind, column), so set equality is exact). The
        # prewarmed list keeps ITS order — that is the plan whose codegen
        # is already compiled.
        self.hit = (
            self.constraints is not None
            and self.error is None
            and frozenset(real) == frozenset(self.spec)
        )
        if self.hit:
            return self.constraints
        return V.build_constraints(real)
