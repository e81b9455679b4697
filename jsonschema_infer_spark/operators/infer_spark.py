"""Distributed schema inference — the Spark-native replacement for the
reference's sequential AddSample loop (`/root/reference/jsonschema.go:57-92`).

Physical plan (SURVEY.md §4.3):

    scan (parquet/iceberg, columnar Arrow batches)
      -> mapInArrow partial fold: one SchemaState per partition
         (vectorized per-column observation — the seqOp)
      -> merge of the tiny per-partition states (the combOp, SURVEY.md
         §2.4) through checkpoint.reduce_tasks: one treeAggregate, a
         collect plus driver fold for small P and a real tree for large
         P, with the per-task lineage checked either way
      -> driver finalize: predefined overrides + Go-byte-compatible render

Two fold modes:
- ``columnar`` (the 10^12-row scale path): each DataFrame row is one sample
  document {col: value, ...}; per-column observation is fully vectorized
  with pyarrow.compute / numpy — no per-row Python. Timestamp columns are
  semantically strings rendered as RFC 3339 (the reference has no native
  timestamp type — strings + format "date-time", node.go:317-327).
- ``json``: a string column holds arbitrary nested JSON documents (e.g.
  events.props); parsed per row inside the Arrow batch (batch-amortized,
  the only non-vectorized fold) and folded with the exact recursive
  ObserveValue semantics.

Both produce identical SchemaState values, so merge/finalize/render are
shared with the local oracle (tests assert byte-identical output).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .._worker import release_zip_finders
from ..checkpoint import (
    _open_manifest, config_fingerprint, reduce_tasks, run_task, write_manifest,
)
from ..config import InferConfig, default_config
from ..operators import state as S
from ..plans.render import render_schema

STATE_SCHEMA = "state string, lineage string"


@dataclass
class InferResult:
    state: dict
    config: InferConfig
    schema: dict
    schema_json: str
    total_rows: int
    partitions: list = field(default_factory=list)  # (pid, rows, secs)
    wall_secs: float = 0.0
    stage_secs: dict = field(default_factory=dict)  # the fused scan's driver stages

    def render(self) -> str:
        return self.schema_json


def _render_ts_us(us: int) -> str:
    """RFC 3339 rendering of epoch-microseconds, fractional part trimmed —
    matches Go time.Time's JSON marshaling (RFC3339Nano, zeros dropped)."""
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(us // 1_000_000, tz=timezone.utc)
    out = dt.strftime("%Y-%m-%dT%H:%M:%S")
    frac = us % 1_000_000
    if frac:
        out += ("." + f"{frac:06d}").rstrip("0")
    return out + "Z"


def _latch_const(st: dict, tag: str, value) -> None:
    if st["const_differ"]:
        return
    cv = (tag, value)
    if not st["const_set"]:
        st["const"], st["const_set"] = cv, True
    elif not (st["const"][0] == tag and st["const"][1] == value):
        _const_differs(st)


def _const_differs(st: dict) -> None:
    # canonical differed latch (state.merge's too): const_set is False, so
    # the state does not depend on where the batches ended
    st["const_differ"], st["const"], st["const_set"] = True, None, False


def _add_distinct(st: dict, tag: str, values) -> None:
    if st["distinct"] is None:
        return
    seen = {(t, v) for t, v in st["distinct"]}
    for v in values:
        k = (tag, v)
        if k not in seen:
            if len(seen) >= S.DISTINCT_LIMIT:
                st["distinct"] = None
                return
            seen.add(k)
            st["distinct"].append(k)


def _track_range(st: dict, lo, hi) -> None:
    if lo is None:
        return
    if st["num_min"] is None or lo < st["num_min"]:
        st["num_min"] = float(lo)
    if st["num_max"] is None or hi > st["num_max"]:
        st["num_max"] = float(hi)


def _is_str(typ) -> bool:
    return pa.types.is_string(typ) or pa.types.is_large_string(typ)


def saturated(st: dict) -> bool:
    """A string node's values can teach it nothing more (for good: all
    three are monotone): const has differed, distinct is gone, no format
    is left. Only its counts still grow (``credit_strings``)."""
    return st["const_differ"] and st["distinct"] is None and st["fmts"] == []


def credit_strings(st: dict, n: int) -> None:
    """Count ``n`` non-null string values into a node."""
    st["n"] += n
    st["types"]["string"] = st["types"].get("string", 0) + n
    st["str_n"] += n


def _bounded_unique(arr: pa.Array):
    """Unique values if they fit the distinct budget, else None."""
    try:
        u = pc.unique(arr)
    except pa.ArrowNotImplementedError:
        return None
    if len(u) > S.DISTINCT_LIMIT + 1:
        return None
    return u


# --- examples capture (distributed "first value", reference options.go:86-90) -
#
# The reference's example is the FIRST value each node observes — an order-
# dependent fact. The distributed fold makes it order-DEFINED: the caller
# names order_cols, every row gets a lexicographic key over those columns,
# and each node latches the (key, value) with the minimal key among its
# observed values; merge() keeps the min (state.py). Array items extend the
# key with the element index ((row_key, i)), exactly like the local fold's
# recursive child_key, so distributed output is byte-equal to a sequential
# fold over order-sorted rows under ANY partitioning.


class _OrderKeys:
    """Per-row order keys for one batch: ``arrs`` are numpy arrays compared
    lexicographically (significance order), ``pyget(i)`` builds the python
    tuple stored in state['first']. Order columns must be non-null."""

    __slots__ = ("arrs", "pyget")

    def __init__(self, arrs, pyget):
        self.arrs = arrs
        self.pyget = pyget


def _lex_argmin(arrs, idx):
    """Index (from ``idx``) of the lexicographically smallest key."""
    if len(idx) == 1:
        return int(idx[0])
    if len(arrs) == 1:
        return int(idx[np.argmin(arrs[0][idx])])
    # np.lexsort's LAST key is primary
    sub = tuple(arrs[k][idx] for k in range(len(arrs) - 1, -1, -1))
    return int(idx[np.lexsort(sub)[0]])


def _batch_order_keys(batch, order_cols: list) -> _OrderKeys:
    arrs = []
    for c in order_cols:
        col = batch.column(batch.schema.get_field_index(c))
        if pa.types.is_dictionary(col.type):
            col = col.cast(col.type.value_type)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_date(col.type):
            col = col.cast(pa.date32()).cast(pa.int32())
        arrs.append(col.to_numpy(zero_copy_only=False))

    def pyget(i, _arrs=tuple(arrs)):
        out = []
        for a in _arrs:
            v = a[i]
            out.append(v.item() if hasattr(v, "item") else v)
        return tuple(out)

    return _OrderKeys(arrs, pyget)


def _pyify_example(v):
    """Arrow scalar .as_py() output -> the value the LOCAL fold would have
    seen for the same row (temporals rendered RFC 3339, bytes decoded)."""
    import datetime as _dt
    from decimal import Decimal as _Dec

    if isinstance(v, _dt.datetime):
        # tz-aware values convert to the UTC instant (replace() would
        # reinterpret the wall clock); round() because timestamp()*1e6
        # can land 1 ulp below the integral microsecond count
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc)
        else:
            v = v.replace(tzinfo=_dt.timezone.utc)
        us = round(v.timestamp() * 1_000_000)
        return _render_ts_us(us)
    if isinstance(v, _dt.date):
        return str(v)
    if isinstance(v, dict):
        return {k: _pyify_example(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_pyify_example(x) for x in v]
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, _Dec):
        return float(v)
    return v


def _example_value(arr: pa.Array, i: int):
    typ = arr.type
    if pa.types.is_dictionary(typ):
        return _example_value(arr.cast(typ.value_type), i)
    if pa.types.is_timestamp(typ):
        us = arr.cast(pa.timestamp("us")).cast(pa.int64())[i].as_py()
        return None if us is None else _render_ts_us(us)
    return _pyify_example(arr[i].as_py())


def _capture_first(st: dict, arr: pa.Array, ok, count_nulls: bool) -> None:
    """Latch the min-order observed value of this node from one batch.
    Observed = non-null slots (object-property semantics) or every slot
    (array-item semantics: nulls ARE observed, value None — render drops
    None examples, matching Go's omitempty on a nil first value)."""
    if ok is None or len(arr) == 0:
        return
    if count_nulls or arr.null_count == 0:
        idx = np.arange(len(arr))
    else:
        idx = np.nonzero(np.asarray(pc.is_valid(arr)))[0]
        if len(idx) == 0:
            return
    i = _lex_argmin(ok.arrs, idx)
    key = ok.pyget(i)
    if st["first"] is None or key < st["first"][0]:
        st["first"] = (key, _example_value(arr, i))


def _list_child_keys(arr: pa.Array, ok) -> "_OrderKeys | None":
    """Order keys for the flattened elements of a list column: parent row
    key extended with the element index — (row_key, i), the local fold's
    child_key (state.observe_value array branch)."""
    if ok is None:
        return None
    nonnull = (
        np.nonzero(np.asarray(pc.is_valid(arr)))[0]
        if arr.null_count
        else np.arange(len(arr))
    )
    flat = arr.drop_null()
    lens = np.asarray(pc.list_value_length(flat)).astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return None  # no elements -> nothing to capture downstream
    parent = np.repeat(nonnull, lens)
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    item_idx = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    child_arrs = [a[parent] for a in ok.arrs] + [item_idx]

    def pyget(j, _pg=ok.pyget, _parent=parent, _idx=item_idx):
        return (_pg(int(_parent[j])), int(_idx[j]))

    return _OrderKeys(child_arrs, pyget)


_FMT_PREFIX = 256


def _eliminate_formats(st: dict, values: pa.Array, config: InferConfig) -> None:
    """Candidate elimination on a batch of non-null strings (node.go:94-121),
    vectorized: candidate survives iff it matches EVERY string in the batch.

    Short-circuits: the scalar detectors on the first value, then the
    vectorized ones on a small prefix — on real data most candidates die
    within a few values (a column with no format, on the first), and only
    survivors pay for the pandas copy of the rest of the batch.
    Elimination is an intersection over all values and the scalar detector
    is the reference semantics, so probe-then-prefix-then-remainder yields
    exactly the same survivor set."""
    if st["fmts"] is None:
        st["fmts"] = list(config.format_names())
    if not st["fmts"] or len(values) == 0:
        return
    dm = config.detector_map()
    first = values[0].as_py()
    st["fmts"] = [
        f for f in st["fmts"]
        if f in st["locked_fmts"] or (f in dm and dm[f].detector(first))
    ]
    if not st["fmts"]:
        return
    if len(values) > _FMT_PREFIX:
        _eliminate_formats(st, values.slice(0, _FMT_PREFIX), config)
        if not st["fmts"]:
            return
        values = values.slice(_FMT_PREFIX)
    pds = None
    survivors = []
    for name in st["fmts"]:
        if name in st["locked_fmts"]:
            survivors.append(name)
            continue
        f = dm.get(name)
        if f is None:
            continue
        if pds is None:
            pds = values.to_pandas().astype(object)
        vec = f.vectorized
        ok = vec(pds) if vec is not None else pds.map(f.detector)
        if bool(np.asarray(ok, dtype=bool).all()):
            survivors.append(name)
    st["fmts"] = survivors


def observe_arrow_column(
    st: dict,
    arr: pa.Array,
    config: InferConfig,
    count_nulls: bool = False,
    ok: "_OrderKeys | None" = None,
) -> None:
    """Vectorized equivalent of calling ObserveValue once per element of
    ``arr`` (node.go:65-151). ``count_nulls`` distinguishes array-item
    semantics (nulls observed, node.go:124-134) from object-property
    semantics (nulls skipped, node.go:136-149). ``ok`` carries per-row
    order keys when examples capture is on (see the _OrderKeys block)."""
    typ = arr.type
    if pa.types.is_dictionary(typ):
        # direct parquet reads restore dictionary encoding from the
        # embedded arrow schema; observation semantics are value-level
        observe_arrow_column(st, arr.cast(typ.value_type), config, count_nulls, ok)
        return
    if ok is not None:
        _capture_first(st, arr, ok, count_nulls)
    n_total = len(arr)
    n_null = arr.null_count
    n = n_total - n_null

    if count_nulls and n_null:
        st["n"] += n_null
        st["types"]["null"] = st["types"].get("null", 0) + n_null

    if n == 0:
        return

    if pa.types.is_boolean(typ):
        st["n"] += n
        st["types"]["boolean"] = st["types"].get("boolean", 0) + n
        vals = arr.drop_null()
        mn_mx = pc.min_max(vals)
        mn, mx = mn_mx["min"].as_py(), mn_mx["max"].as_py()
        if mn == mx:
            _latch_const(st, "boolean", mn)
        else:
            _const_differs(st)
        if st["distinct"] is not None:
            u = _bounded_unique(vals)
            if u is None:
                st["distinct"] = None
            else:
                _add_distinct(st, "boolean", u.to_pylist())

    elif pa.types.is_integer(typ):
        st["n"] += n
        st["types"]["integer"] = st["types"].get("integer", 0) + n
        vals = arr.drop_null()
        mn_mx = pc.min_max(vals)
        mn, mx = mn_mx["min"].as_py(), mn_mx["max"].as_py()
        _track_range(st, mn, mx)
        if mn == mx:
            _latch_const(st, "integer", mn)
        else:
            _const_differs(st)
        if st["distinct"] is not None:
            u = _bounded_unique(vals)
            if u is None:
                st["distinct"] = None
            else:
                _add_distinct(st, "integer", u.to_pylist())

    elif pa.types.is_floating(typ):
        st["n"] += n
        v = arr.drop_null().to_numpy(zero_copy_only=False).astype(np.float64)
        finite = np.isfinite(v)
        # Go demotion = exact int64 round-trip (node.go:296-301): integral
        # AND inside [-2^63, 2^63) — 1e19 stays "number"
        integral = np.zeros(len(v), dtype=bool)
        integral[finite] = (
            (np.floor(v[finite]) == v[finite])
            & (v[finite] >= S.INT64_MIN_F)
            & (v[finite] < S.INT64_MAX_EXCL_F)
        )
        n_int = int(integral.sum())
        if n_int:
            st["types"]["integer"] = st["types"].get("integer", 0) + n_int
        if n - n_int:
            st["types"]["number"] = st["types"].get("number", 0) + (n - n_int)
        nn = v[~np.isnan(v)]
        if len(nn):
            _track_range(st, float(nn.min()), float(nn.max()))
        # const latch: Go float64 equality; any NaN pair differs (NaN != NaN)
        if np.isnan(v).any():
            if n > 1:
                _const_differs(st)
            else:
                _latch_const(st, "number", float(v[0]))
        else:
            mn, mx = float(v.min()), float(v.max())
            if mn == mx:
                val = mn
                tag = "integer" if S.is_go_integral(val) else "number"
                _latch_const(st, tag, int(val) if tag == "integer" else val)
            else:
                _const_differs(st)
        if st["distinct"] is not None:
            u = np.unique(nn)
            if len(u) > S.DISTINCT_LIMIT + 1 or len(nn) != len(v):
                st["distinct"] = None
            else:
                for val in u.tolist():
                    # is_go_integral guards int(inf) overflow AND the
                    # |v| >= 2^63 clamp (get_primitive_type semantics)
                    tag = "integer" if S.is_go_integral(val) else "number"
                    _add_distinct(st, tag, [int(val) if tag == "integer" else val])

    elif _is_str(typ):
        credit_strings(st, n)
        if saturated(st):
            return  # nothing left to learn from the values: skip the copy
        vals = arr.drop_null()
        if not st["const_differ"]:
            # string min_max only feeds the const latch; once it has
            # permanently differed the whole-batch byte compare is wasted
            mn_mx = pc.min_max(vals)
            mn, mx = mn_mx["min"].as_py(), mn_mx["max"].as_py()
            if mn == mx:
                _latch_const(st, "string", mn)
            else:
                _const_differs(st)
        if st["distinct"] is not None:
            u = _bounded_unique(vals)
            if u is None:
                st["distinct"] = None
            else:
                _add_distinct(st, "string", u.to_pylist())
        if st["fmts"] is None or st["fmts"]:
            _eliminate_formats(st, vals, config)

    elif pa.types.is_timestamp(typ):
        # semantically a string column rendered as RFC 3339 (see module doc)
        credit_strings(st, n)
        us = arr.cast(pa.timestamp("us")).cast(pa.int64()).drop_null()
        v = us.to_numpy(zero_copy_only=False)
        mn, mx = int(v.min()), int(v.max())
        if mn == mx:
            _latch_const(st, "string", _render_ts_us(mn))
        else:
            _const_differs(st)
        if st["distinct"] is not None:
            u = np.unique(v)
            if len(u) > S.DISTINCT_LIMIT + 1:
                st["distinct"] = None
            else:
                _add_distinct(st, "string", [_render_ts_us(x) for x in u.tolist()])
        # format candidates: RFC 3339 renderings match only date-time among
        # the built-ins; with custom formats configured we must run the
        # detectors for real (slow path) to stay exact
        builtin = {"date-time", "email", "uuid", "ipv6", "ipv4", "uri"}
        names = config.format_names()
        if st["fmts"] is None:
            st["fmts"] = list(names)
        if st["fmts"]:
            if all(f in builtin for f in st["fmts"]):
                st["fmts"] = [
                    f for f in st["fmts"] if f == "date-time" or f in st["locked_fmts"]
                ]
            else:
                rendered = pa.array([_render_ts_us(x) for x in v.tolist()])
                _eliminate_formats(st, rendered, config)

    elif pa.types.is_date(typ):
        # dates render as "YYYY-MM-DD" strings (too short for RFC 3339)
        credit_strings(st, n)
        days = arr.cast(pa.date32()).cast(pa.int32()).drop_null().to_numpy(
            zero_copy_only=False
        )
        mn, mx = int(days.min()), int(days.max())

        def _d(x):
            return str(np.datetime64(int(x), "D"))

        if mn == mx:
            _latch_const(st, "string", _d(mn))
        else:
            _const_differs(st)
        if st["distinct"] is not None:
            u = np.unique(days)
            if len(u) > S.DISTINCT_LIMIT + 1:
                st["distinct"] = None
            else:
                _add_distinct(st, "string", [_d(x) for x in u.tolist()])
        if st["fmts"] is None:
            st["fmts"] = list(config.format_names())
        if st["fmts"]:
            rendered = pa.array(["%s" % _d(mn)])  # all same shape; one probe
            _eliminate_formats(st, rendered, config)

    elif (
        pa.types.is_list(typ)
        or pa.types.is_large_list(typ)
        or pa.types.is_fixed_size_list(typ)
    ):
        st["n"] += n
        st["types"]["array"] = st["types"].get("array", 0) + n
        # arrays never touch the const latch (node.go:79: primitives only)
        if st["items"] is None:
            st["items"] = S.new_state()
        # flatten drops null lists' slots; null ELEMENTS inside lists remain
        flat = arr.drop_null()
        values = (
            flat.flatten() if not pa.types.is_fixed_size_list(typ) else flat.values
        )
        child_ok = _list_child_keys(arr, ok)
        observe_arrow_column(st["items"], values, config, count_nulls=True, ok=child_ok)

    elif pa.types.is_struct(typ):
        st["n"] += n
        st["types"]["object"] = st["types"].get("object", 0) + n
        for i, f in enumerate(typ):
            child = st["props"].setdefault(f.name, S.new_state())
            # field array carries parent nulls -> skipped, same as the
            # null-property rule (node.go:140-147); order keys align with
            # the parent rows (local fold passes order_key through)
            field_arr = pc.struct_field(arr, i)
            observe_arrow_column(child, field_arr, config, count_nulls=False, ok=ok)

    elif pa.types.is_null(typ):
        pass  # object property never observed -> stays optional, empty type

    elif pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
        # opaque binary (multimodal payloads): no JSON equivalent; treated
        # as string type for schema purposes, content not inspected
        st["n"] += n
        st["types"]["string"] = st["types"].get("string", 0) + n
        _const_differs(st)
        st["distinct"] = None
    elif pa.types.is_decimal(typ):
        # ok omitted: the top-of-function capture already latched this
        # node's example from the decimal array itself
        observe_arrow_column(st, arr.cast(pa.float64()), config, count_nulls)
        return
    else:
        raise TypeError(f"unsupported arrow type in columnar inference: {typ}")


def fold_batches_columnar(
    batches, config: InferConfig, order_cols: list | None = None
) -> tuple:
    """Partial fold: iterate Arrow batches, observe each column vectorized.
    Returns (root_state, rows). ``order_cols`` (required when
    config.examples) names the total-order columns for example capture;
    the root's example is the full row dict at the minimal key, exactly
    what a sequential fold over order-sorted row-documents records."""
    root = S.new_state()
    rows = 0
    capture = bool(config.examples and order_cols)
    for batch in batches:
        nb = batch.num_rows
        rows += nb
        root["n"] += nb
        root["types"]["object"] = root["types"].get("object", 0) + nb
        ok = _batch_order_keys(batch, order_cols) if capture and nb else None
        if ok is not None:
            i = _lex_argmin(ok.arrs, np.arange(nb))
            key = ok.pyget(i)
            if root["first"] is None or key < root["first"][0]:
                root["first"] = (
                    key,
                    {
                        f.name: _example_value(batch.column(j), i)
                        for j, f in enumerate(batch.schema)
                    },
                )
        for i, f in enumerate(batch.schema):
            child = root["props"].setdefault(f.name, S.new_state())
            observe_arrow_column(
                child, batch.column(i), config, count_nulls=False, ok=ok
            )
    return root, rows


def fold_batches_json(
    batches, config: InferConfig, column: str, order_cols: list | None = None
) -> tuple:
    """Partial fold for a nested-JSON payload column: parse + recursive
    observe per row (batch-amortized; the one place Python touches rows,
    unavoidable for arbitrary nesting — SURVEY.md §2.1 #3). With examples
    on, each row's order key is the tuple of its order_cols values, passed
    straight into the recursive ObserveValue fold."""
    st = S.new_state()
    rows = 0
    capture = bool(config.examples and order_cols)
    for batch in batches:
        col = batch.column(batch.schema.get_field_index(column))
        keys = None
        if capture:
            kcols = [
                batch.column(batch.schema.get_field_index(c)).to_pylist()
                for c in order_cols
            ]
            keys = list(zip(*kcols)) if kcols else None
        for r, s in enumerate(col.to_pylist()):
            if s is None:
                continue
            S.observe_value(
                st, json.loads(s), config,
                order_key=keys[r] if keys is not None else None,
            )
            rows += 1
    return st, rows


def _make_fold(config: InferConfig, mode: str, json_column, order_cols, ckpt):
    """The DataFrame partition fold under the task protocol: a partition
    committed in ``ckpt`` yields its recorded state without reading a batch."""

    def fn(batches):
        from pyspark import TaskContext

        try:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            st, _, _, lineage = run_task(ckpt, pid, {}, lambda: (
                fold_batches_json(batches, config, json_column, order_cols)
                if mode == "json"
                else fold_batches_columnar(batches, config, order_cols)
            ))
            yield pa.RecordBatch.from_pydict(
                {
                    "state": [json.dumps(S.state_to_jsonable(st))],
                    "lineage": [json.dumps(lineage[0])],
                }
            )
        finally:
            release_zip_finders()

    return fn


def list_parquet_files(path: str) -> list:
    """Data files under a parquet path (skips _SUCCESS/_metadata/dotfiles),
    sorted for deterministic task numbering."""
    import glob as _glob
    import os

    if os.path.isdir(path):
        return sorted(
            p
            for p in _glob.glob(os.path.join(path, "**", "*"), recursive=True)
            if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))
        )
    return [path]


def _list_rg_tasks(paths: list, rg_per_task: int) -> list:
    """(file, row_group_lo, row_group_hi) work units — the same split
    granularity a native parquet reader schedules."""
    import pyarrow.parquet as pq

    tasks = []
    for f in paths:
        n = pq.ParquetFile(f).metadata.num_row_groups
        for i in range(0, max(n, 1), rg_per_task):
            tasks.append((f, i, min(i + rg_per_task, n)))
    return tasks


def _infer_result(
    merged: dict, total_rows: int, lineage: list, config: InferConfig, t0: float
) -> InferResult:
    """The driver tail every inference entry point shares: finalize the
    merged state, render it, and wrap both with the run's (task, rows,
    secs) lineage and the wall seconds since ``t0``."""
    schema = S.finalize(merged, config)
    return InferResult(
        state=merged,
        config=config,
        schema=schema,
        schema_json=render_schema(schema, config.indent),
        total_rows=total_rows,
        partitions=[(r["pid"], r["rows"], r["secs"]) for r in lineage],
        wall_secs=time.time() - t0,
    )


def merge_states(states: list) -> dict:
    merged = None
    for st in states:
        merged = S.merge(merged, st)
    return merged if merged is not None else S.new_state()


def infer_dataframe(
    df,
    config: InferConfig | None = None,
    mode: str = "columnar",
    json_column: str | None = None,
    num_partitions: int | None = None,
    order_cols: list | None = None,
    checkpoint_dir: str | None = None,
) -> InferResult:
    """Run distributed inference over ``df`` and finalize on the driver.

    ``config.max_samples`` maps to a deterministic ``limit`` pushed into the
    scan (SURVEY.md §2.4: the reference's order-dependent cap becomes
    order-defined). Examples capture (reference options.go:86-90, default
    off jsonschema.go:33) likewise becomes order-DEFINED: pass
    ``order_cols`` naming a non-null total order (e.g. ['conv_id',
    'turn_idx']) and every node's example is the value at the minimal key
    — byte-equal to a sequential fold over order-sorted rows under any
    partitioning (tests assert; merge keeps the min key, state.py).

    ``checkpoint_dir`` makes the run resumable per scan partition (layout
    in checkpoint.py; the manifest's lineage marks recorded partitions
    ``resumed``). Not with ``num_partitions``: a resumed partition behind
    a repartition would still pay the whole shuffle.
    """
    config = config or default_config()
    if config.examples and not order_cols:
        raise NotImplementedError(
            "examples capture needs a total order in distributed mode: pass "
            "order_cols=[...] (e.g. ['conv_id', 'turn_idx']), or use the "
            "local SchemaInferrer (SURVEY.md §2.4)"
        )
    if mode == "json" and not json_column:
        raise ValueError("json mode requires json_column")
    if checkpoint_dir and num_partitions:
        raise ValueError("checkpoint_dir resumes scan partitions: drop num_partitions")

    t0 = time.time()
    if config.max_samples > 0:
        df = df.limit(config.max_samples)
    if num_partitions:
        df = df.repartition(num_partitions)
    states = df.mapInArrow(
        _make_fold(config, mode, json_column, order_cols, checkpoint_dir),
        STATE_SCHEMA,
    ).rdd.map(_fold_element)
    n_parts = states.getNumPartitions()
    if checkpoint_dir:
        identity = {
            "config_fingerprint": config_fingerprint(
                config, mode, json_column, order_cols
            ),
            "input_files": sorted(df.inputFiles()),
            "num_partitions": n_parts,
        }
        mpath = _open_manifest(checkpoint_dir, identity)
    merged, total_rows, _, lineage = reduce_tasks(states, n_parts)
    res = _infer_result(merged, total_rows, lineage, config, t0)
    if checkpoint_dir:
        write_manifest(mpath, identity, lineage, res)
    return res


def _fold_element(row) -> tuple:
    """A ``_make_fold`` output row as a ``reduce_tasks`` element."""
    lineage = json.loads(row.lineage)
    state = S.state_from_jsonable(json.loads(row.state))
    return state, lineage["rows"], None, [lineage]
