"""Constraint compilation + vectorized validation.

The reference plans but never implements validation
(`/root/reference/FEATURES.md:172-174`); the north_rule mandates it. The
inferred schema (plus the SchemaState's constraint-mining extensions) is
compiled into built-in Spark Column predicates — NO per-row Python anywhere
(input_hint mandate): every check is a Catalyst expression eligible for
whole-stage codegen, predicate pushdown and column pruning.

Check taxonomy (SURVEY.md §2.5):
- row checks: required non-null, format regex, const equality, enum
  membership, numeric range — compiled per column;
- key checks: uniqueness on (conv_id, turn_idx) — groupBy partial-agg
  (map-side combine; skew-tolerant) + semi-join for violating rows;
- ordering checks: dense turn_idx 0..n-1 per conv via pure aggregation
  (min/max/count/count_distinct — no window, no skew problem), plus ts
  monotonicity via a per-conv window (bounded group: a conversation's
  length is bounded, so the window never sees a pathological partition);
- integrity counts (uniqueness + dense order as two totals): one merge,
  `_merge_partials_local`, over the same per-conv partials
  (`_integrity_fold`: turn sets in [0, 64) as 64-bit masks) — parquet
  input spills them from the fused scan in conv-hash order and
  `reduce_spilled_partials` merges the spill on the driver in conv-hash
  ranges (or, above a size cap, in Spark tasks); a DataFrame goes through
  `transcript_integrity_summary`, whose partials the same merge judges in
  Spark tasks after a shuffle by conv hash;
- per-partition verdicts over a deterministic bucket of conv_id (stable
  lineage for the checkpoint manifest).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

from .._worker import release_zip_finders

# --- format name -> Spark-side regex (JVM rlike; approximations are exact on
# the subsets the corresponding Python detectors accept — property-tested)

RX_EMAIL = r"^[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}$"
RX_UUID = (
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[1-5][0-9a-fA-F]{3}"
    r"-[89abAB][0-9a-fA-F]{3}-[0-9a-fA-F]{12}$"
)
RX_IPV4 = r"^(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}$"
# RFC 4291 textual forms incl. '::' compression and embedded IPv4 tail
_V4 = RX_IPV4[1:-1]
RX_IPV6 = (
    r"^("
    r"([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,7}:"
    r"|([0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,5}(:[0-9A-Fa-f]{1,4}){1,2}"
    r"|([0-9A-Fa-f]{1,4}:){1,4}(:[0-9A-Fa-f]{1,4}){1,3}"
    r"|([0-9A-Fa-f]{1,4}:){1,3}(:[0-9A-Fa-f]{1,4}){1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,2}(:[0-9A-Fa-f]{1,4}){1,5}"
    r"|[0-9A-Fa-f]{1,4}:(:[0-9A-Fa-f]{1,4}){1,6}"
    r"|:((:[0-9A-Fa-f]{1,4}){1,7}|:)"
    r"|([0-9A-Fa-f]{1,4}:){6}" + _V4
    + r"|([0-9A-Fa-f]{1,4}:){1,5}:" + _V4
    + r"|([0-9A-Fa-f]{1,4}:){1,4}(:[0-9A-Fa-f]{1,4})?:" + _V4
    + r"|([0-9A-Fa-f]{1,4}:){1,3}(:[0-9A-Fa-f]{1,4}){0,2}:" + _V4
    + r"|([0-9A-Fa-f]{1,4}:){1,2}(:[0-9A-Fa-f]{1,4}){0,3}:" + _V4
    + r"|[0-9A-Fa-f]{1,4}:(:[0-9A-Fa-f]{1,4}){0,4}:" + _V4
    + r"|:((:[0-9A-Fa-f]{1,4}){0,5}:" + _V4 + r"|:" + _V4 + r")"
    + r")$"
)
RX_DATETIME = (
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})$"
)
RX_URI = r"^(https?|ftps?)://([^/?#\s]*@)?[^/?#@\s:][^/?#\s]*.*$"


def format_predicate(col: Column, fmt: str, dtype=None) -> Column | None:
    """True iff the (non-null) value conforms to ``fmt``. Returns None when
    the format has no Spark-side check (unknown custom format)."""
    if fmt == "date-time":
        if isinstance(dtype, (TimestampType, TimestampNTZType, DateType)):
            return F.lit(True)  # a temporal column is RFC 3339 by rendering
        return col.rlike(RX_DATETIME) & F.try_to_timestamp(col).isNotNull()
    if fmt == "email":
        return col.rlike(RX_EMAIL)
    if fmt == "uuid":
        return col.rlike(RX_UUID)
    if fmt == "ipv4":
        return col.rlike(RX_IPV4)
    if fmt == "ipv6":
        return col.rlike(RX_IPV6)
    if fmt == "uri":
        return col.rlike(RX_URI)
    return None


@dataclass
class Constraint:
    name: str  # e.g. "required:role", "format:ts:date-time"
    column: str
    kind: str  # required | format | const | enum | range
    predicate: Column  # True = row conforms (nulls pass unless required)


_KNOWN_FORMATS = {"date-time", "email", "uuid", "ipv4", "ipv6", "uri"}

# A column with at most this many distinct values gets an enum constraint.
ENUM_MAX = 16


def constraint_spec(
    schema: dict,
    state: dict | None = None,
    temporal_cols: set | None = None,
    with_ranges: bool = False,
) -> list:
    """PURE-PYTHON constraint plan: what compile_constraints will build,
    as plain tuples (no py4j, no Spark session). One spec feeds both
    validators: `build_constraints` turns it into Spark Column predicates,
    and `arrow_violation_counter` into the arrow counter the fused scan
    runs when it is given a contract's spec (its ``violation_spec``).

    ``temporal_cols``: column names whose Spark/Arrow type is a
    timestamp/date (their date-time format check folds to TRUE — a
    temporal column is RFC 3339 by rendering)."""
    if schema.get("type") != "object":
        raise ValueError("row validation requires an object root schema")
    temporal = temporal_cols or set()
    required = set(schema.get("required") or [])
    out: list = []
    for name, prop in (schema.get("properties") or {}).items():
        if name in required:
            out.append(("required", name))
        fmt = prop.get("format")
        if fmt:
            out.append(
                (
                    "format",
                    name,
                    fmt,
                    # only date-time folds to TRUE on temporal columns
                    name in temporal and fmt == "date-time",
                    fmt in _KNOWN_FORMATS,
                )
            )
        if "const" in prop:
            out.append(("const", name, prop["const"]))
        st = (state or {}).get("props", {}).get(name) if state else None
        if st is not None:
            if (
                st["distinct"] is not None
                and 0 < len(st["distinct"]) <= ENUM_MAX
                and "const" not in prop
                and prop.get("type") in ("string", "integer", "boolean")
            ):
                out.append(
                    ("enum", name, tuple(v for _, v in st["distinct"]))
                )
            if with_ranges and st["num_min"] is not None:
                out.append(("range", name, st["num_min"], st["num_max"]))
    return out


def constraint_name(entry: tuple) -> str:
    """The name of a spec entry's constraint, the key its violations are
    counted under: ``kind:column``, and ``format:column:format``."""
    kind, name = entry[0], entry[1]
    return f"format:{name}:{entry[2]}" if kind == "format" else f"{kind}:{name}"


def build_constraints(spec: list) -> list:
    """Build Column predicates from a `constraint_spec` plan (the py4j
    half — each expression node is a JVM round trip, ~0.5 s for a typical
    table). A format with no Spark-side check is skipped."""
    out: list = []
    for entry in spec:
        kind, name = entry[0], entry[1]
        cname = constraint_name(entry)
        col = F.col(name)
        if kind == "required":
            out.append(Constraint(cname, name, kind, col.isNotNull()))
            continue
        if kind == "format":
            fmt, temporal, known = entry[2], entry[3], entry[4]
            if not known:
                continue
            pred = F.lit(True) if temporal else format_predicate(col, fmt)
        elif kind == "const":
            pred = col == F.lit(entry[2])
        elif kind == "enum":
            pred = col.isin(list(entry[2]))
        elif kind == "range":
            pred = col.between(entry[2], entry[3])
        else:  # pragma: no cover - spec is produced by constraint_spec
            raise ValueError(f"unknown constraint kind {kind!r}")
        # NULL passes every check but required
        out.append(Constraint(cname, name, kind, col.isNull() | pred))
    return out


class UnsupportedArrowSpec(ValueError):
    """Raised when `arrow_violation_counter` cannot replicate a constraint
    spec entry bit-exactly. `pipeline.infer_and_integrity_parquet` builds
    the counter on the driver before any task runs, so such a spec fails
    the call up front; nothing falls back to another violations pass."""


def _spark_datetime_fields_ok(s: str) -> bool:
    """Field validation mirroring Spark's try_to_timestamp on strings that
    already matched RX_DATETIME (behavior pinned empirically on Spark 4.1:
    real calendar dates in the proleptic calendar — year 0000 is a leap
    year; hour<=23, no leap second; zone offset a valid java.time
    ZoneOffset, i.e. within +/-18:00 with minutes<=59; ANY number of
    fractional digits accepted). The regex admits one final line
    terminator; try_to_timestamp accepts only LF, CR and CRLF."""
    import calendar

    s = s.rstrip("\r\n")
    if s[-1] in "\u0085\u2028\u2029":
        return False
    y, mo, d = int(s[0:4]), int(s[5:7]), int(s[8:10])
    h, mi, sec = int(s[11:13]), int(s[14:16]), int(s[17:19])
    if not (1 <= mo <= 12) or not (1 <= d <= calendar.monthrange(y, mo)[1]):
        return False
    if h > 23 or mi > 59 or sec > 59:
        return False
    if s.endswith("Z"):
        return True
    off = s[-6:]
    oh, om = int(off[1:3]), int(off[4:6])
    return om <= 59 and (oh < 18 or (oh == 18 and om == 0))


# Java's line terminators: its '.' stops at each, and its '$' also
# matches before one final one
_JAVA_EOL = r"\n\r\u0085\u2028\u2029"


def _java_rx(rx: str):
    """Compile a Spark-side regex (``^...$``) with Java's semantics: '\\d'
    and '\\s' are ASCII-only (re.ASCII), '.' (only RX_URI's '.*') and '$'
    handle line terminators as above."""
    body = rx[:-1].replace(".*", f"[^{_JAVA_EOL}]*")
    return re.compile(body + rf"(?:\r\n|[{_JAVA_EOL}])?\Z", re.ASCII)


def _spark_format_vec(fmt: str):
    """Vectorized (pd.Series[str] -> pd.Series[bool]) mirror of the SPARK
    format predicate (format_predicate's rlike regex, plus the
    try_to_timestamp gate for date-time) — NOT the Go-exact detectors in
    functions/formats (those define inference survivorship; validation
    compares against what the Spark violations pass would say, and the
    two acceptance sets differ outside the detector-accepted subset)."""
    rx_by_fmt = {
        "email": RX_EMAIL,
        "uuid": RX_UUID,
        "ipv4": RX_IPV4,
        "ipv6": RX_IPV6,
        "uri": RX_URI,
    }
    if fmt == "date-time":
        rx = _java_rx(RX_DATETIME)

        def vec(series):
            ok = series.str.match(rx).fillna(False)
            if ok.any():
                sub = series[ok]
                ok.loc[ok] = [_spark_datetime_fields_ok(v) for v in sub]
            return ok

        return vec
    rx = _java_rx(rx_by_fmt[fmt])
    return lambda series: series.str.match(rx).fillna(False)


def arrow_violation_counter(spec: list, arrow_schema):
    """Vectorized arrow/numpy twin of ``build_constraints`` +
    ``violation_counts``: returns ``(names, count_batch)`` where
    ``count_batch(record_batch)`` yields an int64 numpy vector of
    per-constraint violation counts, bit-equal to the Spark predicates
    (equality fuzz-tested in tests/test_pipeline_fused.py).

    This is what lets the FUSED scan count violations against a
    contract's spec in the same pass that infers the schema (see
    pipeline.infer_and_integrity_parquet's ``violation_spec``), so no
    separate whole-table validation scan runs — at 100 TB that is a full
    second read of the table.

    Semantics mirrored exactly:
    - required: violation iff NULL (col.isNotNull());
    - format (known detector): NULL passes; temporal-fold entries are
      constant TRUE (0 violations); otherwise a Python mirror of the
      SPARK predicate (format_predicate's rlike regex + the
      try_to_timestamp gate — see _spark_format_vec) judges each
      non-null string;
    - const/enum: NULL passes; non-null must equal / be a member;
    - range: NULL passes; numpy evaluates NOT(lo <= v <= hi) so NaN
      counts as a violation exactly like Spark's three-valued between.

    Raises UnsupportedArrowSpec for anything whose Spark/arrow semantics
    could diverge (missing column, unknown format, const/enum on a column
    type where lit() coercion isn't the identity)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from .infer_spark import _is_str

    names: list = []
    checks: list = []
    for entry in spec:
        kind, name = entry[0], entry[1]
        if name not in arrow_schema.names:
            raise UnsupportedArrowSpec(f"column {name!r} not in scan schema")
        typ = arrow_schema.field(name).type
        if pa.types.is_dictionary(typ):  # parquet dict-encoded columns
            typ = typ.value_type
        if kind == "required":
            fn = None  # the raw column's null_count: no dictionary cast
        elif kind == "format":
            fmt, temporal, known = entry[2], entry[3], entry[4]
            if not known:
                # build_constraints skips it: no count to be bit-equal to
                raise UnsupportedArrowSpec(f"unknown format {fmt!r}")
            if temporal:

                def fn(arr):
                    return 0

            elif _is_str(typ):
                vec = _spark_format_vec(fmt)

                def fn(arr, vec=vec):
                    vals = arr.drop_null()
                    if len(vals) == 0:
                        return 0
                    s = vals.to_pandas()
                    return int(len(s) - vec(s).sum())

            else:
                raise UnsupportedArrowSpec(
                    f"format {fmt!r} on non-string column {name!r} ({typ})"
                )
        elif kind in ("const", "enum"):
            vals = [entry[2]] if kind == "const" else list(entry[2])
            ok = (
                (_is_str(typ) and all(isinstance(v, str) for v in vals))
                or (
                    pa.types.is_integer(typ)
                    and all(
                        isinstance(v, int) and not isinstance(v, bool)
                        for v in vals
                    )
                )
                or (
                    pa.types.is_boolean(typ)
                    and all(isinstance(v, bool) for v in vals)
                )
                or (
                    pa.types.is_floating(typ)
                    and kind == "const"
                    and all(isinstance(v, (int, float)) for v in vals)
                )
            )
            if not ok:
                raise UnsupportedArrowSpec(
                    f"{kind} on {name!r}: values {vals!r} vs column type "
                    f"{typ} would rely on lit() coercion"
                )
            value_set = pa.array(vals, typ)

            def fn(arr, value_set=value_set):
                arr = arr.drop_null()
                if len(arr) == 0:
                    return 0
                hit = pc.sum(pc.is_in(arr, value_set=value_set)).as_py()
                return len(arr) - int(hit or 0)
        elif kind == "range":
            lo, hi = entry[2], entry[3]
            if not (
                pa.types.is_integer(typ) or pa.types.is_floating(typ)
            ):
                raise UnsupportedArrowSpec(f"range on non-numeric {name!r}")

            def fn(arr, lo=lo, hi=hi):
                v = arr.drop_null().to_numpy(zero_copy_only=False)
                if len(v) == 0:
                    return 0
                return int((~((v >= lo) & (v <= hi))).sum())
        else:
            raise UnsupportedArrowSpec(f"unknown constraint kind {kind!r}")
        names.append(constraint_name(entry))
        checks.append((name, fn))

    def count_batch(batch) -> "np.ndarray":
        # columns are found by name: a batch may lack a column whose
        # counts the caller credits from the parquet footer instead
        present = set(batch.schema.names)
        decoded: dict = {}

        def col(name):
            if name not in decoded:
                a = batch.column(name)
                if pa.types.is_dictionary(a.type):
                    a = a.cast(a.type.value_type)
                decoded[name] = a
            return decoded[name]

        def count(name, fn):
            if name not in present:
                return 0
            return batch.column(name).null_count if fn is None else fn(col(name))

        return np.array([count(name, fn) for name, fn in checks], dtype=np.int64)

    return names, count_batch


def temporal_columns(df: DataFrame | None) -> set:
    """Names of timestamp/date columns (the set constraint_spec needs)."""
    if df is None:
        return set()
    return {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (TimestampType, TimestampNTZType, DateType))
    }


def compile_constraints(
    schema: dict,
    state: dict | None = None,
    df: DataFrame | None = None,
    with_ranges: bool = False,
) -> list:
    """Compile a root object schema (finalize() output) into row constraints.

    ``state`` supplies the mined extensions (enum candidates and numeric
    ranges — reference roadmap FEATURES.md:72-94). Range checks default
    off: inferred bounds describe the sample, future rows may legitimately
    exceed them; enable explicitly for frozen snapshots.

    Thin wrapper over ``constraint_spec`` (pure plan) + ``build_constraints``
    (py4j expression building); the fused scan's arrow counter takes the
    same plan (``arrow_violation_counter``).
    """
    return build_constraints(
        constraint_spec(
            schema,
            state=state,
            temporal_cols=temporal_columns(df),
            with_ranges=with_ranges,
        )
    )


def violations(df: DataFrame, constraints: list, keep_cols: list | None = None) -> DataFrame:
    """Rows failing >=1 constraint, with the failed constraint names.

    One vectorized scan: every predicate is a Column, combined with
    array_compact(array(when(...))) — whole-stage-codegen friendly."""
    flags = [
        F.when(~c.predicate, F.lit(c.name)).otherwise(F.lit(None))
        for c in constraints
    ]
    cols = keep_cols if keep_cols is not None else df.columns
    out = df.select(
        *cols, F.array_compact(F.array(*flags)).alias("violations")
    )
    return out.filter(F.size("violations") > 0)


def violation_examples(
    df: DataFrame,
    constraints: list,
    keep_cols: list,
    k: int = 5,
    order_cols: list | None = None,
) -> DataFrame:
    """Up to ``k`` deterministic example rows per violated constraint —
    the triage view next to ``violation_counts``'s totals: (keep_cols...,
    constraint, example_rank), ordered by ``order_cols`` (default
    keep_cols) so reruns and engines agree on WHICH rows are the examples.

    Scale shape: the window runs over VIOLATING rows only (for healthy
    data a sliver of the table) partitioned by constraint — and Spark 4's
    WindowGroupLimit rewrite inserts a PARTIAL per-partition top-k below
    the exchange (plan-asserted in tests/test_plans.py), so the shuffle
    carries at most k rows per (constraint, input partition) even when a
    constraint fails everywhere. Always-true predicates constant-fold out
    of the plan entirely."""
    v = violations(df, constraints, keep_cols=keep_cols)
    ex = v.select(*keep_cols, F.explode("violations").alias("constraint"))
    from pyspark.sql import Window

    order = order_cols or keep_cols
    w = Window.partitionBy("constraint").orderBy(*order)
    return (
        ex.withColumn("example_rank", F.row_number().over(w))
        .filter(F.col("example_rank") <= k)
    )


def violation_counts(df: DataFrame, constraints: list) -> DataFrame:
    """Per-constraint violation counts in ONE aggregation pass (no explode):
    count(when(not pred)) per constraint, unpivoted to (constraint, n)."""
    aggs = [
        F.count(F.when(~c.predicate, F.lit(1))).alias(c.name) for c in constraints
    ]
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{c.name}', `{c.name}`" for c in constraints)
    return wide.selectExpr(
        f"stack({len(constraints)}, {stack}) as (constraint, violation_count)"
    )


# --- key uniqueness (SURVEY.md §2.5) -----------------------------------------


def duplicate_keys(df: DataFrame, keys: list) -> DataFrame:
    """Keys appearing more than once. groupBy = map-side partial agg; at
    10^12 rows this shuffles only (key, count) pairs. AQE splits skewed
    reducers; the heavy-hitter keys themselves are exactly what we report.

    NULLs are grouped like any other key value (plain groupBy semantics),
    so two rows sharing ``(c, NULL)`` ARE reported here. The integrity
    counts (`transcript_integrity_summary`, the fused scan,
    `turn_ordering_violations`) instead treat the key as an embedded
    uniqueness constraint that only binds rows with no NULL key column —
    this row-level explain API deliberately differs from them there."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def referential_violations(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str | None = None,
    broadcast_parent: bool = True,
) -> DataFrame:
    """Cross-table referential integrity: child keys with no matching parent
    row, as bounded ``(key, orphan_rows)`` counts rather than the orphan rows
    themselves (report the keys; fetch rows with a semi join when needed).

    Scale shape: the parent side is reduced to DISTINCT keys first, so a
    dimension-sized parent broadcasts and the check costs the child scan plus
    a map-side-combined groupBy of orphans only — no child shuffle before the
    anti join, no row-proportional shuffle after it unless most of the child
    is orphaned (at which point the orphan counts ARE the story). Set
    ``broadcast_parent=False`` for fact-to-fact checks where the key set
    itself is large; AQE then picks the join strategy.

    NULL child keys never match any parent (SQL join semantics) and are
    reported under the NULL key group — a FK column with NULLs surfaces as
    one row instead of disappearing."""
    parent_key = parent_key or child_key
    keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    if broadcast_parent:
        keys = F.broadcast(keys)
    return (
        child.join(keys, on=child_key, how="left_anti")
        .groupBy(child_key)
        .agg(F.count(F.lit(1)).alias("orphan_rows"))
    )


# --- referential turn-ordering (SURVEY.md §2.5) --------------------------------


def turn_ordering_violations(
    df: DataFrame, conv_col: str = "conv_id", idx_col: str = "turn_idx"
) -> DataFrame:
    """Conversations whose turn_idx is not dense 0..n-1.

    Pure aggregation — no window, no sort: dense 0..n-1 holds iff
    min==0 AND max==n_distinct-1 AND n_distinct==n (duplicates counted by
    n != n_distinct). Partial aggregation combines map-side, so hot
    conversations cost one reducer row each, not a sort of their turns.

    The distinct count is an explicit two-stage groupBy — (conv, turn)
    pre-aggregation, then per-conv — rather than ``count_distinct``:
    Catalyst expands count_distinct into an Expand+double-shuffle whose
    first stage AQE mis-coalesces under high parallelism (measured 41s vs
    11s at local[32] on a 10M-row table); the two-stage form is also the
    shape that salts naturally at 100 TB (the (conv, turn) stage shards
    hot conversations across reducers by turn_idx).

    NULL-key policy (shared with transcript_integrity_summary, which
    drops null keys in its arrow fold): rows with a NULL conv_id or NULL
    turn_idx are excluded from the ordering check — they are flagged by
    the required-column row constraints instead. This also preserves the
    count_distinct semantics the two-stage form replaces (count_distinct
    ignores NULLs; a naive groupBy would count the NULL group as one
    distinct turn and shift 'dup' verdicts to 'gap')."""
    g1 = (
        df.where(F.col(conv_col).isNotNull() & F.col(idx_col).isNotNull())
        .groupBy(conv_col, idx_col)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    g = g1.groupBy(conv_col).agg(
        F.sum("c").alias("n_turns"),
        F.min(idx_col).alias("min_idx"),
        F.max(idx_col).alias("max_idx"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    reasons = F.array_compact(
        F.array(
            F.when(F.col("min_idx") != 0, F.lit("nonzero_start")),
            F.when(
                F.col("max_idx") != F.col("n_distinct") - 1, F.lit("gap")
            ),
            F.when(F.col("n_distinct") != F.col("n_turns"), F.lit("dup_turn")),
        )
    )
    return (
        g.withColumn("reasons", reasons)
        .filter(F.size("reasons") > 0)
        .select(conv_col, "n_turns", "min_idx", "max_idx", "n_distinct", "reasons")
    )


def _partial_schema():
    """Arrow schema of the per-conv integrity partials: what
    `_integrity_fold` yields and what `pipeline._fused_task` spills (an
    empty task spills an empty table of this schema), rows in ``ch``
    order. A partial's distinct turns are its ``mask`` when that is not
    null (bit t set for turn t, every turn in [0, 64)), else its
    ``turns`` list, else (an empty or null list) the dense range
    ``mn..mx`` (``ndl == mx - mn + 1``)."""
    import pyarrow as pa

    return pa.schema(
        [
            ("conv", pa.string()),
            ("ch", pa.int64()),
            ("n", pa.int64()),
            ("mn", pa.int32()),
            ("mx", pa.int32()),
            ("ndl", pa.int64()),
            ("mask", pa.int64()),
            ("turns", pa.list_(pa.int32())),
        ]
    )


def _run_partials(conv, idx):
    """Partials without a hash table, one per run (adjacent rows with one
    conv), when runs are at most half the rows and the turn strictly
    increases inside each: count = distinct = run length, min/max = first/
    last turn. Else None. A conv in two runs gets two partials with one
    ``ch``, which the merge unions. Returns (conv, n, mn, mx, ndl, the
    distinct turns of each partial, one after the other)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = len(conv)
    step = pc.not_equal(conv.slice(1), conv.slice(0, rows - 1)).to_numpy(False)
    starts = np.flatnonzero(np.concatenate([[True], step]))
    if 2 * len(starts) > rows:
        return None
    t = idx.to_numpy(zero_copy_only=False)
    if not ((np.diff(t.astype(np.int64)) > 0) | step).all():
        return None
    n = np.diff(np.append(starts, rows))
    return conv.take(pa.array(starts)), n, t[starts], t[starts + n - 1], n, t


def _sorted_partials(conv, idx):
    """`_run_partials`' output for rows in any order, from one sort of the
    int64 keys ``(dictionary code << 32) | (turn + 2^31)`` (the bias keeps
    a negative turn inside its conv's range): group starts give n/mn/mx,
    adjacent unequal keys ``ndl`` and the sorted distinct turns."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(conv)
    key = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64) << 32
    key |= idx.to_numpy(zero_copy_only=False).astype(np.int64) + (1 << 31)
    key.sort()
    turn = ((key & 0xFFFFFFFF) - (1 << 31)).astype(np.int32)
    code = key >> 32
    ends = np.append(np.flatnonzero(code[1:] != code[:-1]) + 1, len(key))
    starts = ends - np.diff(ends, prepend=0)
    first = np.concatenate([[True], key[1:] != key[:-1]])  # of each key
    ndl = np.diff(np.cumsum(first)[ends - 1], prepend=0)
    return (enc.dictionary.take(pa.array(code[starts])), ends - starts,
            turn[starts], turn[ends - 1], ndl, turn[first])


# FNV-1a-64; a conv id longer than _FNV_MAX_BYTES hashes with an 8-byte
# blake2b, so the vectorized loop makes at most that many passes.
_FNV_OFFSET, _FNV_PRIME, _FNV_MAX_BYTES = 0xCBF29CE484222325, 0x100000001B3, 64
# `_conv_hash`'s name in the fused scan's task markers: a part file spilled
# under another hash would split its convs from the rest, so it is rerun.
CONV_HASH = "fnv1a64/blake2b64"
# The part files' layout in the same markers (`_partial_schema`: turn sets
# as 64-bit masks, rows in ``ch`` order): a part file of an older layout is
# rerun, never merged.
SPILL_LAYOUT = "mask64/ch-sorted"


def _conv_hash(conv) -> "np.ndarray":
    """The int64 ``ch`` of each string of a null-free arrow string array:
    FNV-1a-64 of its UTF-8 bytes, one vectorized pass per byte position
    over the offsets and values buffers. A pure function of the bytes, so
    equal convs share it in every task and process; a collision only
    routes rows to the exact string-keyed path of the merge."""
    import numpy as np

    _, obuf, vbuf = conv.buffers()
    o = np.frombuffer(obuf, np.int32)[conv.offset:conv.offset + len(conv) + 1]
    lens, pos = np.diff(o), (o[:-1] - o[0]).astype(np.intp)
    width = int(lens[lens <= _FNV_MAX_BYTES].max(initial=0))
    vals = np.zeros(o[-1] - o[0] + width, np.uint8)  # zero-padded past the end
    vals[:o[-1] - o[0]] = np.frombuffer(vbuf or b"", np.uint8)[o[0]:o[-1]]
    h, at = np.full(len(conv), _FNV_OFFSET, np.uint64), pos.copy()
    for j in range(width):
        live = lens > j
        np.bitwise_xor(h, vals[at], out=h, where=live)
        np.multiply(h, np.uint64(_FNV_PRIME), out=h, where=live)
        at += 1
    for i in np.flatnonzero(lens > _FNV_MAX_BYTES):
        b = hashlib.blake2b(vals[pos[i]:pos[i] + lens[i]], digest_size=8)
        h[i] = int.from_bytes(b.digest(), "little")
    return h.view(np.int64)  # Spark's Arrow bridge lacks uint64


def _integrity_fold(conv_col: str, idx_col: str):
    """Per-partition pre-aggregation of (conv, turn) batches: one output
    row per (conv, partition) with local count/min/max and the local
    UNIQUE turn list — exact cross-partition merge material at a fraction
    of the raw rows. Rows with a NULL conv or turn are dropped (the
    embedded-uniqueness semantics; see transcript_integrity_summary).
    Conv-clustered rows take `_run_partials`, any others one sort of
    packed keys (`_sorted_partials`). A partial whose turns all lie in
    [0, 64) spills them as the bits of ``mask``; any other spills its
    list, or an empty one when dense. Each partial carries ``ch``, the
    `_conv_hash` of its conv, and the partials leave in ``ch`` order, so
    the driver merge cuts every part file into the same ``ch`` ranges."""
    import numpy as np
    import pyarrow as pa

    def fold(batches):
        try:
            yield from _fold(batches)
        finally:
            release_zip_finders()

    def _fold(batches):
        bs = list(batches)
        if not bs:
            return
        t = pa.Table.from_batches(bs).drop_null()
        if t.num_rows == 0:
            return
        conv = t.column(conv_col).combine_chunks()
        idx = t.column(idx_col).combine_chunks().cast(pa.int32())
        conv, n, mn, mx, ndl, vals = _run_partials(conv, idx) or _sorted_partials(conv, idx)
        conv = conv.cast(pa.string())
        # each partial's turns OR'd as bits, kept where all lie in [0, 64)
        small = (mn >= 0) & (mx < 64)
        bits = np.uint64(1) << np.clip(vals, 0, 63).astype(np.uint64)
        mask = np.bitwise_or.reduceat(bits, np.cumsum(ndl) - ndl).view(np.int64)
        # the rest keep their list, empty when dense. Empty, not null: Spark's
        # Arrow writer (the executor merge's input) is quadratic in a run of
        # null lists
        listed = ~small & (ndl != mx.astype(np.int64) - mn + 1)
        off = np.append(0, np.cumsum(np.where(listed, ndl, 0)))
        turns = pa.ListArray.from_arrays(
            pa.array(off, pa.int32()),
            pa.array(vals[np.repeat(listed, ndl)] if listed.any() else vals[:0]),
        )
        ch = _conv_hash(conv)
        o = np.argsort(ch)
        # ``ndl`` apart: the merge's single-task path never decodes the list column
        yield from pa.Table.from_arrays(
            [conv.take(o), ch[o], n[o], mn[o], mx[o], ndl[o],
             pa.array(mask[o], mask=~small[o]), turns.take(o)],
            schema=_partial_schema(),
        ).to_batches()

    return fold


def transcript_integrity_summary(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
) -> dict:
    """Uniqueness of (conv, turn) AND dense-ordering per conv in ONE
    SHUFFLE-LIGHT pass over a DataFrame (parquet input goes through the
    fused scan, `pipeline.infer_and_integrity_parquet`, instead).

    duplicate_keys and turn_ordering_violations each shuffle every raw
    (conv, turn) pair. Here each partition pre-aggregates to one row per
    conversation run — count, min, max, unique turns as a bit mask or a
    list — in a vectorized arrow fold, and only the per-conv partials
    shuffle, by their conv hash, into the merge the spill reduce runs
    (`_merge_on_executors`).

    NULL keys: the check is an EMBEDDED uniqueness constraint — it holds
    on the rows whose conv AND turn are both non-null; rows with a NULL
    in either are left to the required-column row constraints.

    Returns {'dup_rows_excess': total rows beyond one per (conv, turn) key,
    'ordering_violations': #convs whose turn_idx is not dense 0..n-1} —
    ordering_violations matches turn_ordering_violations().count()."""
    partials = df.select(
        F.col(conv_col).cast("string").alias(conv_col),
        F.col(idx_col).cast("int").alias(idx_col),
    ).mapInArrow(
        _integrity_fold(conv_col, idx_col), from_arrow_schema(_partial_schema())
    )
    return _merge_on_executors(partials)


def _merge_task(batches):
    """Task body of `_merge_on_executors`: `_merge_partials_local` over
    all of one shuffle partition's partials, as one row."""
    import pyarrow as pa

    try:
        bs = list(batches)
        table = pa.Table.from_batches(bs) if bs else _partial_schema().empty_table()
        got = _merge_partials_local(table)
        yield pa.RecordBatch.from_pydict({k: [v] for k, v in got.items()})
    finally:
        release_zip_finders()


def _merge_on_executors(partials: DataFrame, info: dict | None = None) -> dict:
    """`_merge_partials_local` as Spark tasks: partials shuffled by ``ch``,
    so every partial of a conv (and of a colliding one) meets in one task,
    the way `_merge_ranges` splits them on the driver. The arrays cross a
    plain exchange, not an aggregate; the driver sums one row per task
    (their number goes to ``info["ranges"]``)."""
    rows = partials.repartition("ch").mapInArrow(
        _merge_task, "dup_rows_excess long, ordering_violations long"
    ).collect()
    if info is not None:
        info["ranges"] = len(rows)
    return {k: sum(r[k] for r in rows) for k in ("dup_rows_excess", "ordering_violations")}


def _popcount(x) -> "np.ndarray":
    """Set bits of each 64-bit word (numpy 1.x has no bitwise_count)."""
    import numpy as np

    x = x.view(np.uint64)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + ((x >> np.uint64(2)) & np.uint64(0x3333333333333333))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int64)


def _merge_partials_local(table) -> dict:
    """Vectorized merge of per-conv partials (numpy/arrow C paths, no
    Spark aggregate): the one judge of every partial. It runs once per
    ``ch`` range of a spill on the driver (`_merge_ranges`), or once per
    ``ch`` shuffle partition in a Spark task (`_merge_on_executors`).

    One stable sort of ``ch`` groups the partials (part files arrive in
    ``ch`` order, so it merges sorted runs). A conv with ONE partial needs
    no grouping: its row's (n, mn, mx, ndl) ARE the final per-conv stats,
    judged with row-wise numpy. That is ~99% of the rows under a
    conv-clustered layout and few on shuffled input. A group of several
    partials that all carry a ``mask`` and one conv string is judged from
    its summed ``n`` and its ORed masks: their bit count is the distinct
    turns, and they are dense from 0 iff they form a run of low bits. Only
    the rest (a hash collision, or a partial with a null mask: a list, a
    turn outside [0, 64)) pays the exact turn-set union by the true conv
    strings (`_judge_multi_subset`), so a collision only routes rows there
    and never changes a result. The string column is gathered for the
    grouped rows only, the lists for the exact ones only."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if table.num_rows == 0:
        return {"dup_rows_excess": 0, "ordering_violations": 0}

    # Native widths throughout (mn/mx int32, n/ndl int64): numpy promotes
    # in the ufuncs.
    def col(name):
        return table.column(name).to_numpy()

    n, mn_r, mx_r, ndl, ch = (col(c) for c in ("n", "mn", "mx", "ndl", "ch"))

    # Single-part convs: the row is the conv. Dense 0..n-1 ordering holds
    # iff mn == 0, mx == distinct-1, and no duplicate turn values.
    # Computed as ALL-rows totals minus the grouped rows' contribution
    # (a fancy-index gather) — boolean-mask gathers cost more than the
    # arithmetic they feed.
    dup_all = n - ndl
    bad_all = (mn_r != 0) | (mx_r != ndl - 1) | (ndl != n)
    dup_excess = int(dup_all.sum())
    bad = int(bad_all.sum())

    order = np.argsort(ch, kind="stable")
    cont = ch[order[1:]] == ch[order[:-1]]  # sorted row i+1 joins row i's group
    grouped = np.append(cont, False)
    grouped[1:] |= cont
    if not grouped.any():
        return {"dup_rows_excess": dup_excess, "ordering_violations": bad}
    rows = order[grouped]
    dup_excess -= int(dup_all[rows].sum())
    bad -= int(bad_all[rows].sum())
    starts = np.flatnonzero(np.append(True, ~cont)[grouped])

    conv, mask = table.column("conv").take(pa.array(rows)), table.column("mask")
    # a group goes exact on a null mask or on a conv string that differs
    # from the row before it in the group
    differs = np.append(False, pc.not_equal(conv[1:], conv[:-1]).to_numpy())
    differs[starts] = False
    exact = np.logical_or.reduceat(differs | ~mask.is_valid().to_numpy()[rows], starts)
    nt = np.add.reduceat(n[rows], starts)
    bits = np.bitwise_or.reduceat(mask.fill_null(0).to_numpy()[rows], starts).view(np.uint64)
    nd = _popcount(bits)
    ok = ~exact
    dup_excess += int((nt - nd)[ok].sum())
    # dense from 0 iff the ORed mask is a run of low bits: M & (M + 1) == 0
    bad += int((((bits & (bits + np.uint64(1))) != 0) | (nd != nt))[ok].sum())

    if exact.any():
        sizes = np.diff(np.append(starts, len(rows)))
        d2, b2 = _judge_multi_subset(
            table.select(["conv", "n", "mn", "mx", "mask", "turns"]).take(
                pa.array(rows[np.repeat(exact, sizes)])
            )
        )
        dup_excess += d2
        bad += b2

    return {"dup_rows_excess": dup_excess, "ordering_violations": bad}


def _judge_multi_subset(sub) -> tuple:
    """Exact per-conv judgment of partial rows whose conv may span map
    tasks (arrow table with conv/n/mn/mx/mask/turns): groups by the TRUE
    conv string, unions the turn sets via one composite-key unique, and
    returns this subset's (dup_rows_excess, ordering_violations)
    contribution. A row's turns are the bits of its mask, else its list,
    else (an empty or null list) the range mn..mx."""
    import numpy as np

    import pyarrow as pa
    import pyarrow.compute as pc

    def col(name):
        c = sub.column(name)
        return c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c

    codes = pc.dictionary_encode(col("conv")).indices.to_numpy(
        zero_copy_only=False
    )
    G = int(codes.max()) + 1
    n_sub = sub.column("n").to_numpy(zero_copy_only=False)
    n_turns = np.bincount(codes, weights=n_sub, minlength=G).astype(np.int64)
    mn_r = sub.column("mn").to_numpy(zero_copy_only=False).astype(np.int64)
    mx_r = sub.column("mx").to_numpy(zero_copy_only=False).astype(np.int64)
    mn = np.full(G, np.iinfo(np.int64).max)
    np.minimum.at(mn, codes, mn_r)
    mx = np.full(G, np.iinfo(np.int64).min)
    np.maximum.at(mx, codes, mx_r)
    mask, turns = col("mask"), col("turns")
    masked = mask.is_valid().to_numpy(zero_copy_only=False)
    bits = (mask.fill_null(0).to_numpy()[:, None].view(np.uint64)
            >> np.arange(64, dtype=np.uint64)) & np.uint64(1) != 0
    listed_lens = pc.list_value_length(turns).fill_null(0).to_numpy()
    listed = (listed_lens > 0) & ~masked
    lens = np.where(masked, bits.sum(1), np.where(listed, listed_lens, mx_r - mn_r + 1))
    # every row as its range, then the masked and listed rows' own turns
    starts = np.cumsum(lens) - lens
    flat = np.repeat(mn_r - starts, lens) + np.arange(int(lens.sum()))
    flat[np.repeat(masked, lens)] = np.nonzero(bits)[1]
    flat[np.repeat(listed, lens)] = turns.filter(pa.array(listed)).flatten().to_numpy(
        zero_copy_only=False
    )
    rep = np.repeat(codes.astype(np.int64, copy=False), lens)
    # exact distinct per conv via one composite-key unique. The +2^31
    # bias maps any int32 turn value into [0, 2^32), so the >>32 code
    # recovery is exact even for negative turn indices (without it a
    # negative turn would floor-shift into the neighboring conv code).
    key = rep * np.int64(1 << 32) + (
        flat.astype(np.int64, copy=False) + np.int64(1 << 31)
    )
    ukey = np.unique(key)
    n_distinct = np.bincount(ukey >> np.int64(32), minlength=G)
    dup_excess = int((n_turns - n_distinct).sum())
    bad = int(
        ((mn != 0) | (mx != n_distinct - 1) | (n_distinct != n_turns)).sum()
    )
    return dup_excess, bad


# Spills up to this many bytes are merged on the driver (`_merge_ranges`),
# larger ones by the same merge in Spark tasks (`_merge_on_executors`). The
# spill is plain (no compression, dictionary or statistics): file size ≈
# bytes loaded.
_DRIVER_MERGE_MAX_BYTES = 256 << 20

# The driver reads the part files and merges their ``ch`` ranges on this
# many threads.
_MERGE_THREADS = 4


def _merge_ranges(tables, pool) -> tuple:
    """`_merge_partials_local` per ``ch`` range of a spill's part files,
    the ranges judged on ``pool``. The cuts are ``ch`` values at the
    quantiles of the largest file, and every file is sliced at them, so a
    run of equal ``ch`` (one conv's partials, or colliding convs') never
    straddles a cut and the ranges are independent. A file out of ``ch``
    order (the engine writes none) is sorted first. Returns (result
    dict, number of ranges)."""
    import numpy as np
    import pyarrow as pa

    tables, chs = list(tables), []
    for k, t in enumerate(tables):
        ch = t.column("ch").to_numpy()
        if (ch[1:] < ch[:-1]).any():
            order = np.argsort(ch, kind="stable")
            tables[k], ch = t.take(pa.array(order)), ch[order]
        chs.append(ch)
    big = max(chs, key=len)
    cuts = np.unique(big[np.arange(1, _MERGE_THREADS) * len(big) // _MERGE_THREADS]
                     if len(big) else big)
    bounds = [np.concatenate([[0], np.searchsorted(ch, cuts), [len(ch)]]) for ch in chs]

    def judge(r):
        return _merge_partials_local(pa.concat_tables(
            [t.slice(b[r], b[r + 1] - b[r]) for t, b in zip(tables, bounds)]
        ))

    out = list(pool.map(judge, range(len(cuts) + 1)))
    return {key: sum(o[key] for o in out) for key in out[0]}, len(out)


def reduce_spilled_partials(spark, out_dir: str, keyed_rows: dict | None = None,
                            info: dict | None = None) -> dict:
    """Merge a directory of spilled per-conv integrity partials (the
    ``part-*.parquet`` files `pipeline._fused_task` writes) into the final
    {dup_rows_excess, ordering_violations} dict.

    Where `_merge_partials_local` runs is picked from the measured spill
    size, the way AQE re-plans from shuffle statistics: up to
    ``_DRIVER_MERGE_MAX_BYTES`` on the driver, the part files read and
    their ``ch`` ranges merged on a thread pool (`_merge_ranges`, no
    shuffle), above it in Spark tasks after a shuffle by ``ch``
    (`_merge_on_executors`). Only the final ``part-*`` names are read: a
    torn ``.part-*.inprogress-<pid>`` file from a killed writer never
    reaches either reader.

    ``keyed_rows`` maps each task id to the rows with a non-null conv and
    turn it read; the spill must then hold one ``part-<i>`` per task with
    that Σ ``n``. A part file lost, stale, truncated or swapped for
    another would otherwise change the counts silently. ``info`` receives
    the reduce's ``path`` ("driver" or "executors"), ``spill_bytes``,
    ``partials`` and ``ranges`` (merge tasks on the executors)."""
    import glob
    import os
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    info = {} if info is None else info
    spilled = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    if keyed_rows is not None:
        ids = {f"part-{i:05d}.parquet": i for i in keyed_rows}
        got, want = {os.path.basename(p) for p in spilled}, set(ids)
        if got != want:
            raise ValueError(
                f"integrity spill {out_dir!r} does not match the run's tasks: "
                f"missing {sorted(want - got)[:5]}, unexpected {sorted(got - want)[:5]}"
                "; use a fresh spill/checkpoint directory"
            )
    spill_bytes = sum(os.path.getsize(p) for p in spilled)
    local = spill_bytes <= _DRIVER_MERGE_MAX_BYTES
    info.update(path="driver" if local else "executors", spill_bytes=spill_bytes,
                partials=0, ranges=0)
    if not spilled:
        return {"dup_rows_excess": 0, "ordering_violations": 0}
    with ThreadPoolExecutor(_MERGE_THREADS) as pool:
        # the executor path reads only n, for the checks and the count
        tables = list(pool.map(
            lambda p: pq.read_table(p, columns=None if local else ["n"]), spilled
        ))
        info["partials"] = sum(t.num_rows for t in tables)
        for p, t in zip(spilled, tables) if keyed_rows is not None else ():
            got = int(t.column("n").to_numpy().sum())
            want = keyed_rows[ids[os.path.basename(p)]]
            if got != want:
                raise ValueError(
                    f"integrity spill {p!r} holds {got} keyed rows, but its "
                    f"task read {want}; use a fresh spill/checkpoint directory"
                )
        if local:
            out, info["ranges"] = _merge_ranges(tables, pool)
            return out
    return _merge_on_executors(spark.read.parquet(*spilled), info)


def ts_regressions(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Turns whose ts is not strictly after the previous turn's ts.

    Uses a per-conversation window ordered by turn_idx. Conversation length
    is bounded (it is a dialog), so each window group is small — the shuffle
    distributes GROUPS, and skew in #turns-per-conv stays bounded; this is
    the one ordering check that genuinely needs sequence order."""
    from pyspark.sql import Window

    w = Window.partitionBy(conv_col).orderBy(idx_col)
    prev = F.lag(ts_col).over(w)
    return (
        df.select(conv_col, idx_col, ts_col, prev.alias("prev_ts"))
        .filter(F.col("prev_ts").isNotNull() & (F.col(ts_col) <= F.col("prev_ts")))
    )


# --- column stats (reference roadmap FEATURES.md:177-186) ----------------------


def column_distinct_stats(df: DataFrame, columns: list | None = None) -> DataFrame:
    """EXACT per-column (column, n, nulls, n_distinct) in the 100 TB shape.

    ``k`` exact ``count_distinct``s in ONE agg make Catalyst plan an Expand
    (k+1 projections of every row) whose AQE coalescing mis-sizes at high
    parallelism (see CLAUDE.md) — and the expanded rows are shuffled before
    the partial distinct. This form avoids Expand entirely: one pruned
    single-column scan per column (columnar parquet: k pruned scans read
    the same total bytes as one full-width scan), each a plain two-stage
    HashAggregate distinct (map-side partial -> exact), the same explicit
    two-stage pattern as turn_ordering_violations. Per-column branches also
    let AQE right-size each shuffle independently. The k-row results join
    broadcast against one cheap no-distinct base agg for (n, nulls).

    Exactness matches count(DISTINCT c) bit-for-bit — this is the scale
    twin of the Expand form, not an approximation."""
    from functools import reduce

    cols = columns or df.columns
    base = (
        df.agg(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.count(F.col(c)).alias("n"),
                        F.count(F.when(F.col(c).isNull(), 1)).alias("nulls"),
                    )
                    for c in cols
                ]
            ).alias("a")
        )
        .select(F.explode("a").alias("s"))
        .select("s.column", "s.n", "s.nulls")
    )
    branches = [
        df.select(F.col(c).alias("value"))
        .filter(F.col("value").isNotNull())
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_distinct"))
        .select(F.lit(c).alias("column"), "n_distinct")
        for c in cols
    ]
    dc = reduce(lambda a, b: a.unionAll(b), branches)
    return base.join(F.broadcast(dc), "column").select(
        "column", "n", "nulls", "n_distinct"
    )


# --- per-partition verdicts (north_rule) ---------------------------------------


def partition_verdicts(
    df: DataFrame,
    constraints: list,
    bucket_col: str = "conv_id",
    num_buckets: int = 64,
) -> DataFrame:
    """Pass/fail per deterministic bucket of ``bucket_col`` (stable across
    runs and cluster sizes — xxhash64 buckets, not physical partitions, so
    the manifest's lineage is reproducible). One aggregation pass."""
    bucket = F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(num_buckets)).alias(
        "bucket"
    )
    aggs = [F.count(F.lit(1)).alias("rows")] + [
        F.count(F.when(~c.predicate, 1)).alias(c.name) for c in constraints
    ]
    g = df.groupBy(bucket).agg(*aggs)
    total_viol = sum(F.col(c.name) for c in constraints) if constraints else F.lit(0)
    return g.withColumn("violation_total", total_viol).withColumn(
        "passed", F.col("violation_total") == 0
    )
