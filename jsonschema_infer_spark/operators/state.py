"""SchemaState: the immutable-ish observation state of schema inference.

This replaces the reference's mutable ``SchemaNode`` tree + mutex
(`/root/reference/node.go:22-52`, `/root/reference/jsonschema.go:13-24`) with
a serializable value supporting two operations:

- ``observe_value(state, value, config)`` — the seqOp, bit-for-bit the
  semantics of ``SchemaNode.ObserveValue`` (`/root/reference/node.go:65-151`):
  type counting, integral-float demotion, const latch, format-candidate
  elimination, recursive array/object descent, the null-property rule.
- ``merge(a, b)`` — the combOp the reference never wrote (it serializes with
  a mutex; thread-safety of the fold, jsonschema.go:70-71, proves order
  insensitivity). Derivation in SURVEY.md §2.4. Associative + commutative,
  except ``first_value`` which carries an explicit total-order key.

Beyond reference parity, the state also tracks the constraint-mining
extensions mandated by the north_rule (numeric min/max, bounded distinct
set for enum detection) — the same merge algebra,
per the reference's own roadmap sketch (`/root/reference/ARCHITECTURE.md:646-691`,
`/root/reference/FEATURES.md:72-94,177-186`).
"""

from __future__ import annotations

import math

# Distinct values tracked per node before the enum sketch overflows.
DISTINCT_LIMIT = 64

# Go's integral-float demotion is an int64 round-trip (node.go:296-301):
# v == float64(int64(v)). The conversion clamps outside int64 range, so any
# float with |v| >= 2^63 fails the round-trip and stays "number" (2^63
# itself is exactly representable as float64 but not as int64).
INT64_MIN_F = float(-(2**63))
INT64_MAX_EXCL_F = float(2**63)


def is_go_integral(v: float) -> bool:
    """True iff Go demotes float64 ``v`` to "integer": finite, integral,
    and an exact int64 round-trip (node.go:296-301)."""
    return (
        math.isfinite(v)
        and INT64_MIN_F <= v < INT64_MAX_EXCL_F
        and v == math.floor(v)
    )


def get_primitive_type(value) -> str:
    """Value -> one of 7 type names (`/root/reference/node.go:292-313`).

    JSON numbers in Go arrive as float64 and integral values demote to
    "integer" iff they round-trip through int64 (node.go:296-301) — the
    conversion clamps for |v| >= 2^63, so huge integral floats such as 1e19
    stay "number". Python's json gives int for integral literals, so int
    maps to "integer" unconditionally (Go never sees a raw int from JSON).
    NaN/Inf (impossible from JSON, but possible from parquet floats) are
    "number": the round-trip equality fails for them too.
    """
    if value is None:
        return "null"
    if isinstance(value, bool):  # before int: bool is an int subclass
        return "boolean"
    if isinstance(value, int):
        return "integer"
    if isinstance(value, float):
        if is_go_integral(value):
            return "integer"
        return "number"
    if isinstance(value, str):
        return "string"
    if isinstance(value, (list, tuple)):
        return "array"
    if isinstance(value, dict):
        return "object"
    return "string"  # Go fallback (node.go:310-311)


def new_state() -> dict:
    """Fresh node state (reference NewSchemaNode, node.go:55-60)."""
    return {
        "types": {},  # type name -> count (observedTypes)
        "n": 0,  # sampleCount
        "str_n": 0,  # stringCount
        "fmts": None,  # surviving candidate format names; None = uninitialised
        "locked_fmts": [],  # formats pre-seeded by load(); never eliminated
        "const": None,  # (type_tag, value) latch
        "const_set": False,
        "const_differ": False,
        "first": None,  # (order_key, value) when examples enabled
        "items": None,  # child state for merged array items
        "props": {},  # property name -> child state
        # constraint-mining extensions (north_rule; not in reference output)
        "num_min": None,
        "num_max": None,
        "distinct": [],  # list of (tag, value); None = overflowed
    }


def _const_eq(a, b) -> bool:
    """Go raw interface equality (node.go:85): types must match too —
    bool(true) != float64(1) in Go even though True == 1 in Python."""
    return a[0] == b[0] and a[1] == b[1]


def _track_distinct(state: dict, tag: str, value) -> None:
    d = state["distinct"]
    if d is None:
        return
    key = (tag, value)
    for k in d:
        if k[0] == tag and k[1] == value:
            return
    if len(d) >= DISTINCT_LIMIT:
        state["distinct"] = None
    else:
        d.append(key)


def _track_numeric(state: dict, value) -> None:
    try:
        v = float(value)
    except OverflowError:
        v = math.inf if value > 0 else -math.inf
    if state["num_min"] is None or v < state["num_min"]:
        state["num_min"] = v
    if state["num_max"] is None or v > state["num_max"]:
        state["num_max"] = v


def observe_value(state: dict, value, config, order_key=None) -> None:
    """Fold one parsed JSON value into ``state`` in place.

    Exact semantics of SchemaNode.ObserveValue (node.go:65-151). ``order_key``
    is the stable total-order key used to make example capture ("first
    value") commutative under merge; None means local sequential mode where
    the running sample count is the order.
    """
    if config.examples and state["first"] is None:
        key = order_key if order_key is not None else ("seq", state["n"])
        if state["n"] == 0:
            state["first"] = (key, value)
    elif config.examples and order_key is not None:
        # distributed mode: keep the minimum-order value even within a
        # partition fold (rows may arrive unsorted)
        if state["first"] is not None and order_key < state["first"][0]:
            state["first"] = (order_key, value)

    state["n"] += 1
    tag = get_primitive_type(value)
    state["types"][tag] = state["types"].get(tag, 0) + 1

    # const latch for primitives only (node.go:79-90)
    if tag in ("string", "integer", "number", "boolean"):
        if not state["const_differ"]:
            # a zero latches as 0, as the columnar fold's int(-0.0) does:
            # 0 == -0.0, so a kept sign would depend on which came first
            cv = (tag, 0 if tag == "integer" and value == 0 else value)
            if not state["const_set"]:
                state["const"] = cv
                state["const_set"] = True
            elif not _const_eq(state["const"], cv):
                state["const_differ"] = True
                state["const"], state["const_set"] = None, False
        _track_distinct(state, tag, value)
        if tag in ("integer", "number") and not isinstance(value, bool):
            _track_numeric(state, value)

    if tag == "string" and isinstance(value, str):
        state["str_n"] += 1
        if state["fmts"] is None:
            state["fmts"] = list(config.format_names())
        if state["fmts"]:
            dm = config.detector_map()
            locked = state["locked_fmts"]
            state["fmts"] = [
                f
                for f in state["fmts"]
                if f in locked or (f in dm and dm[f].detector(value))
            ]
    elif tag == "array" and isinstance(value, (list, tuple)):
        if state["items"] is None:
            state["items"] = new_state()
        for i, item in enumerate(value):
            # nulls inside arrays ARE observed (unlike object properties)
            child_key = None if order_key is None else (order_key, i)
            observe_value(state["items"], item, config, child_key)
    elif tag == "object" and isinstance(value, dict):
        for k, v in value.items():
            if k not in state["props"]:
                state["props"][k] = new_state()
            # null property: node exists (appears in properties) but is NOT
            # observed -> count lags parent -> optional, no type pollution
            # (node.go:140-147)
            if v is not None:
                observe_value(state["props"][k], v, config, order_key)


def merge(a: dict | None, b: dict | None) -> dict | None:
    """Associative, commutative merge of two states (SURVEY.md §2.4).

    None is the identity (absent child). Returns a NEW state; inputs are
    not mutated (safe for tree aggregation with reused partials).
    """
    if a is None:
        return _copy(b) if b is not None else None
    if b is None:
        return _copy(a)

    out = new_state()
    out["types"] = dict(a["types"])
    for t, c in b["types"].items():
        out["types"][t] = out["types"].get(t, 0) + c
    out["n"] = a["n"] + b["n"]
    out["str_n"] = a["str_n"] + b["str_n"]

    # const: latch algebra (node.go:79-90 lifted to two-sided merge)
    if a["const_differ"] or b["const_differ"]:
        out["const_differ"] = True
    elif a["const_set"] and b["const_set"]:
        if _const_eq(a["const"], b["const"]):
            out["const"], out["const_set"] = a["const"], True
        else:
            out["const_differ"] = True
    elif a["const_set"]:
        out["const"], out["const_set"] = a["const"], True
    elif b["const_set"]:
        out["const"], out["const_set"] = b["const"], True
    if out["const_differ"]:
        out["const"] = None

    # format candidates: None identity, else order-preserving intersection;
    # locked (loaded) formats always survive (jsonschema.go:278-282)
    locked = list(dict.fromkeys(a["locked_fmts"] + b["locked_fmts"]))
    out["locked_fmts"] = locked
    if a["fmts"] is None:
        out["fmts"] = None if b["fmts"] is None else list(b["fmts"])
    elif b["fmts"] is None:
        out["fmts"] = list(a["fmts"])
    else:
        bset = set(b["fmts"])
        out["fmts"] = [f for f in a["fmts"] if f in bset or f in locked]
        for f in b["fmts"]:
            if f in locked and f not in out["fmts"]:
                out["fmts"].append(f)

    # examples: min order key wins (deterministic "first")
    fa, fb = a["first"], b["first"]
    if fa is not None and fb is not None:
        out["first"] = fa if fa[0] <= fb[0] else fb
    else:
        out["first"] = fa if fa is not None else fb

    out["items"] = merge(a["items"], b["items"])
    # a's keys in a's order, then b's new ones: the merged order (and the
    # constraint spec built from it) must not depend on PYTHONHASHSEED
    out["props"] = {}
    for k in [*a["props"], *(k for k in b["props"] if k not in a["props"])]:
        out["props"][k] = merge(a["props"].get(k), b["props"].get(k))

    # extensions
    lo = [v for v in (a["num_min"], b["num_min"]) if v is not None]
    out["num_min"] = min(lo) if lo else None
    hi = [v for v in (a["num_max"], b["num_max"]) if v is not None]
    out["num_max"] = max(hi) if hi else None
    if a["distinct"] is None or b["distinct"] is None:
        out["distinct"] = None
    else:
        seen = list(a["distinct"])
        keys = {(t, v) for t, v in seen}
        for tv in b["distinct"]:
            if (tv[0], tv[1]) not in keys:
                seen.append(tv)
                keys.add((tv[0], tv[1]))
        out["distinct"] = None if len(seen) > DISTINCT_LIMIT else seen

    return out


def _copy(s: dict) -> dict:
    out = dict(s)
    out["types"] = dict(s["types"])
    out["fmts"] = None if s["fmts"] is None else list(s["fmts"])
    out["locked_fmts"] = list(s["locked_fmts"])
    out["distinct"] = None if s["distinct"] is None else list(s["distinct"])
    out["items"] = _copy(s["items"]) if s["items"] is not None else None
    out["props"] = {k: _copy(v) for k, v in s["props"].items()}
    return out


def state_to_jsonable(s: dict | None):
    """Serializable form of a state (tuples -> tagged lists) for shipping
    partial aggregates executor->driver and for the checkpoint manifest
    (human-readable lineage, SURVEY.md §2.5 last row)."""
    if s is None:
        return None
    out = {k: s[k] for k in ("types", "n", "str_n", "fmts", "locked_fmts",
                             "const_set", "const_differ", "num_min", "num_max")}
    out["const"] = list(s["const"]) if s["const"] is not None else None
    out["first"] = (
        [list(s["first"][0]) if isinstance(s["first"][0], tuple) else s["first"][0],
         s["first"][1]]
        if s["first"] is not None
        else None
    )
    out["distinct"] = (
        None if s["distinct"] is None else [list(tv) for tv in s["distinct"]]
    )
    out["items"] = state_to_jsonable(s["items"])
    out["props"] = {k: state_to_jsonable(v) for k, v in s["props"].items()}
    return out


def _deep_tuple(k):
    """JSON round-trips tuples to lists; order keys nest ((row_key, i) for
    array items), so rebuild tuples recursively — comparisons between a
    deserialized partial and an in-memory one must stay well-typed."""
    if isinstance(k, list):
        return tuple(_deep_tuple(x) for x in k)
    return k


def state_from_jsonable(d) -> dict | None:
    if d is None:
        return None
    s = new_state()
    for k in ("types", "n", "str_n", "fmts", "locked_fmts", "const_set",
              "const_differ", "num_min", "num_max"):
        s[k] = d[k]
    s["const"] = tuple(d["const"]) if d["const"] is not None else None
    # older markers may hold a differed latch with const_set True
    s["const_set"] = s["const_set"] and not s["const_differ"]
    if d["first"] is not None:
        s["first"] = (_deep_tuple(d["first"][0]), d["first"][1])
    s["distinct"] = (
        None if d["distinct"] is None else [tuple(tv) for tv in d["distinct"]]
    )
    s["items"] = state_from_jsonable(d["items"])
    s["props"] = {k: state_from_jsonable(v) for k, v in d["props"].items()}
    return s


def get_primary_type(state: dict) -> str:
    """Most frequent observed type (node.go:231-243).

    The reference iterates a Go map — tie order is nondeterministic and its
    tests never exercise ties. We fix the deterministic tie-break
    (max count, then lexicographically smallest name) and document the
    divergence (SURVEY.md §7.3 item 3).
    """
    if not state["types"]:
        return ""
    return max(state["types"].items(), key=lambda kv: (kv[1], _neg_str(kv[0])))[0]


class _neg_str(str):
    """Reverses lexicographic comparison so max() picks the smallest name."""

    def __lt__(self, other):
        return str.__gt__(self, other)

    def __gt__(self, other):
        return str.__lt__(self, other)


def to_schema(
    state: dict,
    config,
    predefined_override: str | None = None,
    root_predefined: dict | None = None,
) -> dict:
    """Render a state to a JSON-Schema dict (SchemaNode.ToSchema,
    node.go:156-228), bug-for-bug including the union-type overwrite when
    the primary type is array/object (node.go:201,207).

    ``predefined_override`` replaces the reference's per-node stamp
    (jsonschema.go:95-102) — in the distributed engine predefined types are
    config, applied at finalize (idempotent by construction).
    ``root_predefined`` is the field->type map applied to the IMMEDIATE
    properties of this node only (the reference stamps root-level
    objectProperties only, jsonschema.go:96-101).
    """
    if predefined_override is not None:
        return _apply_predefined(state, config, predefined_override)

    schema: dict = {}
    primary = get_primary_type(state)

    if len(state["types"]) > 1:
        types = sorted(t for t in state["types"] if t != "null")
        if len(types) == 1:
            schema["type"] = types[0]
        elif len(types) > 1:
            schema["type"] = types
    else:
        # Go assigns primaryType unconditionally (node.go:182) — for a node
        # with zero observations (null-only object property) this is the
        # empty string, which marshals as "type":"" (interface omitempty
        # only drops nil)
        schema["type"] = primary

    if state["const_set"] and not state["const_differ"]:
        schema["const"] = state["const"][1]

    if state["first"] is not None and state["first"][1] is not None:
        schema["example"] = state["first"][1]

    if primary == "string":
        if state["str_n"] > 0 and state["fmts"]:
            schema["format"] = state["fmts"][0]
    elif primary == "array":
        schema["type"] = "array"
        if state["items"] is not None:
            schema["items"] = to_schema(state["items"], config)
    elif primary == "object":
        schema["type"] = "object"
        if state["props"]:
            props = {}
            required = []
            rp = root_predefined or {}
            for key, child in state["props"].items():
                props[key] = to_schema(child, config, rp.get(key))
                if child["n"] == state["n"]:
                    required.append(key)
            schema["properties"] = props
            if required:
                schema["required"] = sorted(required)
    return schema


def _apply_predefined(state: dict, config, ptype: str) -> dict:
    """Render a forced type (applyPredefinedType, node.go:258-289):
    forced scalars drop const/format/example; forced object drops required."""
    schema: dict = {}
    if ptype == "datetime":
        schema["type"] = "string"
        schema["format"] = "date-time"
    elif ptype in ("string", "boolean", "number", "integer"):
        schema["type"] = ptype
    elif ptype == "array":
        schema["type"] = "array"
        if state["items"] is not None:
            schema["items"] = to_schema(state["items"], config)
    elif ptype == "object":
        schema["type"] = "object"
        if state["props"]:
            schema["properties"] = {
                k: to_schema(v, config) for k, v in state["props"].items()
            }
    return schema


def finalize(state: dict, config) -> dict:
    """Root render: predefined overrides on root-level properties only
    (jsonschema.go:95-102), then stamp $schema (jsonschema.go:105-115)."""
    schema = to_schema(state, config, root_predefined=config.predefined or None)
    if "$schema" not in schema:
        schema["$schema"] = config.schema_version
    return schema
