"""Properties of the associative merge (SURVEY.md §2.4).

These replace the reference's concurrency tests
(`/root/reference/jsonschema_test.go:775-885`): the Go library proves
order-insensitivity by hammering a mutex; the distributed engine proves it
by algebra — fold(any partitioning, any order) == sequential fold.

Run with hypothesis for random JSON documents plus the fixed corpus from
FIXTURES.md §B.
"""

import json

from hypothesis import given, settings, strategies as st

from jsonschema_infer_spark.config import default_config
from jsonschema_infer_spark.operators import state as S
from jsonschema_infer_spark.plans.render import render_schema

CFG = default_config()
CFG_EX = default_config(examples=True)


# JSON value strategy (bounded depth/size to keep runtime sane)
json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**31), max_value=2**31),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=20),
    st.sampled_from(
        ["2023-01-15T10:30:00Z", "a@b.com", "192.168.1.1", "fe80::1",
         "https://x.org", "550e8400-e29b-41d4-a716-446655440000", "item"]
    ),
)
json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(max_size=8), children, max_size=4),
    ),
    max_leaves=12,
)
documents = st.lists(json_values, min_size=1, max_size=12)


def fold(docs, cfg=CFG, keyed=False):
    st_ = S.new_state()
    for i, d in enumerate(docs):
        S.observe_value(st_, d, cfg, order_key=(i,) if keyed else None)
    return st_


def render(state, cfg=CFG):
    return render_schema(S.finalize(state, cfg))


@given(documents, st.integers(min_value=1, max_value=5))
@settings(max_examples=150, deadline=None)
def test_any_partitioning_equals_sequential(docs, nparts):
    """Splitting the sample stream across partitions and merging must give a
    byte-identical schema to the sequential fold."""
    seq = render(fold(docs))
    parts = [fold(docs[i::nparts]) for i in range(nparts)]
    merged = None
    for p in parts:
        merged = S.merge(merged, p)
    assert render(merged) == seq


@given(documents)
@settings(max_examples=100, deadline=None)
def test_merge_commutative(docs):
    a = fold(docs[::2])
    b = fold(docs[1::2])
    ab, ba = S.merge(a, b), S.merge(b, a)
    if a["n"] and b["n"]:
        assert render(ab) == render(ba)


@given(documents)
@settings(max_examples=100, deadline=None)
def test_merge_associative(docs):
    thirds = [fold(docs[i::3]) for i in range(3)]
    left = S.merge(S.merge(thirds[0], thirds[1]), thirds[2])
    right = S.merge(thirds[0], S.merge(thirds[1], thirds[2]))
    assert render(left) == render(right)


@given(documents)
@settings(max_examples=100, deadline=None)
def test_merge_identity_and_no_mutation(docs):
    a = fold(docs)
    snapshot = json.dumps(_jsonable(a), sort_keys=True, default=str)
    assert S.merge(a, None) is not a  # returns a copy
    assert render(S.merge(None, a)) == render(a)
    b = fold(docs[:1])
    S.merge(a, b)
    assert json.dumps(_jsonable(a), sort_keys=True, default=str) == snapshot


@given(documents)
@settings(max_examples=75, deadline=None)
def test_examples_deterministic_under_merge(docs):
    """With order keys, the merged 'first value' equals the sequential
    first — regardless of partitioning (SURVEY.md §2.4 firstValue row)."""
    seq = render(fold(docs, CFG_EX, keyed=True), CFG_EX)
    # fold halves with their ORIGINAL order keys
    sa, sb = S.new_state(), S.new_state()
    for i, d in enumerate(docs):
        tgt = sa if i % 2 == 0 else sb
        S.observe_value(tgt, d, CFG_EX, order_key=(i,))
    assert render(S.merge(sa, sb), CFG_EX) == seq
    assert render(S.merge(sb, sa), CFG_EX) == seq


def test_concurrent_add_sample_equivalent():
    """Port of TestConcurrentAddSample (jsonschema_test.go:775-835): 8 docs
    in any split -> 3 required fields with stable types."""
    samples = [
        {"name": "John", "age": 30, "active": True},
        {"name": "Jane", "age": 25, "active": False},
        {"name": "Bob", "age": 35, "active": True},
        {"name": "Alice", "age": 28, "active": False},
        {"name": "Charlie", "age": 32, "active": True},
        {"name": "Diana", "age": 27, "active": False},
        {"name": "Eve", "age": 29, "active": True},
        {"name": "Frank", "age": 31, "active": False},
    ]
    for nparts in (1, 2, 3, 8):
        parts = [fold(samples[i::nparts]) for i in range(nparts)]
        merged = None
        for p in parts:
            merged = S.merge(merged, p)
        schema = json.loads(render(merged))
        assert len(schema["required"]) == 3
        assert schema["properties"]["name"]["type"] == "string"
        assert schema["properties"]["age"]["type"] == "integer"
        assert schema["properties"]["active"]["type"] == "boolean"


def _jsonable(s):
    if s is None:
        return None
    out = dict(s)
    out["items"] = _jsonable(s["items"])
    out["props"] = {k: _jsonable(v) for k, v in s["props"].items()}
    out["const"] = repr(s["const"])
    out["first"] = repr(s["first"])
    out["distinct"] = repr(s["distinct"])
    return out


# --- canonical const latch ------------------------------------------------------

_columns = st.fixed_dictionaries({
    "s": st.lists(st.one_of(st.none(), st.sampled_from(["a", "b", "2023-01-15T10:30:00Z"])),
                  min_size=1, max_size=40),
    "i": st.lists(st.one_of(st.none(), st.integers(-3, 3)), min_size=1, max_size=40),
    "f": st.lists(st.one_of(st.none(), st.sampled_from([0.5, 1.0, -2.0, 0.0, -0.0])),
                  min_size=1, max_size=40),
    "b": st.lists(st.one_of(st.none(), st.booleans()), min_size=1, max_size=40),
})


def _distinct_sorted(s):
    """The raw state with only its distinct list sorted: a float column's
    per-batch uniques come sorted, so their order follows the batches."""
    out = dict(s, props={k: _distinct_sorted(v) for k, v in s["props"].items()})
    if s["distinct"] is not None:
        out["distinct"] = sorted(s["distinct"], key=repr)
    return out


@given(_columns, st.lists(st.integers(0, 40), max_size=6),
       st.lists(st.integers(0, 40), max_size=6))
@settings(max_examples=150, deadline=None)
def test_const_latch_independent_of_batch_boundaries(cols, cuts_a, cuts_b):
    """The same rows folded columnar with different batch boundaries, or
    as a merge of per-batch states, give equal raw states (up to distinct
    order), and the row-by-row fold the same const latch: a latch that has
    differed is one value (const_set False) however it got there, a zero
    latches as 0 whatever its sign, and a marker that still holds the old
    form loads as it."""
    import pyarrow as pa

    from jsonschema_infer_spark.operators.infer_spark import fold_batches_columnar

    n = min(len(v) for v in cols.values())
    table = pa.table({k: pa.array(v[:n]) for k, v in cols.items()})

    def batches(cuts):
        edges = sorted({0, n, *(c for c in cuts if c < n)})
        return [table.slice(a, b - a).to_batches()[0] for a, b in zip(edges, edges[1:])]

    states = [
        _distinct_sorted(fold_batches_columnar(iter(batches(c)), CFG)[0])
        for c in (cuts_a, cuts_b)
    ]
    rows = fold(table.to_pylist())
    per_batch = [fold_batches_columnar(iter([b]), CFG)[0] for b in batches(cuts_a)]
    merged = None
    for p in per_batch:
        merged = S.merge(merged, p)
    assert states[1] == _distinct_sorted(merged) == states[0]

    def latch(node):
        return node["const"], node["const_set"], node["const_differ"]

    for k in cols:
        assert latch(rows["props"][k]) == latch(states[0]["props"][k])
    legacy = S.state_to_jsonable(states[0])
    for k, node in legacy["props"].items():
        if node["const_differ"]:
            node["const_set"] = True  # how a rev-16 marker could hold it
    assert _distinct_sorted(S.state_from_jsonable(legacy)) == states[0]


_MERGE_IN_A_FRESH_INTERPRETER = r"""
import json, sys
from jsonschema_infer_spark.checkpoint import config_fingerprint
from jsonschema_infer_spark.config import default_config
from jsonschema_infer_spark.operators import state as S, validate as V
from jsonschema_infer_spark.plans.render import render_schema

with open(sys.argv[1]) as f:
    states = [S.state_from_jsonable(s) for s in json.load(f)]
merged = None
for st in states:
    merged = S.merge(merged, st)
config = default_config()
schema = S.finalize(merged, config)
spec = V.constraint_spec(schema, state=merged)
layout = {"fused": ["conv_id", "turn_idx", 1], "violation_spec": spec}
print(json.dumps({
    "props": list(merged["props"]),
    "spec": spec,
    "fingerprint": config_fingerprint(config, layout, None),
    "schema": render_schema(schema, config.indent),
}))
"""


def test_merged_property_order_independent_of_hash_seed(tmp_path):
    """The same task states merged in two interpreters, under
    PYTHONHASHSEED=1 and =2, give one property order, so one
    constraint_spec, one fused-scan config_fingerprint and one rendered
    schema. The merge keeps the left state's order and appends the right
    one's new keys; the last task lists its columns in another order."""
    import os
    import subprocess
    import sys

    from jsonschema_infer_spark.operators.infer_spark import fold_batches_columnar
    from jsonschema_infer_spark.sources.transcripts import generate_transcripts

    table = generate_transcripts(300, seed=3)
    cut = table.num_rows // 4
    tasks = [table.slice(i * cut, cut) for i in range(3)]
    tasks.append(table.slice(3 * cut).select(table.column_names[::-1]))
    states = [
        S.state_to_jsonable(fold_batches_columnar(iter(t.to_batches()), CFG)[0])
        for t in tasks
    ]
    path = tmp_path / "states.json"
    path.write_text(json.dumps(states))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = [
        json.loads(subprocess.run(
            [sys.executable, "-c", _MERGE_IN_A_FRESH_INTERPRETER, str(path)],
            cwd=root, capture_output=True, text=True, check=True,
            env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout)
        for seed in ("1", "2")
    ]
    assert outs[0] == outs[1]
    assert outs[0]["props"] == table.column_names
