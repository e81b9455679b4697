"""Distributed inference: Spark fold must byte-match the sequential local
oracle under hostile partitionings (SURVEY.md §5.2 item 2 — the distributed
analogue of the reference's concurrency tests jsonschema_test.go:775-885)."""

import json
import math
import os
from datetime import timezone

import pyarrow.parquet as pq
import pytest

from jsonschema_infer_spark import SchemaInferrer
from jsonschema_infer_spark.operators.infer_spark import (
    _render_ts_us,
    infer_dataframe,
)

SF = "/root/testdata/sf0.001"


def local_oracle_rows(table) -> str:
    """Sequential fold of the table's rows as JSON-ish documents, timestamps
    rendered RFC 3339 — the ground truth the columnar fold must match."""
    g = SchemaInferrer()
    for row in table.to_pylist():
        d = dict(row)
        for k, v in d.items():
            if hasattr(v, "timestamp"):  # datetime
                us = int(v.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
                d[k] = _render_ts_us(us)
        g.add_parsed_sample(d)
    return g.generate()


@pytest.mark.parametrize("nparts", [1, 3, 8])
def test_columnar_matches_local_oracle_events(spark, nparts):
    df = spark.read.parquet(f"{SF}/events.parquet")
    res = infer_dataframe(df, num_partitions=nparts)
    expected = local_oracle_rows(pq.read_table(f"{SF}/events.parquet"))
    assert res.schema_json == expected
    assert res.total_rows == 1000


@pytest.mark.parametrize(
    "table", ["lineitem", "orders", "customer", "documents", "embeddings"]
)
def test_columnar_matches_local_oracle_all_tables(spark, table):
    df = spark.read.parquet(f"{SF}/{table}.parquet")
    res = infer_dataframe(df, num_partitions=4)
    expected = local_oracle_rows(pq.read_table(f"{SF}/{table}.parquet"))
    assert res.schema_json == expected


def test_json_mode_matches_local_oracle(spark):
    df = spark.read.parquet(f"{SF}/events.parquet")
    res = infer_dataframe(df, mode="json", json_column="props", num_partitions=5)
    g = SchemaInferrer()
    for s in pq.read_table(f"{SF}/events.parquet").column("props").to_pylist():
        g.add_sample(s)
    assert res.schema_json == g.generate()


def test_transcript_schema_shape(spark, tx_paths):
    df = spark.read.parquet(tx_paths["clean"])
    res = infer_dataframe(df, num_partitions=6)
    s = res.schema
    assert s["type"] == "object"
    assert sorted(s["properties"]) == [
        "conv_id", "role", "text", "tool", "ts", "turn_idx",
    ]
    assert s["properties"]["ts"] == {"type": "string", "format": "date-time"}
    assert s["properties"]["turn_idx"]["type"] == "integer"
    # tool is null unless role='tool' -> optional
    assert "tool" not in s["required"]
    assert set(s["required"]) == {"conv_id", "role", "text", "ts", "turn_idx"}
    # mined extensions: role enum bounded, turn_idx range present
    role_state = res.state["props"]["role"]
    assert {v for _, v in role_state["distinct"]} == {
        "user", "assistant", "system", "tool",
    }
    idx_state = res.state["props"]["turn_idx"]
    assert idx_state["num_min"] == 0


def test_max_samples_limit(spark):
    from jsonschema_infer_spark.config import default_config

    df = spark.read.parquet(f"{SF}/events.parquet")
    res = infer_dataframe(df, config=default_config(max_samples=100))
    assert res.total_rows == 100


def test_examples_need_order_cols_in_distributed_mode(spark):
    from jsonschema_infer_spark.config import default_config

    df = spark.read.parquet(f"{SF}/events.parquet")
    with pytest.raises(NotImplementedError):
        infer_dataframe(df, config=default_config(examples=True))


def local_oracle_sorted_examples(table, order_cols) -> str:
    """Sequential fold with examples over order-sorted rows — the ground
    truth for distributed capture under any partitioning."""
    rows = table.to_pylist()
    rows.sort(key=lambda r: tuple(r[c] for c in order_cols))
    g = SchemaInferrer(examples=True)
    for row in rows:
        d = dict(row)
        for k, v in d.items():
            if hasattr(v, "timestamp"):
                us = int(v.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
                d[k] = _render_ts_us(us)
        g.add_parsed_sample(d)
    return g.generate()


@pytest.mark.parametrize("nparts", [1, 3, 8])
def test_examples_columnar_matches_sorted_local_oracle(spark, nparts):
    from jsonschema_infer_spark.config import default_config

    df = spark.read.parquet(f"{SF}/events.parquet").repartition(nparts)
    res = infer_dataframe(
        df, config=default_config(examples=True), order_cols=["event_id"]
    )
    expected = local_oracle_sorted_examples(
        pq.read_table(f"{SF}/events.parquet"), ["event_id"]
    )
    assert res.schema_json == expected


def test_examples_json_mode_matches_sorted_local_oracle(spark):
    from jsonschema_infer_spark.config import default_config

    df = spark.read.parquet(f"{SF}/events.parquet").repartition(7)
    res = infer_dataframe(
        df,
        mode="json",
        json_column="props",
        config=default_config(examples=True),
        order_cols=["event_id"],
    )
    rows = pq.read_table(f"{SF}/events.parquet").select(
        ["event_id", "props"]
    ).to_pylist()
    rows.sort(key=lambda r: r["event_id"])
    g = SchemaInferrer(examples=True)
    for r in rows:
        if r["props"] is not None:
            g.add_sample(r["props"])
    assert res.schema_json == g.generate()


def test_examples_nested_hostile_partitioning(spark):
    """Reference examples semantics (jsonschema_test.go:1168-1265) through
    the DISTRIBUTED fold: nested objects, arrays (child key = (row_key, i)),
    null items, optional props — byte-equal to the sorted sequential fold
    regardless of row placement."""
    import json as _json

    from jsonschema_infer_spark.config import default_config

    docs = [
        {"name": "John", "age": 30, "active": True, "tags": ["go", "json"],
         "user": {"name": "John", "email": "john@example.com"}},
        {"name": "Jane", "age": 25, "active": False, "tags": ["test", None],
         "user": {"name": "Jane", "email": "jane@example.com"}, "extra": 1.5},
        {"name": "Zed", "age": 41, "active": True, "tags": [],
         "user": {"name": "Zed", "email": "z@example.com"}, "extra": None},
    ]
    rows = [(i, _json.dumps(d)) for i, d in enumerate(docs)]
    # reverse + spread across partitions: the minimal key is NOT first
    df = spark.createDataFrame(rows[::-1], "ord long, doc string").repartition(3)
    res = infer_dataframe(
        df,
        mode="json",
        json_column="doc",
        config=default_config(examples=True),
        order_cols=["ord"],
    )
    g = SchemaInferrer(examples=True)
    for d in docs:
        g.add_parsed_sample(d)
    assert res.schema_json == g.generate()
    props = res.schema["properties"]
    assert props["tags"]["example"] == ["go", "json"]
    assert props["tags"]["items"]["example"] == "go"
    assert props["user"]["example"] == {"name": "John", "email": "john@example.com"}
    assert props["extra"]["example"] == 1.5  # first OBSERVED (non-null) value


def test_checkpoint_resume(spark, tx_paths, tmp_path):
    df = spark.read.parquet(tx_paths["clean"])
    full = infer_dataframe(df)
    ck = str(tmp_path / "ck")

    def manifest():
        with open(os.path.join(ck, "manifest.json")) as f:
            return json.load(f)

    r1 = infer_dataframe(df, checkpoint_dir=ck)
    m1 = manifest()
    assert m1["complete"]
    assert r1.schema_json == full.schema_json
    pids = [r["pid"] for r in m1["per_task"]]
    assert pids == list(range(m1["num_partitions"]))
    assert not any(r["resumed"] for r in m1["per_task"])
    # partition 0 never committed: the resume folds it and nothing else
    os.remove(os.path.join(ck, "states", "state_000000.json"))
    r2 = infer_dataframe(df, checkpoint_dir=ck)
    m2 = manifest()
    assert m2["complete"]
    assert [r["pid"] for r in m2["per_task"]] == pids
    assert [r["pid"] for r in m2["per_task"] if not r["resumed"]] == [0]
    assert r2.schema_json == full.schema_json
    assert r2.total_rows == full.total_rows
    # idempotent third run folds nothing
    infer_dataframe(df, checkpoint_dir=ck)
    assert all(r["resumed"] for r in manifest()["per_task"])
    # config change is rejected
    from jsonschema_infer_spark.config import default_config, DRAFT06

    with pytest.raises(ValueError):
        infer_dataframe(
            df, config=default_config(schema_version=DRAFT06), checkpoint_dir=ck
        )
    # a resumed partition behind a repartition would still pay the shuffle
    with pytest.raises(ValueError, match="num_partitions"):
        infer_dataframe(df, num_partitions=2, checkpoint_dir=ck)


def test_nested_fold_row_form_matches_duckdb_recursive_oracle(spark):
    """VERDICT r4 item 3: the nested fold's row-form (path, type, required,
    format) against the recursive-CTE DuckDB re-derivation — on a corpus
    far more hostile than the fixture's flat {"k": int} payloads: unions
    with null-skip, objects through arrays, the "type":"" null-only quirk,
    primary-type tie-break pruning (integer-vs-object tie renders the
    union but NO children), empty-array items nodes, null-only array
    items, huge ints (python int -> integer unconditionally; 1e19 double
    -> number), multi-format strings in registry order, and a SQL-NULL
    payload row (skipped by both sides)."""
    import duckdb

    import __spark_entry__ as E
    from jsonschema_infer_spark.operators.infer_spark import infer_dataframe
    from jsonschema_infer_spark.plans.diff import schema_path_rows

    docs = [
        '{"tie": {"c": 1}, "aa": [[1, 2], ["x"]], "big": 9999999999999999999,'
        ' "fmt2": "127.0.0.1", "e": []}',
        '{"tie": 3, "aa": [[3.5]], "big": 1e19, "fmt2": "10.0.0.1", "e": []}',
        '{"nul": [null, null]}',
        '{"k": 5, "a": {"x": 1.5, "y": "2020-01-01T00:00:00Z"},'
        ' "arr": [1, null, 2.5], "maybe": null}',
        '{"k": 7.0, "a": {"x": 2}, "arr": [], "s": "hello"}',
        '{"k": 9, "a": {"x": "mixed"}, "mix": {"z": 1}}',
        '{"mix": "not an object", "u": "550e8400-e29b-41d4-a716-446655440000"}',
        '{"u": "550e8400-e29b-41d4-a716-446655440001",'
        ' "nested": {"deep": {"deeper": [{"w": true}, {"w": false, "q": null}]}}}',
        None,
    ]
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    res = infer_dataframe(df, mode="json", json_column="props", num_partitions=4)
    engine_rows = schema_path_rows(res.schema)

    con = duckdb.connect()
    con.execute("CREATE TABLE events(props VARCHAR)")
    con.executemany("INSERT INTO events VALUES (?)", [(d,) for d in docs])
    oracle_rows = [tuple(r) for r in con.execute(
        E._sql_infer_props_json_schema()
    ).fetchall()]

    assert engine_rows == oracle_rows
    # the hostile corpus must actually exercise the hard branches
    paths = dict((p, (t, req, f)) for p, t, req, f in engine_rows)
    assert paths["tie"][0] == "['integer', 'object']"
    assert "tie.c" not in paths  # primary tie-break pruned the children
    assert paths["maybe"] == ("", False, "")  # null-only property quirk
    assert paths["e[]"][0] == ""  # empty-array items node exists, type ''
    assert paths["nul[]"][0] == "null"  # array nulls ARE observed
    assert paths["big"][0] == "['integer', 'number']"
    assert paths["fmt2"] == ("string", False, "ipv4")
    assert paths["nested.deep.deeper[].w"] == ("boolean", True, "")


def _norm_state(st):
    """A SchemaState with the order-dependent parts put in a canonical
    form: distinct values sorted, zero type counts dropped, NaN consts
    made comparable."""
    if st is None:
        return None
    out = {}
    for k, v in st.items():
        if k == "props":
            out[k] = {name: _norm_state(c) for name, c in v.items()}
        elif k == "items":
            out[k] = _norm_state(v)
        elif k == "distinct":
            if v is None:
                out[k] = None
            else:
                out[k] = sorted(repr((t, x)) for t, x in v)
        elif k == "types":
            out[k] = {t: n for t, n in v.items() if n}
        elif k == "const" and v is not None:
            t, x = v
            out[k] = (t, "nan") if isinstance(x, float) and math.isnan(x) else v
        else:
            out[k] = v
    return out


def _assert_partition_invariant(df):
    one = infer_dataframe(df, num_partitions=1)
    four = infer_dataframe(df, num_partitions=4)
    assert four.schema_json == one.schema_json
    assert four.total_rows == one.total_rows
    assert _norm_state(four.state) == _norm_state(one.state)


def test_edge_columns(spark):
    # NaN/inf, integral floats, formats, empty and all-null strings: the
    # columnar fold's partials must merge to the single-partition state
    rows = []
    for i in range(300):
        rows.append(
            (
                i,
                42,  # const int
                2.0,  # integral const float -> integer
                float("nan") if i == 7 else float(i) / 3.0,
                float("inf") if i == 3 else float(i),
                f"550e8400-e29b-41d4-a716-44665544{i % 100:04d}"[:36],
                f"user{i}@example.com",
                "" if i % 50 == 0 else f"text value {i % 5}",
                None,  # all-null string
                i % 2 == 0,
                "red" if i % 3 == 0 else ("green" if i % 3 == 1 else "blue"),
            )
        )
    df = spark.createDataFrame(
        rows,
        "id long, c_int long, c_float double, with_nan double, with_inf double, "
        "uuid_col string, email_col string, texty string, nul string, "
        "flag boolean, enum3 string",
    )
    _assert_partition_invariant(df)


def test_timestamp_fractions(spark):
    df = spark.sql(
        """
        SELECT * FROM VALUES
          (TIMESTAMP'2026-01-01 00:00:00'),
          (TIMESTAMP'2026-01-01 00:00:00.5'),
          (TIMESTAMP'2026-01-01 00:00:00.123'),
          (TIMESTAMP'2026-01-01 00:00:00.123456'),
          (CAST(NULL AS TIMESTAMP))
        AS t(ts)
        """
    )
    _assert_partition_invariant(df)


def test_huge_double_demotion(spark):
    # Go's int64 round-trip rule (node.go:296-301): |v| >= 2^63 integral
    # floats are "number"; -2^63 is exactly representable -> "integer"
    rows = [
        (1e19,),
        (-3.4028e38,),
        (float(2**63),),
        (float(-(2**63)),),
        (5.0,),
        (2.5,),
    ]
    df = spark.createDataFrame(rows, "d double")
    st = infer_dataframe(df, num_partitions=2).state["props"]["d"]
    assert st["types"] == {"number": 4, "integer": 2}
    tags = dict((v, t) for t, v in st["distinct"])
    assert tags[5] == "integer" and tags[2.5] == "number"
    assert tags[1e19] == "number" and tags[float(2**63)] == "number"
    assert tags[-(2**63)] == "integer"


def test_timestamp_render_len_columnar(spark):
    # the columnar fold renders a timestamp as trimmed RFC 3339
    # (frac .5 -> ".5")
    df = spark.sql("SELECT TIMESTAMP'2026-01-01 00:00:00.5' AS ts")
    res = infer_dataframe(df, num_partitions=1)
    st = res.state["props"]["ts"]
    assert st["const"] == ("string", "2026-01-01T00:00:00.5Z")
