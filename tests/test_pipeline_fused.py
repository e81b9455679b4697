"""Fused one-pass pipeline == the standalone operators, value-identical.

The fused scan (pipeline.infer_and_integrity_parquet) must return exactly
the InferResult of infer_dataframe AND the integrity counts of
transcript_integrity_summary / duplicate_keys / turn_ordering_violations
on the same files — the folds are shared code, so any divergence is a
wiring bug in the tee or the spill reduce. A checkpointed run resumes
from its task markers and equals a fresh one (fault-injection tests)."""

import json
import os

import pytest

from jsonschema_infer_spark.config import default_config
from jsonschema_infer_spark.operators import validate as V
from jsonschema_infer_spark.operators.infer_spark import infer_dataframe
from jsonschema_infer_spark.operators.pipeline import infer_and_integrity_parquet
from test_spark_infer import _norm_state


def _operator_counts(df) -> dict:
    """Integrity counts derived from the row-level explain APIs."""
    excess = sum(
        r.dup_count - 1
        for r in V.duplicate_keys(df, ["conv_id", "turn_idx"]).collect()
    )
    return {
        "dup_rows_excess": excess,
        "ordering_violations": V.turn_ordering_violations(df).count(),
    }


def test_fused_matches_standalone_on_violated(spark, tx_paths):
    viol = spark.read.parquet(tx_paths["viol"])
    want_infer = infer_dataframe(viol)
    res, integ = infer_and_integrity_parquet(
        spark, tx_paths["viol"], rg_per_task=1
    )
    assert res.schema_json == want_infer.schema_json
    assert res.total_rows == want_infer.total_rows
    assert _norm_state(res.state) == _norm_state(want_infer.state)
    assert integ == V.transcript_integrity_summary(viol)
    assert integ == _operator_counts(viol)
    assert integ["dup_rows_excess"] > 0 and integ["ordering_violations"] > 0


def test_fused_matches_standalone_on_clean(spark, tx_paths):
    want_infer = infer_dataframe(spark.read.parquet(tx_paths["clean"]))
    res, integ = infer_and_integrity_parquet(
        spark, tx_paths["clean"], rg_per_task=2
    )
    assert res.schema_json == want_infer.schema_json
    assert res.total_rows == want_infer.total_rows
    assert _norm_state(res.state) == _norm_state(want_infer.state)
    assert integ == {"dup_rows_excess": 0, "ordering_violations": 0}


def test_fused_distributed_reduce_matches(spark, tx_paths, monkeypatch):
    # force the merge into Spark tasks (zero driver-merge budget); the
    # oracle is the row-level SQL API, not the same merge again
    monkeypatch.setattr(V, "_DRIVER_MERGE_MAX_BYTES", 0)
    _, integ = infer_and_integrity_parquet(
        spark, tx_paths["viol"], rg_per_task=1
    )
    tov = V.turn_ordering_violations(spark.read.parquet(tx_paths["viol"])).collect()
    assert integ == {
        "dup_rows_excess": sum(r.n_turns - r.n_distinct for r in tov),
        "ordering_violations": len(tov),
    }
    assert integ["dup_rows_excess"] > 0 and integ["ordering_violations"] > 0


def test_fused_lineage_one_entry_per_task(spark, tx_paths, tmp_path):
    import pyarrow.parquet as pq

    # five row groups -> five tasks at rg_per_task=1
    path = str(tmp_path / "viol5.parquet")
    table = pq.read_table(tx_paths["viol"])
    pq.write_table(table, path, row_group_size=-(-table.num_rows // 5))
    res, _ = infer_and_integrity_parquet(spark, path, rg_per_task=1)
    assert sorted(i for i, _, _ in res.partitions) == list(range(5))
    assert sum(rows for _, rows, _ in res.partitions) == res.total_rows > 0
    assert all(secs > 0 for _, _, secs in res.partitions)


def test_fused_examples_capture_matches(spark, tx_paths):
    cfg = default_config(examples=True)
    want = infer_dataframe(
        spark.read.parquet(tx_paths["viol"]),
        config=cfg,
        order_cols=["conv_id", "turn_idx"],
    )
    res, _ = infer_and_integrity_parquet(
        spark,
        tx_paths["viol"],
        config=cfg,
        rg_per_task=1,
        order_cols=["conv_id", "turn_idx"],
    )
    assert res.schema_json == want.schema_json


def test_fused_rejects_max_samples(spark, tx_paths):
    with pytest.raises(ValueError):
        infer_and_integrity_parquet(
            spark, tx_paths["viol"], config=default_config(max_samples=10)
        )


def _multi_rg_copy(tx_paths, tmp_path, name="viol_multi_rg.parquet"):
    """The violated fixture re-written with 7 row groups (7 fused tasks at
    rg_per_task=1)."""
    import pyarrow.parquet as pq

    src = pq.read_table(tx_paths["viol"])
    path = str(tmp_path / name)
    pq.write_table(src, path, row_group_size=max(src.num_rows // 6, 1))
    return path


def _clean_contract(spark, tx_paths) -> list:
    """The constraint spec of a contract inferred from the clean fixture,
    for validating the violated one."""
    clean = infer_dataframe(spark.read.parquet(tx_paths["clean"]))
    temporal = V.temporal_columns(spark.read.parquet(tx_paths["viol"]))
    return V.constraint_spec(clean.schema, state=clean.state, temporal_cols=temporal)


def _logged_counts(log) -> dict:
    """The three constraints inject_violations breaks, with its log's
    counts; every other constraint of the clean contract counts 0."""
    return {
        "required:role": len(log["null_role_rows"]),
        "required:text": len(log["null_text_rows"]),
        "enum:role": len(log["bad_role_rows"]),
    }


def _mtimes(d) -> dict:
    return {fn: os.stat(os.path.join(d, fn)).st_mtime_ns for fn in os.listdir(d)}


def test_fused_checkpoint_resume_and_lineage(spark, tx_paths, tmp_path):
    """Crash between commits: a task spilled its part file but died before
    its marker. The resume reruns only that task and equals a fresh run;
    the manifest carries one lineage entry per task."""
    path = _multi_rg_copy(tx_paths, tmp_path)
    spec = _clean_contract(spark, tx_paths)
    ckpt = str(tmp_path / "fused_ckpt")
    states, parts = os.path.join(ckpt, "states"), os.path.join(ckpt, "integrity")

    infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt, violation_spec=spec
    )
    markers, spills = _mtimes(states), _mtimes(parts)
    assert sorted(markers) == [f"state_{i:06d}.json" for i in range(7)]
    os.remove(os.path.join(states, "state_000003.json"))

    res, integ, counts = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt, violation_spec=spec
    )
    after, spills_after = _mtimes(states), _mtimes(parts)
    assert after.keys() == markers.keys()
    assert {fn for fn in markers if after[fn] != markers[fn]} == {"state_000003.json"}
    assert {fn for fn in spills if spills_after[fn] != spills[fn]} == {
        "part-00003.parquet"
    }

    res_d, integ_d, counts_d = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, violation_spec=spec
    )
    assert res.schema_json == res_d.schema_json
    assert res.total_rows == res_d.total_rows == spark.read.parquet(path).count()
    assert integ == integ_d and counts == counts_d
    assert counts == {**dict.fromkeys(counts, 0), **_logged_counts(tx_paths["log"])}

    # lineage: (file, row-group range, rows, secs, attempt) per task
    with open(os.path.join(ckpt, "manifest.json")) as f:
        man = json.load(f)
    assert man["complete"] and man["num_tasks"] == 7
    assert [r["pid"] for r in man["per_task"]] == list(range(7))
    assert all(
        r["file"] == path and r["row_groups"] == [r["pid"], r["pid"] + 1]
        and r["rows"] > 0 and r["secs"] > 0 and r["attempt"] == 0
        for r in man["per_task"]
    )
    assert sum(r["rows"] for r in man["per_task"]) == res.total_rows
    assert [(r["pid"], r["rows"]) for r in man["per_task"]] == [
        (i, rows) for i, rows, _ in res.partitions
    ]
    assert man["integrity"] == integ and man["violations"] == counts

    # an idempotent rerun scans nothing
    again = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt, violation_spec=spec
    )
    assert _mtimes(states) == after and _mtimes(parts) == spills_after
    assert again[1:] == (integ, counts)
    assert again[0].schema_json == res.schema_json

    # another task layout is refused
    with pytest.raises(ValueError, match="does not match"):
        infer_and_integrity_parquet(
            spark, path, rg_per_task=2, checkpoint_dir=ckpt, violation_spec=spec
        )
    # the lineage is checked, not assumed: a marker recorded under another
    # task id leaves task 2 out of it
    marker = os.path.join(states, "state_000002.json")
    with open(marker) as f:
        rec = json.load(f)
    with open(marker, "w") as f:
        json.dump({**rec, "pid": 1}, f)
    with pytest.raises(RuntimeError, match="task lineage"):
        infer_and_integrity_parquet(
            spark, path, rg_per_task=1, checkpoint_dir=ckpt, violation_spec=spec
        )


def test_fused_checkpoint_refuses_changed_contract(spark, tx_paths, tmp_path):
    """A checkpoint records its contract and order columns: resuming it
    with another violation_spec, none, or other order_cols is refused."""
    path = tx_paths["viol"]
    spec = _clean_contract(spark, tx_paths)
    ckpt = str(tmp_path / "ckpt")
    infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt, violation_spec=spec
    )
    for kwargs in (
        {"violation_spec": spec[:-1]},
        {"violation_spec": None},
        {"violation_spec": spec, "order_cols": ["conv_id", "turn_idx"]},
    ):
        with pytest.raises(ValueError, match="does not match"):
            infer_and_integrity_parquet(
                spark, path, rg_per_task=1, checkpoint_dir=ckpt, **kwargs
            )


def test_fused_checkpoint_ignores_orphan_tmp_files(spark, tx_paths, tmp_path):
    path = tx_paths["viol"]
    ckpt = str(tmp_path / "tmpfile_ckpt")
    res1, integ1 = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt
    )
    # writers killed between the tmp write and os.replace
    with open(os.path.join(ckpt, "states", "state_000000.json.tmp.999"), "w") as f:
        f.write('{"truncat')
    with open(
        os.path.join(ckpt, "integrity", ".part-00000.parquet.inprogress-999"), "wb"
    ) as f:
        f.write(b"PAR1\x00")
    res2, integ2 = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt
    )
    assert res2.total_rows == res1.total_rows  # no double-count, no crash
    assert res2.schema_json == res1.schema_json
    assert integ2 == integ1


def test_fused_refuses_stale_spill_parts(spark, tx_paths, tmp_path):
    """A reused checkpoint directory holding part files of an earlier run
    with more tasks must be refused, not double-counted: by the manifest
    while it is there, by the spill check once it is gone."""
    path = _multi_rg_copy(tx_paths, tmp_path)
    ckpt = str(tmp_path / "spill")
    _, want = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt
    )
    # same task layout: every task resumes from its marker
    _, again = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt
    )
    assert again == want
    with pytest.raises(ValueError, match="does not match"):
        infer_and_integrity_parquet(spark, path, rg_per_task=2, checkpoint_dir=ckpt)
    # 7 row groups: 4 tasks now, part-00004..6 are the first run's
    os.remove(os.path.join(ckpt, "manifest.json"))
    with pytest.raises(ValueError, match=r"unexpected \['part-00004"):
        infer_and_integrity_parquet(spark, path, rg_per_task=2, checkpoint_dir=ckpt)


def test_fused_checkpoint_refuses_missing_part(spark, tx_paths, tmp_path):
    """A part file lost between runs (its task's state marker survives, so
    resume would skip the task) must fail the resume, not silently drop
    that task's conversations from the integrity counts."""
    path = _multi_rg_copy(tx_paths, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    infer_and_integrity_parquet(spark, path, rg_per_task=1, checkpoint_dir=ckpt)
    os.remove(os.path.join(ckpt, "integrity", "part-00002.parquet"))
    with pytest.raises(ValueError, match="part-00002"):
        infer_and_integrity_parquet(spark, path, rg_per_task=1, checkpoint_dir=ckpt)


def test_fused_checkpoint_fingerprint_written_before_scan(
    spark, tx_paths, tmp_path
):
    """A contract-first run that dies mid-job (its last input file has
    corrupt data pages) has already recorded its fingerprint, so a resume
    with another task layout is refused. Once the file is repaired, the
    resume scans only the unfinished tasks, and its inference, integrity
    and per-constraint counts equal a fresh run and the injection log."""
    import pyarrow.parquet as pq

    spec = _clean_contract(spark, tx_paths)
    src = pq.read_table(tx_paths["viol"])
    data = tmp_path / "data"
    data.mkdir()
    third = src.num_rows // 3
    parts = [src.slice(0, third), src.slice(third, third), src.slice(2 * third)]
    for k, t in enumerate(parts):
        pq.write_table(
            t, str(data / f"f{k}.parquet"), row_group_size=len(t) // 2 + 1,
            compression="NONE",
        )
    # tasks run in id order and the garbled row group is task 4 of six, so
    # on local[4] a slot frees (a task commits) before it starts
    bad = str(data / "f2.parquet")
    with open(bad, "r+b") as f:  # garble the first page header
        f.seek(4)
        f.write(b"\xff" * 64)

    ckpt = str(tmp_path / "ckpt")
    states = os.path.join(ckpt, "states")
    run = dict(rg_per_task=1, checkpoint_dir=ckpt, violation_spec=spec)
    with pytest.raises(Exception):
        infer_and_integrity_parquet(spark, str(data), **run)
    with open(os.path.join(ckpt, "manifest.json")) as f:
        assert json.load(f)["complete"] is False
    committed = _mtimes(states)
    assert committed and all(fn.endswith(".json") for fn in committed)
    assert "state_000004.json" not in committed  # the garbled row group
    with pytest.raises(ValueError, match="does not match"):
        infer_and_integrity_parquet(spark, str(data), **{**run, "rg_per_task": 2})
    # the Spark-partitioned checkpoint records its fingerprint up front too
    df = spark.read.parquet(str(data))
    ckpt2 = str(tmp_path / "ckpt_infer")
    with pytest.raises(Exception):
        infer_dataframe(df, checkpoint_dir=ckpt2)
    with pytest.raises(ValueError, match="does not match"):
        infer_dataframe(df, checkpoint_dir=ckpt2, order_cols=["conv_id", "turn_idx"])

    pq.write_table(
        parts[2], bad, row_group_size=len(parts[2]) // 2 + 1,
        compression="NONE",
    )
    res, integ, counts = infer_and_integrity_parquet(spark, str(data), **run)
    after = _mtimes(states)
    assert len(after) == 6
    assert all(after[fn] == committed[fn] for fn in committed)
    with open(os.path.join(ckpt, "manifest.json")) as f:
        man = json.load(f)
    assert man["complete"] and man["num_tasks"] == 6
    res_d, integ_d, counts_d = infer_and_integrity_parquet(
        spark, str(data), rg_per_task=1, violation_spec=spec
    )
    assert res.schema_json == res_d.schema_json
    assert res.total_rows == res_d.total_rows == src.num_rows
    assert integ == integ_d and counts == counts_d
    assert counts == {**dict.fromkeys(counts, 0), **_logged_counts(tx_paths["log"])}
    assert man["violations"] == counts


def test_fused_checkpoint_reruns_file_rewritten_in_place(spark, tx_paths, tmp_path):
    """A marker is reused only under its task's key (file, row-group
    range, file fingerprint). A 2,000-conv file rewritten in place, under
    the same name, with 3,000 convs and injected violations is scanned
    again: the resume equals a fresh run on the new file."""
    from jsonschema_infer_spark.sources.transcripts import (
        generate_transcripts, inject_violations, write_parquet,
    )

    spec = _clean_contract(spark, tx_paths)
    data = tmp_path / "data"
    data.mkdir()
    path = str(data / "t.parquet")
    write_parquet(generate_transcripts(2000, seed=7), path, row_group_size=5000)
    ckpt = str(tmp_path / "ckpt")
    run = dict(rg_per_task=1, violation_spec=spec)
    old, old_integ, _ = infer_and_integrity_parquet(
        spark, str(data), checkpoint_dir=ckpt, **run
    )
    assert old_integ == {"dup_rows_excess": 0, "ordering_violations": 0}

    viol, log = inject_violations(generate_transcripts(3000, seed=8), seed=8)
    write_parquet(viol, path, row_group_size=5000)
    res, integ, counts = infer_and_integrity_parquet(
        spark, str(data), checkpoint_dir=ckpt, **run
    )
    res_d, integ_d, counts_d = infer_and_integrity_parquet(spark, str(data), **run)
    assert res.schema_json == res_d.schema_json
    assert res.total_rows == res_d.total_rows == viol.num_rows > old.total_rows
    assert integ == integ_d and counts == counts_d
    assert integ["dup_rows_excess"] > 0 and integ["ordering_violations"] > 0
    assert counts == {**dict.fromkeys(counts, 0), **_logged_counts(log)}
    with open(os.path.join(ckpt, "manifest.json")) as f:
        man = json.load(f)
    assert not any(r["resumed"] for r in man["per_task"])


def _add_string_length_keys(ckpt):
    """Give every state node of every marker the ``len_min``/``len_max``
    keys that markers carried before the string-length state was dropped
    (engine rev 14). Their values do not matter: the reader ignores them."""

    def add(node):
        if node is not None:
            node.update(len_min=0, len_max=9)
            add(node["items"])
            for child in node["props"].values():
                add(child)

    states = os.path.join(ckpt, "states")
    for fn in os.listdir(states):
        with open(os.path.join(states, fn)) as f:
            marker = json.load(f)
        add(marker["state"])
        with open(os.path.join(states, fn), "w") as f:
            json.dump(marker, f)


def _all_resumed(ckpt) -> bool:
    with open(os.path.join(ckpt, "manifest.json")) as f:
        return all(r["resumed"] for r in json.load(f)["per_task"])


def test_rev14_checkpoints_resume(spark, tx_paths, tmp_path):
    """Markers whose states carry the old string-length keys still load:
    a resume from them reuses every task and equals a fresh run, for the
    fused scan with a contract and for infer_dataframe."""
    path = _multi_rg_copy(tx_paths, tmp_path)
    run = dict(rg_per_task=1, violation_spec=_clean_contract(spark, tx_paths))
    ckpt = str(tmp_path / "fused")
    infer_and_integrity_parquet(spark, path, checkpoint_dir=ckpt, **run)
    _add_string_length_keys(ckpt)
    res, integ, counts = infer_and_integrity_parquet(
        spark, path, checkpoint_dir=ckpt, **run
    )
    res_d, integ_d, counts_d = infer_and_integrity_parquet(spark, path, **run)
    assert _all_resumed(ckpt)
    assert res.schema_json == res_d.schema_json
    assert res.total_rows == res_d.total_rows
    assert _norm_state(res.state) == _norm_state(res_d.state)
    assert integ == integ_d and counts == counts_d

    df = spark.read.parquet(path)
    ckpt = str(tmp_path / "infer")
    infer_dataframe(df, checkpoint_dir=ckpt)
    _add_string_length_keys(ckpt)
    got, want = infer_dataframe(df, checkpoint_dir=ckpt), infer_dataframe(df)
    assert _all_resumed(ckpt)
    assert got.schema_json == want.schema_json
    assert got.total_rows == want.total_rows
    assert _norm_state(got.state) == _norm_state(want.state)


@pytest.fixture
def tree_reduce(monkeypatch):
    """Force the tree branch of checkpoint.reduce_tasks (a driver-side
    threshold) and record the depth of every treeAggregate it runs."""
    from pyspark import RDD

    from jsonschema_infer_spark import checkpoint

    depths = []
    real = RDD.treeAggregate

    def spy(self, zero, seq, comb, depth=2):
        depths.append(depth)
        return real(self, zero, seq, comb, depth)

    monkeypatch.setattr(checkpoint, "_TREE_REDUCE_THRESHOLD", 2)
    monkeypatch.setattr(RDD, "treeAggregate", spy)
    return depths


def _tamper_marker(ckpt, i, pid):
    """Rewrite task i's committed marker as if task ``pid`` recorded it."""
    marker = os.path.join(ckpt, "states", f"state_{i:06d}.json")
    with open(marker) as f:
        rec = json.load(f)
    with open(marker, "w") as f:
        json.dump({**rec, "pid": pid}, f)


def test_tree_reduce_fused_lineage(spark, tx_paths, tmp_path, request):
    """Above the threshold the fused scan reduces through a real tree and
    still returns and checks one lineage entry per task."""
    path = _multi_rg_copy(tx_paths, tmp_path)
    spec = _clean_contract(spark, tx_paths)
    want = infer_and_integrity_parquet(spark, path, rg_per_task=1, violation_spec=spec)
    depths = request.getfixturevalue("tree_reduce")
    ckpt = str(tmp_path / "ckpt")
    run = dict(rg_per_task=1, checkpoint_dir=ckpt, violation_spec=spec)
    res, integ, counts = infer_and_integrity_parquet(spark, path, **run)
    assert depths == [2]
    assert res.schema_json == want[0].schema_json
    assert res.total_rows == want[0].total_rows
    assert (integ, counts) == want[1:]
    assert [i for i, _, _ in res.partitions] == list(range(7))
    with open(os.path.join(ckpt, "manifest.json")) as f:
        man = json.load(f)
    assert [r["pid"] for r in man["per_task"]] == list(range(7))
    assert sum(r["rows"] for r in man["per_task"]) == res.total_rows
    _tamper_marker(ckpt, 2, 1)
    with pytest.raises(RuntimeError, match="task lineage"):
        infer_and_integrity_parquet(spark, path, **run)


@pytest.fixture
def seven_file_df(spark, tx_paths, tmp_path):
    """The violated fixture as 7 files of ~equal size, read with a 1-byte
    file open cost so each file is one scan partition."""
    import pyarrow.parquet as pq

    table = pq.read_table(tx_paths["viol"])
    data = tmp_path / "data"
    data.mkdir()
    step = -(-table.num_rows // 7)
    for k in range(7):
        pq.write_table(table.slice(k * step, step), str(data / f"f{k}.parquet"))
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try:
        yield spark.read.parquet(str(data)), table
    finally:
        spark.conf.unset("spark.sql.files.openCostInBytes")


def test_tree_reduce_infer_dataframe_lineage(seven_file_df, tmp_path, request):
    """infer_dataframe on the tree branch, repartitioned and checkpointed."""
    df, table = seven_file_df
    want = infer_dataframe(df)
    depths = request.getfixturevalue("tree_reduce")
    res = infer_dataframe(df, num_partitions=7)
    assert res.schema_json == want.schema_json
    assert res.total_rows == want.total_rows == table.num_rows
    assert [i for i, _, _ in res.partitions] == list(range(7))

    ckpt = str(tmp_path / "ckpt")
    res = infer_dataframe(df, checkpoint_dir=ckpt)
    assert depths == [2, 2]
    assert res.schema_json == want.schema_json
    assert res.total_rows == want.total_rows
    with open(os.path.join(ckpt, "manifest.json")) as f:
        man = json.load(f)
    assert man["num_partitions"] == 7
    assert [r["pid"] for r in man["per_task"]] == list(range(7))
    assert sum(r["rows"] for r in man["per_task"]) == res.total_rows
    _tamper_marker(ckpt, 2, 1)
    with pytest.raises(RuntimeError, match="task lineage"):
        infer_dataframe(df, checkpoint_dir=ckpt)


def test_infer_parquet_empty_directory(spark, tx_paths, tmp_path):
    """The fused scan over an empty directory reduces to the zero value,
    not an error. With a contract, every constraint counts 0: an empty
    table violates nothing."""
    empty = tmp_path / "empty"
    empty.mkdir()
    zero = {"dup_rows_excess": 0, "ordering_violations": 0}
    res, integ = infer_and_integrity_parquet(spark, str(empty))
    assert res.total_rows == 0 and res.partitions == []
    assert integ == zero
    spec = _clean_contract(spark, tx_paths)
    res, integ, counts = infer_and_integrity_parquet(
        spark, str(empty), violation_spec=spec
    )
    assert res.total_rows == 0 and res.partitions == []
    assert integ == zero
    names = [c.name for c in V.build_constraints(spec)]
    assert counts == dict.fromkeys(names, 0) and counts


def test_integrity_null_keys_embedded_uniqueness(spark, tmp_path, monkeypatch):
    """(conv_id, turn_idx) uniqueness + dense order is an EMBEDDED
    uniqueness constraint: it binds only rows whose conv AND turn are both
    non-null. Every integrity path agrees with a brute force over that
    subset; duplicate_keys, a row-level explain API, groups NULLs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = [
        ("a", 0), ("a", 1), ("a", 2), ("e", 0),
        ("e", 1), ("b", 0), ("b", 1), ("b", 1),
        ("c", 1), ("c", 2), ("e", 2), ("e", 2),
        # row groups of NULL-keyed rows only: their tasks spill empty parts
        ("a", None), ("b", None), ("b", None), ("d", None),
        (None, 0), (None, 0), (None, 1), (None, None),
    ]
    table = pa.table(
        {
            "conv_id": pa.array([k[0] for k in keys], pa.string()),
            "turn_idx": pa.array([k[1] for k in keys], pa.int32()),
            "role": pa.array(["user", "assistant"] * (len(keys) // 2)),
        }
    )
    path = str(tmp_path / "null_keys.parquet")
    pq.write_table(table, path, row_group_size=4)

    convs: dict = {}
    for c, t in keys:
        if c is not None and t is not None:
            convs.setdefault(c, []).append(t)
    want = {
        "dup_rows_excess": sum(len(ts) - len(set(ts)) for ts in convs.values()),
        "ordering_violations": sum(
            min(ts) != 0 or sorted(set(ts)) != list(range(len(ts)))
            for ts in convs.values()
        ),
    }
    assert want == {"dup_rows_excess": 2, "ordering_violations": 3}

    df = spark.read.parquet(path)
    assert V.transcript_integrity_summary(df) == want
    tov = V.turn_ordering_violations(df).collect()
    assert len(tov) == want["ordering_violations"]
    assert sum(r.n_turns - r.n_distinct for r in tov) == want["dup_rows_excess"]
    _, integ = infer_and_integrity_parquet(spark, path, rg_per_task=1)
    assert integ == want
    monkeypatch.setattr(V, "_DRIVER_MERGE_MAX_BYTES", 0)
    _, integ = infer_and_integrity_parquet(spark, path, rg_per_task=1)
    assert integ == want

    # the explain API keeps plain groupBy semantics: NULL is a key value
    dups = {
        (r.conv_id, r.turn_idx): r.dup_count
        for r in V.duplicate_keys(df, ["conv_id", "turn_idx"]).collect()
    }
    assert dups == {("b", 1): 2, ("e", 2): 2, ("b", None): 2, (None, 0): 2}


def test_constraint_spec_build_equals_compile(spark, tx_paths):
    """constraint_spec + build_constraints is compile_constraints."""
    from jsonschema_infer_spark.operators import validate as V

    viol = spark.read.parquet(tx_paths["viol"])
    res = infer_dataframe(viol, num_partitions=4)
    spec = V.constraint_spec(
        res.schema, state=res.state, temporal_cols=V.temporal_columns(viol)
    )
    built = V.build_constraints(spec)
    direct = V.compile_constraints(res.schema, state=res.state, df=viol)
    assert [(c.name, c.kind, c.column) for c in built] == [
        (c.name, c.kind, c.column) for c in direct
    ]
    a = {(r.constraint, r.violation_count)
         for r in V.violation_counts(viol, built).collect()}
    b = {(r.constraint, r.violation_count)
         for r in V.violation_counts(viol, direct).collect()}
    assert a == b


def _spark_truth(spark, path, spec):
    df = spark.read.parquet(path)
    cons = V.build_constraints(spec)
    return {
        r.constraint: r.violation_count
        for r in V.violation_counts(df, cons).collect()
    }


def test_fused_violation_counts_match_spark(spark, tx_paths):
    """The arrow violation counter inside the fused scan must equal the
    Spark violations pass bit-for-bit, for a contract known before the
    scan. A self-spec (inferred from the violated table itself) counts 0
    everywhere by construction; the clean table's contract applied to the
    violated table counts exactly the injected rows."""
    viol_df = spark.read.parquet(tx_paths["viol"])
    temporal = V.temporal_columns(viol_df)

    # case 1: self-spec -> all zeros, and integrity unchanged by counting
    own = infer_dataframe(viol_df)
    self_spec = V.constraint_spec(
        own.schema, state=own.state, temporal_cols=temporal
    )
    res, integ, vself = infer_and_integrity_parquet(
        spark, tx_paths["viol"], rg_per_task=1, violation_spec=self_spec
    )
    assert res.schema_json == own.schema_json
    assert vself == _spark_truth(spark, tx_paths["viol"], self_spec)
    assert vself and all(v == 0 for v in vself.values())
    assert integ == V.transcript_integrity_summary(viol_df)

    # case 2: the clean snapshot's contract against the violated snapshot
    contract = _clean_contract(spark, tx_paths)
    _, _, vcross = infer_and_integrity_parquet(
        spark, tx_paths["viol"], rg_per_task=1, violation_spec=contract
    )
    assert vcross == _spark_truth(spark, tx_paths["viol"], contract)
    logged = _logged_counts(tx_paths["log"])
    assert all(n > 0 for n in logged.values())
    assert vcross == {**dict.fromkeys(vcross, 0), **logged}


def test_fused_range_counts_match_spark(spark, tmp_path):
    """The opt-in range constraints: a contract inferred from a clean
    table with ``with_ranges=True``, applied to a table with ints and
    floats outside its bounds (NaN included), counts in the fused scan
    what Spark's ``between`` predicates count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(name, n_int, x_float):
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(
            pa.table({
                "conv_id": [f"c{i // 10}" for i in range(40)],
                "turn_idx": pa.array([i % 10 for i in range(40)], pa.int32()),
                "n_int": pa.array(n_int, pa.int64()),
                "x_float": pa.array(x_float, pa.float64()),
            }),
            path, row_group_size=16,
        )
        return path

    n_int = [3 * i for i in range(40)]
    x_float = [i / 4 + 0.5 for i in range(40)]
    res, _ = infer_and_integrity_parquet(
        spark, write("clean", n_int, x_float), rg_per_task=1
    )
    spec = V.constraint_spec(res.schema, state=res.state, with_ranges=True)
    assert ("range", "n_int", 0.0, 117.0) in spec
    assert ("range", "x_float", 0.5, 10.25) in spec

    n_int[3], n_int[7], n_int[9] = -5, 1000, None
    x_float[2], x_float[5], x_float[6], x_float[8] = -1.0, 1e9, float("nan"), None
    viol = write("viol", n_int, x_float)
    _, _, got = infer_and_integrity_parquet(
        spark, viol, rg_per_task=1, violation_spec=spec
    )
    assert got == _spark_truth(spark, viol, spec)
    assert got["range:n_int"] == 2 and got["range:x_float"] == 3


def test_arrow_violation_counter_kinds_match_spark(spark, tmp_path):
    """Per-kind equality fuzz: every constraint kind (required, all six
    known formats on strings, temporal fold, const, enum, range incl.
    NaN) over a hand-built table with edge values — arrow counter totals
    == Spark violation_counts. The ``*_java`` columns pin Java regex
    semantics: '$' also matches before one final line terminator (CR,
    CRLF, NEL, LS, PS), '.' stops at each, and '\\d' is ASCII-only."""
    import datetime as dt
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    uuid = "123e4567-e89b-12d3-a456-426614174000"
    rows = {
        "s_dt": [
            "2026-01-01T00:00:00Z",        # ok
            "2026-13-01T00:00:00Z",        # bad month
            "2026-02-29T00:00:00Z",        # not a leap year
            "2024-02-29T00:00:00Z",        # leap day ok
            "2026-01-01T00:00:00+18:30",   # offset beyond ZoneOffset
            "2026-01-01T00:00:00.1234567890Z",  # 10 frac digits: ok
            "0000-01-01T00:00:00Z",        # year zero: ok (proleptic)
            None,                          # null passes
            "nope",
            "2026-01-01T00:00:60Z",        # leap second rejected
        ],
        "s_email": [
            "a@b.co", "bad", "x@y.io", None, "a@b", "u%p@d.org",
            "a@b.co", "a@b.co", "a@b.co", "a@b.co",
        ],
        "s_enum": ["u", "a", "u", "x", None, "u", "a", "a", "u", "z"],
        "s_const": ["k"] * 8 + ["j", None],
        "n_range": [1.0, 2.5, float("nan"), -3.0, None, 99.0, 2.0, 2.0, 2.0, 2.0],
        "n_enum": [1, 2, 1, 7, None, 1, 2, 2, 1, 9],
        "ts": [dt.datetime(2026, 1, 1)] * 9 + [None],
        "s_dt_java": [
            "2026-01-01T00:00:00Z\r",          # ok: CR is trimmed too
            "2026-01-01T00:00:00+01:00\r\n",   # ok
            "2026-01-01T00:00:00.5Z\r",        # ok
            "2026-01-01T00:00:00Z\n",          # ok
            "2026-01-01T00:00:00Z\u0085",      # regex ok, parse rejects
            "2026-01-01T00:00:00Z\u2028",      # regex ok, parse rejects
            "2026-01-01T00:00:00Z\u2029",      # regex ok, parse rejects
            "\uff12\uff10\uff12\uff16-01-01T00:00:00Z",  # fullwidth digits
            "\u0662\u0660\u0662\u0666-01-01T00:00:00Z",  # Arabic-Indic
            "2026-01-01T00:00:00Z\r\r",        # two terminators
        ],
        "s_email_java": [
            "a@b.co\r", "a@b.co\r\n", "a@b.co\u0085", "a@b.co\u2028",
            "a@b.co\u2029", "a@b.co\n", "a@b.co\r\r", "a\u00e9@b.co",
            None, "a@b.co",
        ],
        "s_uuid_java": [uuid + "\r", uuid + "\u2028", uuid + "\r\n", uuid,
                        uuid + "\n\n", None, uuid, uuid, uuid, uuid],
        "s_ipv4_java": ["1.2.3.4\r", "1.2.3.4\u0085", "\u0661.2.3.4",
                        "1.2.3.4", None, "1.2.3.4", "1.2.3.4", "1.2.3.4",
                        "1.2.3.4 ", "1.2.3.4"],
        "s_ipv6_java": ["::1\r", "::1\u2029", "2001:db8::1.2.3.4\r\n",
                        "::1\r\r", None, "::1", "::1", "::1", "::1", "::1"],
        "s_uri_java": ["http://a.b/c\r", "http://a/b\rc", "http://a/b\u0085c",
                       "http://a/b\u2028c", "https://x\r\r", "http://a/b c",
                       "http://a/b\nc", "http://a.b/c", None, "https://x"],
    }
    table = pa.table(
        {
            "s_dt": pa.array(rows["s_dt"], pa.string()),
            "s_email": pa.array(rows["s_email"], pa.string()),
            "s_enum": pa.array(rows["s_enum"], pa.string()),
            "s_const": pa.array(rows["s_const"], pa.string()),
            "n_range": pa.array(rows["n_range"], pa.float64()),
            "n_enum": pa.array(rows["n_enum"], pa.int64()),
            "ts": pa.array(rows["ts"], pa.timestamp("us")),
            **{
                c: pa.array(v, pa.string())
                for c, v in rows.items() if c.endswith("_java")
            },
        }
    )
    path = str(tmp_path / "kinds.parquet")
    pq.write_table(table, path)

    spec = [
        ("required", "s_dt"),
        ("required", "ts"),
        ("format", "s_dt", "date-time", False, True),
        ("format", "s_email", "email", False, True),
        ("format", "ts", "date-time", True, True),  # temporal fold
        ("const", "s_const", "k"),
        ("enum", "s_enum", ("u", "a")),
        ("enum", "n_enum", (1, 2)),
        ("range", "n_range", 0.0, 10.0),
        ("format", "s_dt_java", "date-time", False, True),
        ("format", "s_email_java", "email", False, True),
        ("format", "s_uuid_java", "uuid", False, True),
        ("format", "s_ipv4_java", "ipv4", False, True),
        ("format", "s_ipv6_java", "ipv6", False, True),
        ("format", "s_uri_java", "uri", False, True),
    ]
    names, counter = V.arrow_violation_counter(spec, table.schema)
    import numpy as np

    totals = np.zeros(len(names), dtype=np.int64)
    for b in table.to_batches(max_chunksize=3):  # multiple small batches
        totals += counter(b)
    got = dict(zip(names, (int(v) for v in totals)))
    want = _spark_truth(spark, path, spec)
    assert got == want, (got, want)
    # hand-checked anchors (so both engines can't be wrong together):
    # date-time accepts ok/leap-day/10-frac/year-zero, rejects 5 of 9
    assert got["format:s_dt:date-time"] == 5
    assert got["format:ts:date-time"] == 0  # temporal fold
    assert got["required:ts"] == 1
    assert got["enum:s_enum"] == 2  # 'x', 'z'
    assert got["range:n_range"] == 3  # nan, -3, 99
    # NEL/LS/PS (regex ok, parse rejects), 2 non-ASCII years, CR CR
    assert got["format:s_dt_java:date-time"] == 6
    assert got["format:s_email_java:email"] == 2  # CR CR, non-ASCII local
    assert got["format:s_uuid_java:uuid"] == 1  # LF LF
    assert got["format:s_ipv4_java:ipv4"] == 2  # Arabic-Indic 1, space
    assert got["format:s_ipv6_java:ipv6"] == 1  # CR CR
    # '.' stops at CR, NEL, LS and LF mid-value; CR CR
    assert got["format:s_uri_java:uri"] == 5


def test_arrow_violation_counter_unsupported_raises(spark, tmp_path):
    import pyarrow as pa

    schema = pa.schema([("a", pa.string()), ("t", pa.timestamp("us"))])
    with pytest.raises(V.UnsupportedArrowSpec):
        V.arrow_violation_counter([("required", "missing")], schema)
    with pytest.raises(V.UnsupportedArrowSpec):
        V.arrow_violation_counter([("format", "a", "custom-fmt", False, False)], schema)
    with pytest.raises(V.UnsupportedArrowSpec):
        # const on timestamp would rely on lit() string->timestamp coercion
        V.arrow_violation_counter([("const", "t", "2026-01-01")], schema)
    with pytest.raises(V.UnsupportedArrowSpec):
        V.arrow_violation_counter([("enum", "a", (1, 2))], schema)


# --- footer-credited string columns ---------------------------------------------

from contextlib import contextmanager  # noqa: E402
from unittest import mock  # noqa: E402

from hypothesis import example, given, settings, strategies as hst  # noqa: E402

_CREDIT_SPEC = [
    ("required", "conv_id"), ("required", "s_late"), ("required", "s_const"),
    ("required", "s_nulls"),
]
_TS = ["2024-01-02T03:04:05Z", "2024-05-06T07:08:09Z"]


def _credit_table(rows, late, rg_rows, dict_cols, late_nulls):
    """conv-clustered keys around five string columns the fused task may
    credit from the footer, so credited columns sit between main ones:
    ``s_late`` saturates only after row ``late`` (date-times before it,
    unique values after), ``s_const`` is const in the first row group,
    ``s_nulls`` has nulls only in the row groups after the first two, at
    the positions ``late_nulls``, ``s_low`` has three values, so it never
    saturates, and ``s_void`` is all nulls (it renders ``"type":""``)."""
    import pyarrow as pa

    k = range(rows)
    nulls = {p for p in late_nulls if p >= 2 * rg_rows}
    cols = {
        "conv_id": pa.array([f"c{i // 5}" for i in k]),
        "s_late": pa.array([_TS[i % 2] if i < late else f"v{i}" for i in k]),
        "s_const": pa.array(["x" if i < rg_rows else f"y{i % 100}" for i in k]),
        "s_nulls": pa.array([None if i in nulls else f"n{i}" for i in k]),
        "s_low": pa.array(["lo", "mid", "hi"][i % 3] for i in k),
        "s_void": pa.nulls(rows, pa.string()),
        "turn_idx": pa.array([i % 5 for i in k], pa.int32()),
    }
    for c in dict_cols:
        cols[c] = cols[c].dictionary_encode()
    return pa.table(cols)


@contextmanager
def _reader_spy():
    """Records (columns, rows yielded) of every ParquetFile.iter_batches."""
    import pyarrow.parquet as pq

    calls = []
    real = pq.ParquetFile.iter_batches

    def spy(self, *args, columns=None, **kwargs):
        rec = [columns, 0]
        calls.append(rec)
        for b in real(self, *args, columns=columns, **kwargs):
            rec[1] += b.num_rows
            yield b

    with mock.patch.object(pq.ParquetFile, "iter_batches", spy):
        yield calls


def _render(st) -> str:
    from jsonschema_infer_spark.operators import state as S
    from jsonschema_infer_spark.plans.render import render_schema

    cfg = default_config()
    return render_schema(S.finalize(st, cfg), cfg.indent)


def _full_decode(path, spec):
    """The task's outputs from one reader of every column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jsonschema_infer_spark.operators.infer_spark import fold_batches_columnar

    pf = pq.ParquetFile(path)
    batches = list(pf.iter_batches(batch_size=10_000))
    st, rows = fold_batches_columnar(iter(batches), default_config())
    _, counter = V.arrow_violation_counter(spec, pf.schema_arrow)
    counts = sum(counter(b) for b in batches).tolist()
    keys = [b.select(["conv_id", "turn_idx"]) for b in batches]
    parts = pa.Table.from_batches(
        list(V._integrity_fold("conv_id", "turn_idx")(keys)), schema=V._partial_schema()
    )
    return st, rows, counts, V._merge_partials_local(parts)


def _fused_once(path, out_dir, spec):
    import pyarrow.parquet as pq

    from jsonschema_infer_spark.operators.pipeline import _fused_task

    n_rg = pq.ParquetFile(path).metadata.num_row_groups
    os.makedirs(out_dir, exist_ok=True)
    lineage = {}
    st, rows, vec = _fused_task(
        path, 0, n_rg, default_config(), "conv_id", "turn_idx", str(out_dir), 0,
        None, spec, lineage,
    )
    part = pq.read_table(str(out_dir / "part-00000.parquet"))
    assert sum(part.column("n").to_pylist()) == lineage["keyed_rows"] == rows
    return st, rows, vec.tolist(), V._merge_partials_local(part)


@given(
    rows=hst.integers(12_000, 32_000),
    late_frac=hst.floats(0.0, 0.9),
    rg_rows=hst.sampled_from([3_000, 7_000, 16_384]),
    dict_cols=hst.sets(
        hst.sampled_from(["s_late", "s_const", "s_nulls", "s_low", "s_void"])
    ),
    late_nulls=hst.lists(hst.integers(0, 31_999), max_size=40),
    stats=hst.booleans(),
    fmt_on_late=hst.booleans(),
)
# s_nulls saturates in its first batch: one null read in it, one left to the footer
@example(
    rows=20_000, late_frac=0.5, rg_rows=3_000, dict_cols=set(),
    late_nulls=[7_000, 15_000], stats=True, fmt_on_late=False,
)
@settings(max_examples=25, deadline=None)
def test_fused_task_credit_equals_full_decode(
    tmp_path_factory, rows, late_frac, rg_rows, dict_cols, late_nulls, stats,
    fmt_on_late,
):
    """With or without footer statistics, and whether or not a format
    entry keeps ``s_late`` decoded, the fused task's state, rendered
    schema, rows, violation vector and integrity equal one full
    decode's."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("credit")
    path = str(d / "t.parquet")
    table = _credit_table(rows, int(rows * late_frac), rg_rows, dict_cols, late_nulls)
    pq.write_table(table, path, row_group_size=rg_rows, write_statistics=stats)
    spec = _CREDIT_SPEC + (
        [("format", "s_late", "date-time", False, True)] if fmt_on_late else []
    )
    with _reader_spy() as calls:
        st, n, vec, integ = _fused_once(path, d, spec)
    want_st, want_n, want_vec, want_integ = _full_decode(path, spec)
    assert _norm_state(st) == _norm_state(want_st)
    assert _render(st) == _render(want_st)
    assert (n, vec, integ) == (want_n, want_vec, want_integ)
    credited = ["s_const", "s_nulls", "s_low", "s_void"]
    credited += [] if fmt_on_late else ["s_late"]
    if stats:  # one reader per credited column; s_low's and s_void's read to the end
        assert sorted(cols for cols, _ in calls[1:]) == sorted([c] for c in credited)
        pulled = {cols[0]: k for cols, k in calls[1:]}
        assert pulled["s_low"] == pulled["s_void"] == rows
    else:  # no null counts in the footer: one reader of every column
        assert [c for c, _ in calls] == [None]


def test_fused_credited_columns_match_spark(spark, tmp_path):
    """The contract-first scan of a table whose string columns saturate
    late, are const in the first row group, or have nulls only late: with
    footer statistics the credited reader stops early, without them every
    value is decoded; both equal infer_dataframe and Spark's counts. The
    never-saturating ``s_low`` and the all-null ``s_void`` keep only their
    own readers going."""
    import pyarrow.parquet as pq

    table = _credit_table(40_000, 15_000, 8_192, {"s_late"}, range(20_000, 40_000, 7))
    for stats in (True, False):
        path = str(tmp_path / f"credit_{stats}.parquet")
        pq.write_table(table, path, row_group_size=8_192, write_statistics=stats)
        want = infer_dataframe(spark.read.parquet(path))
        res, _, counts = infer_and_integrity_parquet(
            spark, path, rg_per_task=5, violation_spec=_CREDIT_SPEC
        )
        assert res.schema_json == want.schema_json
        assert res.total_rows == want.total_rows == 40_000
        assert _norm_state(res.state) == _norm_state(want.state)
        assert counts == _spark_truth(spark, path, _CREDIT_SPEC)
        assert counts["required:s_nulls"] == len(range(20_000, 40_000, 7))
        # the scan's task ran in a Python worker: run it here to see
        # which readers it opens
        with _reader_spy() as calls:
            _fused_once(path, tmp_path / f"t{stats}", _CREDIT_SPEC)
        if stats:
            pulled = {cols[0]: k for cols, k in calls[1:]}
            assert sorted(pulled) == ["s_const", "s_late", "s_low", "s_nulls", "s_void"]
            assert pulled.pop("s_low") == pulled.pop("s_void") == 40_000
            assert max(pulled.values()) < 40_000
        else:
            assert [c for c, _ in calls] == [None]


def test_fused_property_order_matches_infer_dataframe(spark, tmp_path):
    """The credited columns of ``_credit_table`` sit between main columns
    and are folded after them, yet the fused scan lists its properties,
    and the constraint spec built from them, in file-schema order, as
    infer_dataframe does (render sorts keys, so only these show order)."""
    import pyarrow.parquet as pq

    table = _credit_table(20_000, 5_000, 4_096, set(), range(10_000, 20_000, 11))
    path = str(tmp_path / "order.parquet")
    pq.write_table(table, path, row_group_size=4_096)
    want = infer_dataframe(spark.read.parquet(path))
    res, _ = infer_and_integrity_parquet(spark, path, rg_per_task=2)
    assert list(res.state["props"]) == list(want.state["props"]) == table.column_names
    assert V.constraint_spec(res.schema, res.state) == V.constraint_spec(
        want.schema, want.state
    )


def test_fused_wall_secs_spans_stages(spark, tx_paths, monkeypatch):
    """``wall_secs`` covers the whole call, the driver's integrity merge
    included, so it is at least the sum of the timed stages. The merge is
    slowed by a second so that leaving it out would show."""
    import time

    from jsonschema_infer_spark.operators import pipeline

    def slow_merge(*args, **kwargs):
        time.sleep(1.0)
        return merge(*args, **kwargs)

    merge = pipeline.reduce_spilled_partials
    monkeypatch.setattr(pipeline, "reduce_spilled_partials", slow_merge)
    res, _ = infer_and_integrity_parquet(spark, tx_paths["viol"], rg_per_task=1)
    assert res.stage_secs["integrity_merge"] >= 1.0
    assert res.wall_secs >= sum(res.stage_secs.values())


def test_required_counts_on_dictionary_columns_match_spark(spark, tx_paths, tmp_path):
    """``required`` reads a dictionary column's null count without the
    cast: on the violated fixture with dictionary ``text`` and ``role``,
    the arrow counter over full batches equals Spark's violation_counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(tx_paths["viol"])
    for c in ("text", "role"):
        col = t.column(c)
        if not pa.types.is_dictionary(col.type):
            col = col.dictionary_encode()
        t = t.set_column(t.schema.get_field_index(c), c, col)
    path = str(tmp_path / "dict.parquet")
    pq.write_table(t, path)
    pf = pq.ParquetFile(path)
    assert pa.types.is_dictionary(pf.schema_arrow.field("text").type)
    spec = _clean_contract(spark, tx_paths)
    names, counter = V.arrow_violation_counter(spec, pf.schema_arrow)
    got = dict(zip(names, sum(counter(b) for b in pf.iter_batches()).tolist()))
    assert got == _spark_truth(spark, path, spec)
    assert got["required:text"] == len(tx_paths["log"]["null_text_rows"]) > 0


def test_fused_resume_refuses_short_part_file(spark, tx_paths, tmp_path):
    """Spill conservation: each marker records its task's keyed rows, and
    the reduce checks every part file's Σn against it. A part file swapped
    for a valid one that is one row short fails the resume."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _multi_rg_copy(tx_paths, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    infer_and_integrity_parquet(spark, path, rg_per_task=1, checkpoint_dir=ckpt)
    with open(os.path.join(ckpt, "states", "state_000002.json")) as f:
        assert json.load(f)["keyed_rows"] > 0
    part = os.path.join(ckpt, "integrity", "part-00002.parquet")
    t = pq.read_table(part)
    n = t.column("n").to_pylist()
    j = next(i for i, v in enumerate(n) if v > 1)
    n[j] -= 1
    pq.write_table(t.set_column(2, "n", pa.array(n, pa.int64())), part)
    with pytest.raises(ValueError, match="part-00002.*keyed rows"):
        infer_and_integrity_parquet(spark, path, rg_per_task=1, checkpoint_dir=ckpt)


def test_rev15_markers_are_rerun(spark, tx_paths, tmp_path):
    """A marker without ``keyed_rows`` (engine rev 15) is not a result:
    the resume reruns its task and equals a fresh run."""
    path = _multi_rg_copy(tx_paths, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    want = infer_and_integrity_parquet(spark, path, rg_per_task=1, checkpoint_dir=ckpt)
    marker = os.path.join(ckpt, "states", "state_000004.json")
    with open(marker) as f:
        rec = json.load(f)
    del rec["keyed_rows"]
    with open(marker, "w") as f:
        json.dump(rec, f)
    res, integ = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt
    )
    with open(os.path.join(ckpt, "manifest.json")) as f:
        resumed = {r["pid"]: r["resumed"] for r in json.load(f)["per_task"]}
    assert resumed == {i: i != 4 for i in range(7)}
    assert (res.schema_json, res.total_rows, integ) == (
        want[0].schema_json, want[0].total_rows, want[1]
    )


def test_rev16_markers_are_rerun(spark, tx_paths, tmp_path):
    """A marker without ``decoded`` (engine rev 16) is not a result: the
    resume reruns its task and equals a fresh run."""
    path = _multi_rg_copy(tx_paths, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    want = infer_and_integrity_parquet(spark, path, rg_per_task=1, checkpoint_dir=ckpt)
    marker = os.path.join(ckpt, "states", "state_000002.json")
    with open(marker) as f:
        rec = json.load(f)
    del rec["decoded"]
    with open(marker, "w") as f:
        json.dump(rec, f)
    res, integ = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt
    )
    with open(os.path.join(ckpt, "manifest.json")) as f:
        resumed = {r["pid"]: r["resumed"] for r in json.load(f)["per_task"]}
    assert resumed == {i: i != 2 for i in range(7)}
    assert (res.schema_json, res.total_rows, integ) == (
        want[0].schema_json, want[0].total_rows, want[1]
    )
    assert _norm_state(res.state) == _norm_state(want[0].state)


def test_rev17_markers_are_rerun(spark, tx_paths, tmp_path):
    """A checkpoint written by the rev-17 fold (siphash ``ch`` in every
    part file, markers without ``conv_hash``) is rerun task by task, and
    the resume equals a fresh run. Resuming any of it would be wrong: one
    rev-17 part file among rev-18 ones splits each conv they share into
    two single-task convs, and the counts change silently."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _multi_rg_copy(tx_paths, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    want = infer_and_integrity_parquet(spark, path, rg_per_task=1, checkpoint_dir=ckpt)
    fresh, old = [], []
    for i in range(7):
        marker = os.path.join(ckpt, "states", f"state_{i:06d}.json")
        with open(marker) as f:
            rec = json.load(f)
        del rec["conv_hash"]
        with open(marker, "w") as f:
            json.dump(rec, f)
        part = os.path.join(ckpt, "integrity", f"part-{i:05d}.parquet")
        fresh.append(pq.read_table(part))
        conv = fresh[-1].column("conv").to_numpy(zero_copy_only=False).astype(object)
        sip = pd.util.hash_array(conv, categorize=False).view("int64")
        old.append(fresh[-1].set_column(1, "ch", pa.array(sip, pa.int64())))
        pq.write_table(old[-1], part)
    assert V._merge_partials_local(pa.concat_tables(old)) == want[1]
    mixed = [o if i % 2 else f for i, (o, f) in enumerate(zip(old, fresh))]
    assert V._merge_partials_local(pa.concat_tables(mixed)) != want[1]
    res, integ = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt
    )
    with open(os.path.join(ckpt, "manifest.json")) as f:
        manifest = json.load(f)
    assert {r["pid"]: r["resumed"] for r in manifest["per_task"]} == {
        i: False for i in range(7)
    }
    assert {r["conv_hash"] for r in manifest["per_task"]} == {V.CONV_HASH}
    assert (res.schema_json, res.total_rows, integ) == (
        want[0].schema_json, want[0].total_rows, want[1]
    )
    assert set(manifest["stage_secs"]) == set(res.stage_secs) == {"scan", "integrity_merge"}


def test_rev18_markers_are_rerun(spark, tx_paths, tmp_path):
    """A checkpoint written by the rev-18 fold (part files without
    ``mask``, every partial's turns a list or, dense, a null list for the
    range mn..mx, rows in fold order; markers without ``spill_layout``) is
    rerun task by task, and the resume equals a fresh run with every part
    file in the current layout again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _multi_rg_copy(tx_paths, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    want = infer_and_integrity_parquet(spark, path, rg_per_task=1, checkpoint_dir=ckpt)
    rev18 = pa.schema([f for f in V._partial_schema() if f.name != "mask"])
    parts = [os.path.join(ckpt, "integrity", f"part-{i:05d}.parquet") for i in range(7)]
    for i, part in enumerate(parts):
        marker = os.path.join(ckpt, "states", f"state_{i:06d}.json")
        with open(marker) as f:
            rec = json.load(f)
        del rec["spill_layout"]
        with open(marker, "w") as f:
            json.dump(rec, f)
        rows = pq.read_table(part).to_pylist()
        for r in rows:
            m = r.pop("mask")
            turns = r["turns"] if m is None else [b for b in range(64) if m >> b & 1]
            r["turns"] = turns if turns and len(turns) != r["mx"] - r["mn"] + 1 else None
        pq.write_table(pa.Table.from_pylist(rows[::-1], schema=rev18), part)
    res, integ = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, checkpoint_dir=ckpt
    )
    with open(os.path.join(ckpt, "manifest.json")) as f:
        manifest = json.load(f)
    assert {r["pid"]: r["resumed"] for r in manifest["per_task"]} == {
        i: False for i in range(7)
    }
    assert {r["spill_layout"] for r in manifest["per_task"]} == {V.SPILL_LAYOUT}
    assert (res.schema_json, res.total_rows, integ) == (
        want[0].schema_json, want[0].total_rows, want[1]
    )
    for part in parts:
        t = pq.read_table(part)
        assert t.schema == V._partial_schema()
        ch = t.column("ch").to_pylist()
        assert ch == sorted(ch)


def test_manifest_records_the_integrity_reduce(spark, tx_paths, tmp_path, monkeypatch):
    """The manifest's ``integrity_reduce`` names where the spill was merged,
    its bytes, its partials and the ranges (driver) or merge tasks
    (executors) it was judged in; both paths give one result."""
    import glob

    import pyarrow.parquet as pq

    path = _multi_rg_copy(tx_paths, tmp_path)
    got = {}
    for cap, where in ((V._DRIVER_MERGE_MAX_BYTES, "driver"), (0, "executors")):
        monkeypatch.setattr(V, "_DRIVER_MERGE_MAX_BYTES", cap)
        ckpt = str(tmp_path / where)
        got[where] = infer_and_integrity_parquet(
            spark, path, rg_per_task=1, checkpoint_dir=ckpt
        )[1]
        with open(os.path.join(ckpt, "manifest.json")) as f:
            red = json.load(f)["integrity_reduce"]
        parts = glob.glob(os.path.join(ckpt, "integrity", "part-*.parquet"))
        assert len(parts) == 7
        assert red["path"] == where
        assert red["spill_bytes"] == sum(os.path.getsize(p) for p in parts)
        assert red["partials"] == sum(pq.read_metadata(p).num_rows for p in parts) > 0
        assert 1 <= red["ranges"] <= (V._MERGE_THREADS if where == "driver" else 8)
    assert got["driver"] == got["executors"]
    assert got["driver"]["ordering_violations"] > 0


def test_infer_scan_stops_decoding_text(spark, tmp_path):
    """The infer-side scan (no contract) gives each credited string column
    its own reader: ``text`` stops after its first batch in every task,
    while ``role`` and ``tool``, which never saturate, decode in full.
    Read from the manifest's per-task ``decoded`` lineage; the result still
    equals infer_dataframe."""
    from jsonschema_infer_spark.sources.transcripts import (
        generate_transcripts, write_parquet,
    )

    table = generate_transcripts(12_000, seed=7)
    assert table.num_rows >= 4 * 16_384
    path = write_parquet(table.slice(0, 4 * 16_384), str(tmp_path / "t.parquet"), 16_384)
    ckpt = str(tmp_path / "ckpt")
    res, _ = infer_and_integrity_parquet(spark, path, rg_per_task=1, checkpoint_dir=ckpt)
    with open(os.path.join(ckpt, "manifest.json")) as f:
        tasks = json.load(f)["per_task"]
    assert len(tasks) == 4
    for t in tasks:
        assert sorted(t["decoded"]) == ["role", "text", "tool"]
        assert t["decoded"]["text"] < t["rows"] == 16_384
        assert t["decoded"]["role"] == t["decoded"]["tool"] == t["rows"]
    want = infer_dataframe(spark.read.parquet(path))
    assert res.schema_json == want.schema_json
    assert _norm_state(res.state) == _norm_state(want.state)
