"""Validation operators vs the exact injection oracle (FIXTURES.md §A)."""

import pytest

from jsonschema_infer_spark.operators.infer_spark import infer_dataframe
from jsonschema_infer_spark.operators import validate as V


@pytest.fixture(scope="module")
def compiled(spark, tx_paths):
    clean = spark.read.parquet(tx_paths["clean"])
    viol = spark.read.parquet(tx_paths["viol"])
    res = infer_dataframe(clean, num_partitions=4)
    cons = V.compile_constraints(res.schema, state=res.state, df=viol)
    return res, cons, clean, viol, tx_paths["log"]


def test_row_constraint_counts_match_injections(compiled):
    res, cons, clean, viol, log = compiled
    counts = {
        r.constraint: r.violation_count
        for r in V.violation_counts(viol, cons).collect()
    }
    assert counts["required:role"] == len(log["null_role_rows"])
    assert counts["required:text"] == len(log["null_text_rows"])
    assert counts["enum:role"] == len(log["bad_role_rows"])
    # clean columns stay clean
    assert counts["required:conv_id"] == 0
    assert counts["format:ts:date-time"] == 0


def test_violation_rows_carry_reasons(compiled):
    res, cons, clean, viol, log = compiled
    rows = V.violations(viol, cons, keep_cols=["conv_id", "turn_idx", "role"]).collect()
    by_reason = {}
    for r in rows:
        for v in r.violations:
            by_reason.setdefault(v, set()).add((r.conv_id, r.turn_idx))
    assert by_reason["enum:role"] == set(map(tuple, log["bad_role_rows"]))
    assert by_reason["required:role"] == set(map(tuple, log["null_role_rows"]))


def test_clean_table_passes_all(compiled):
    res, cons, clean, viol, log = compiled
    assert V.violations(clean, cons).count() == 0
    verd = V.partition_verdicts(clean, cons, num_buckets=16)
    assert verd.filter("NOT passed").count() == 0


def test_duplicate_keys_match_injections(compiled):
    res, cons, clean, viol, log = compiled
    dups = {
        (r.conv_id, r.turn_idx)
        for r in V.duplicate_keys(viol, ["conv_id", "turn_idx"]).collect()
    }
    assert dups == set(map(tuple, log["dup_keys"]))
    assert V.duplicate_keys(clean, ["conv_id", "turn_idx"]).count() == 0


def test_turn_ordering_matches_injections(compiled):
    res, cons, clean, viol, log = compiled
    got = {r.conv_id: list(r.reasons) for r in V.turn_ordering_violations(viol).collect()}
    expected_convs = (
        set(log["gap_convs"])
        | set(log["shift_convs"])
        | {c for c, _ in log["dup_keys"]}
    )
    assert set(got) == expected_convs
    for c in log["gap_convs"]:
        assert "gap" in got[c]
    for c in log["shift_convs"]:
        assert "nonzero_start" in got[c]
    for c, _ in log["dup_keys"]:
        assert "dup_turn" in got[c]
    assert V.turn_ordering_violations(clean).count() == 0


def test_integrity_summary_matches_separate_operators(compiled):
    res, cons, clean, viol, log = compiled
    summ = V.transcript_integrity_summary(viol)
    assert summ["ordering_violations"] == V.turn_ordering_violations(viol).count()
    excess = sum(
        r.dup_count - 1
        for r in V.duplicate_keys(viol, ["conv_id", "turn_idx"]).collect()
    )
    assert summ["dup_rows_excess"] == excess
    clean_summ = V.transcript_integrity_summary(clean)
    assert clean_summ == {"dup_rows_excess": 0, "ordering_violations": 0}
    # a zero-row DataFrame: no partial reaches the merge
    assert V.transcript_integrity_summary(viol.limit(0)) == clean_summ


def test_ts_regressions_match_injections(compiled):
    res, cons, clean, viol, log = compiled
    got_convs = {r.conv_id for r in V.ts_regressions(viol).collect()}
    # injected regressions, plus duplicated turns (equal ts -> not strictly
    # increasing) — both are genuine ordering violations
    expected = set(log["ts_regression_convs"]) | {c for c, _ in log["dup_keys"]}
    assert got_convs == expected
    assert V.ts_regressions(clean).count() == 0


def test_partition_verdicts_deterministic(compiled):
    res, cons, clean, viol, log = compiled
    v1 = sorted(
        (r.bucket, r.rows, r.violation_total)
        for r in V.partition_verdicts(viol, cons, num_buckets=16).collect()
    )
    v2 = sorted(
        (r.bucket, r.rows, r.violation_total)
        for r in V.partition_verdicts(viol.repartition(13), cons, num_buckets=16).collect()
    )
    assert v1 == v2  # buckets are content-hash based, not physical partitions


def _conv_hash(convs):
    """The spilled ``ch`` column of these conv ids: the engine's own hash,
    as _integrity_fold writes it."""
    import pyarrow as pa

    return pa.array(V._conv_hash(pa.array(convs, pa.string())), type=pa.int64())


def test_merge_partials_local_negative_turns():
    """Driver merge handles negative int32 turn indices in multi-part convs:
    the composite-key bias keeps the >>32 code recovery exact (an unbiased
    key would floor-shift a negative turn into the neighboring conv)."""
    import pyarrow as pa

    # conv "a" split across two map tasks with turns {-2,-1,0} / {0,1}:
    # n=5 rows, distinct=5? no: union{-2,-1,0,1} = 4 -> one dup-excess row,
    # min=-2 != 0 -> ordering violation. conv "b" is clean single-part.
    partials = pa.table(
        {
            "conv": ["a", "a", "b"],
            "ch": _conv_hash(["a", "a", "b"]),
            "n": pa.array([3, 2, 2], type=pa.int64()),
            "mn": pa.array([-2, 0, 0], type=pa.int32()),
            "mx": pa.array([0, 1, 1], type=pa.int32()),
            "ndl": pa.array([3, 2, 2], type=pa.int64()),
            "mask": pa.nulls(3, pa.int64()),
            "turns": pa.array(
                [[-2, -1, 0], [0, 1], [0, 1]], type=pa.list_(pa.int32())
            ),
        }
    )
    got = V._merge_partials_local(partials)
    assert got == {"dup_rows_excess": 1, "ordering_violations": 1}


def test_merge_partials_local_two_tier_vs_bruteforce():
    """The single-part fast path (rows judged without grouping) and the
    multi-part exact path agree with a per-conv brute force on every
    violation class: clean single, dup single, offset start, gapped
    range, clean 2-part split, 3-part split with cross-part duplicate
    turns, and the empty table."""
    import pyarrow as pa

    convs = {
        "clean_single": [[0, 1, 2]],
        "dup_single": [[0, 1, 1, 2]],       # n=4 nd=3
        "offset_single": [[1, 2, 3]],       # mn != 0
        "gap_single": [[0, 2]],             # mx != nd-1
        "clean_multi": [[0, 1, 2], [3, 4, 5]],
        "dupx_multi": [[0, 1, 2], [2, 3], [3, 4, 5]],  # dups across parts
    }
    rows = {"conv": [], "n": [], "mn": [], "mx": [], "ndl": [], "turns": []}
    for conv, parts in convs.items():
        for part in parts:
            uniq = sorted(set(part))
            rows["conv"].append(conv)
            rows["n"].append(len(part))
            rows["mn"].append(min(part))
            rows["mx"].append(max(part))
            rows["ndl"].append(len(uniq))
            rows["turns"].append(uniq)
    partials = pa.table(
        {
            "conv": rows["conv"],
            "ch": _conv_hash(rows["conv"]),
            "n": pa.array(rows["n"], type=pa.int64()),
            "mn": pa.array(rows["mn"], type=pa.int32()),
            "mx": pa.array(rows["mx"], type=pa.int32()),
            "ndl": pa.array(rows["ndl"], type=pa.int64()),
            "mask": pa.nulls(len(rows["conv"]), pa.int64()),
            "turns": pa.array(rows["turns"], type=pa.list_(pa.int32())),
        }
    )
    # brute force over the raw per-conv turn multisets
    dup = bad = 0
    for parts in convs.values():
        flat = [t for p in parts for t in p]
        nd = len(set(flat))
        dup += len(flat) - nd
        if min(flat) != 0 or max(flat) != nd - 1 or nd != len(flat):
            bad += 1
    got = V._merge_partials_local(partials)
    assert got == {"dup_rows_excess": dup, "ordering_violations": bad}
    assert got == {"dup_rows_excess": 3, "ordering_violations": 4}

    empty = partials.slice(0, 0)
    assert V._merge_partials_local(empty) == {
        "dup_rows_excess": 0,
        "ordering_violations": 0,
    }


def test_referential_violations(spark):
    child = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (7, "d"), (7, "e"), (7, "f"), (None, "g")],
        "fk long, payload string",
    )
    parent = spark.createDataFrame(
        [(1, "p1"), (2, "p2"), (2, "p2dup"), (3, "p3")], "pk long, name string"
    )
    got = {
        (r.fk, r.orphan_rows)
        for r in V.referential_violations(child, parent, "fk", "pk").collect()
    }
    # 7 has no parent (3 rows); NULL fk matches nothing (1 row, reported);
    # 1 and 2 are covered (parent dup keys must not multiply matches)
    assert got == {(7, 3), (None, 1)}
    # non-broadcast path: identical result
    got2 = {
        (r.fk, r.orphan_rows)
        for r in V.referential_violations(
            child, parent, "fk", "pk", broadcast_parent=False
        ).collect()
    }
    assert got2 == got


def test_referential_violations_plan_broadcasts(spark):
    child = spark.range(0, 1000).withColumnRenamed("id", "fk")
    parent = spark.range(0, 500).withColumnRenamed("id", "pk")
    plan = V.referential_violations(child, parent, "fk", "pk")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_violation_examples_bounded_and_deterministic(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "bad" if i % 2 else "ok", float(i)) for i in range(20)],
        "id long, status string, v double",
    )
    nullsafe = lambda c, p: c.isNull() | p  # noqa: E731
    cons = [
        V.Constraint("enum:status", "status", "enum",
                     nullsafe(F.col("status"), F.col("status") == "ok")),
        V.Constraint("range:v", "v", "range",
                     nullsafe(F.col("v"), F.col("v") < 15)),
        V.Constraint("never:fails", "id", "range",
                     nullsafe(F.col("id"), F.lit(True))),
    ]
    rows = V.violation_examples(df, cons, keep_cols=["id"], k=3).collect()
    by = {}
    for r in rows:
        by.setdefault(r.constraint, []).append((r.example_rank, r.id))
    # bounded at 3, deterministic order by id, ranks dense from 1
    assert sorted(by["enum:status"]) == [(1, 1), (2, 3), (3, 5)]
    assert sorted(by["range:v"]) == [(1, 15), (2, 16), (3, 17)]
    assert "never:fails" not in by
    # rerun identical (pure function of the data)
    again = V.violation_examples(df, cons, keep_cols=["id"], k=3).collect()
    assert {(r.constraint, r.example_rank, r.id) for r in again} == {
        (r.constraint, r.example_rank, r.id) for r in rows
    }


def test_merge_partials_local_hash_path_and_collisions():
    """A hash COLLISION between two different convs only routes both
    through the exact string-keyed path — results unchanged
    (collision-proof by construction, not by hash quality)."""
    import pyarrow as pa

    # clean single-part conv "a"; dup single "b"; 2-part clean "c"
    data = {
        "conv": ["a", "b", "c", "c"],
        "ch": _conv_hash(["a", "b", "c", "c"]),
        "n": pa.array([3, 4, 3, 3], type=pa.int64()),
        "mn": pa.array([0, 0, 0, 3], type=pa.int32()),
        "mx": pa.array([2, 2, 2, 5], type=pa.int32()),
        "ndl": pa.array([3, 3, 3, 3], type=pa.int64()),
        "mask": pa.nulls(4, pa.int64()),
        "turns": pa.array(
            [[0, 1, 2], [0, 1, 2], [0, 1, 2], [3, 4, 5]],
            type=pa.list_(pa.int32()),
        ),
    }
    want = V._merge_partials_local(pa.table(data))
    assert want == {"dup_rows_excess": 1, "ordering_violations": 1}

    # force a collision: single-part convs "a" and "b" share a hash ->
    # both take the exact path, keyed by their true conv strings
    collided = pa.table({**data, "ch": pa.array([7, 7, 9, 9], type=pa.int64())})
    assert V._merge_partials_local(collided) == want


def _spill_tables():
    """Two genuine-shaped spill tables (ch + ndl, like _fused_task writes):
    conv "a" spans both files with a duplicate turn and a non-zero start;
    everything else is clean."""
    import pyarrow as pa

    def tbl(convs, ns, mns, mxs, turns):
        return pa.table(
            {
                "conv": pa.array(convs, type=pa.string()),
                "ch": _conv_hash(convs),
                "n": pa.array(ns, type=pa.int64()),
                "mn": pa.array(mns, type=pa.int32()),
                "mx": pa.array(mxs, type=pa.int32()),
                "ndl": pa.array([len(t) for t in turns], type=pa.int64()),
                "mask": pa.nulls(len(convs), pa.int64()),
                "turns": pa.array(turns, type=pa.list_(pa.int32())),
            }
        )

    t1 = tbl(["a", "b"], [3, 3], [1, 0], [3, 2], [[1, 2, 3], [0, 1, 2]])
    t2 = tbl(["a", "c"], [2, 2], [3, 0], [4, 1], [[3, 4], [0, 1]])
    # conv a: n=5, union{1,2,3,4}=4 -> 1 dup excess; mn=1 -> ordering bad
    return t1, t2


def test_incremental_spill_watcher_ignores_inprogress(tmp_path):
    """A torn ``.part-*.inprogress-<pid>`` temp file (writer killed between
    write and rename) never reaches the spill reduce: only final ``part-*``
    names are read, and each part file that lands joins the result."""
    import pyarrow.parquet as pq

    t1, t2 = _spill_tables()
    d = str(tmp_path)
    pq.write_table(t1, f"{d}/part-00000.parquet")
    with open(f"{d}/.part-00001.parquet.inprogress-42", "wb") as f:
        f.write(b"not a parquet footer")
    assert V.reduce_spilled_partials(None, d) == V._merge_partials_local(t1)
    pq.write_table(t2, f"{d}/part-00001.parquet")
    assert V.reduce_spilled_partials(None, d) == {
        "dup_rows_excess": 1,
        "ordering_violations": 1,
    }


def test_incremental_spill_watcher_empty_dir(tmp_path):
    """A spill directory holding no final part file — empty, or only a torn
    in-progress file — reduces to clean counts."""
    clean = {"dup_rows_excess": 0, "ordering_violations": 0}
    assert V.reduce_spilled_partials(None, str(tmp_path)) == clean
    with open(tmp_path / ".part-00000.parquet.inprogress-7", "wb") as f:
        f.write(b"not a parquet footer")
    assert V.reduce_spilled_partials(None, str(tmp_path)) == clean


def _judge_partials(rows) -> dict:
    """Pure-Python per-conv judgment of ``(conv, n, turns)`` partial rows:
    a conv's rows are its n summed, its turn sets unioned."""
    convs: dict = {}
    for conv, n, turns in rows:
        total, seen = convs.get(conv, (0, set()))
        convs[conv] = (total + n, seen | set(turns))
    dup = bad = 0
    for total, seen in convs.values():
        dup += total - len(seen)
        bad += (
            min(seen) != 0 or max(seen) != len(seen) - 1 or len(seen) != total
        )
    return {"dup_rows_excess": dup, "ordering_violations": bad}


def test_reduce_spilled_partials_fuzz(spark, tmp_path, monkeypatch):
    """Seeded fuzz of the spill reduce: random per-conv partials scattered
    over random part files (some empty), with negative turns, convs
    spanning many files, ``n`` above the turn-list length (duplicates
    inside one task) and FORCED ``ch`` collisions between different convs.
    The merge on the driver under the size cap, and in Spark tasks with
    the cap forced to 0, must equal a pure-Python judgment of the
    generated rows; so must a spill of only empty part files."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(20260819)
    trials = []
    for trial in range(8):
        n_convs = rng.randint(0, 40)
        rows = []  # (conv, ch, n, turns)
        for c in range(n_convs):
            # odd trials collide hashes on purpose: different convs, same ch
            ch = c % max(1, n_convs // 3) if trial % 2 else c
            for _ in range(rng.choice([1, 1, 1, 2, 3, 6])):
                lo = rng.choice([0, 0, 0, 1, -2])
                turns = sorted(rng.sample(range(lo, lo + 8), rng.randint(1, 5)))
                extra = rng.randint(1, 3) if rng.random() < 0.3 else 0
                rows.append((f"conv{c}", ch, len(turns) + extra, turns))
        rng.shuffle(rows)
        n_files = rng.randint(1, max(2, len(rows) // 2)) + rng.choice([0, 0, 2])
        d = tmp_path / f"trial{trial}"
        d.mkdir()
        for i in range(n_files):
            chunk = [
                {"conv": conv, "ch": ch, "n": n, "mn": t[0], "mx": t[-1],
                 "ndl": len(t), "turns": t}
                for conv, ch, n, t in rows[i::n_files]
            ]
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=V._partial_schema()),
                str(d / f"part-{i:05d}.parquet"),
            )
        trials.append((str(d), _judge_partials([(r[0], r[2], r[3]) for r in rows])))
    d = tmp_path / "empty_parts"
    d.mkdir()
    for i in range(2):
        pq.write_table(V._partial_schema().empty_table(), str(d / f"part-{i:05d}.parquet"))
    trials.append((str(d), _judge_partials([])))

    for d, want in trials:
        assert V.reduce_spilled_partials(spark, d) == want, d
    monkeypatch.setattr(V, "_DRIVER_MERGE_MAX_BYTES", 0)
    for d, want in trials:
        assert V.reduce_spilled_partials(spark, d) == want, d


def test_integrity_fold_emits_deterministic_ch(spark, tx_paths):
    """Spilled partials carry the 64-bit conv hash (FNV-1a-64 of the conv's
    bytes, stored as int64), identical across independent fold
    invocations and equal for equal convs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fold = V._integrity_fold("conv_id", "turn_idx")
    src = pq.read_table(tx_paths["viol"]).select(["conv_id", "turn_idx"])
    out1 = pa.Table.from_batches(list(fold(src.to_batches())))
    out2 = pa.Table.from_batches(list(fold(src.to_batches())))
    # the schema every spilled part file has (empty ones included)
    assert out1.schema == V._partial_schema()
    assert out1.column("ch").to_pylist() == out2.column("ch").to_pylist()
    # hash is a pure function of conv: equal convs share it
    df = out1.select(["conv", "ch"]).to_pandas()
    assert (df.groupby("conv")["ch"].nunique() == 1).all()


# --- the run-length integrity fold ----------------------------------------------

from hypothesis import given, settings, strategies as hst  # noqa: E402


def _groupby_partials(rows):
    """The hash-only fold as engine revs 15-17 wrote it: one group_by per task,
    every partial with its full distinct turn list (no null ``turns``, no
    ``mask``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = pa.table(
        {"conv": pa.array([r[0] for r in rows], pa.string()),
         "turn": pa.array([r[1] for r in rows], pa.int32())}
    ).drop_null()
    g = t.group_by(["conv"]).aggregate(
        [("turn", "count"), ("turn", "min"), ("turn", "max"), ("turn", "distinct")]
    )
    turns = g["turn_distinct"].cast(pa.list_(pa.int32()))
    return pa.Table.from_arrays(
        [g["conv"], _conv_hash(g["conv"].to_pylist()), g["turn_count"],
         g["turn_min"], g["turn_max"],
         pc.list_value_length(turns).cast(pa.int64()), pa.nulls(len(g), pa.int64()), turns],
        schema=V._partial_schema(),
    )


def _fold_partials(rows):
    import pyarrow as pa

    batch = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.string()),
         pa.array([r[1] for r in rows], pa.int32())],
        names=["conv", "turn"],
    )
    return pa.Table.from_batches(
        list(V._integrity_fold("conv", "turn")([batch])), schema=V._partial_schema()
    )


@hst.composite
def _task_rows(draw):
    """Tasks of (conv, turn) rows: conversation runs (clean, gapped,
    negative, int32-extreme, with a duplicate inside the run), hot convs,
    a conv in two runs of one task, NULL keys; optionally shuffled within
    each task."""
    runs = []
    for _ in range(draw(hst.integers(0, 12))):
        conv = draw(hst.sampled_from(["a", "b", "c", "d", "hot"]))
        start = draw(hst.sampled_from([0, 0, 0, 1, -3, 60, -(2**31), 2**31 - 50]))
        length = draw(hst.integers(1, 40 if conv == "hot" else 6))
        turns = list(range(start, start + length))
        kind = draw(hst.sampled_from(["clean", "clean", "gap", "dup"]))
        if kind == "gap" and length > 1:
            turns = turns[:1] + [t + 2 for t in turns[1:]]
        if kind == "dup":
            k = draw(hst.integers(0, length - 1))
            turns.insert(k, turns[k])
        runs.append([(conv, t) for t in turns])
    rows = [r for run in runs for r in run]
    for _ in range(draw(hst.integers(0, 3))):
        pos = draw(hst.integers(0, len(rows)))
        rows.insert(pos, draw(hst.sampled_from([(None, 0), ("a", None), (None, None)])))
    n_tasks = draw(hst.integers(1, 3))
    cuts = sorted(draw(hst.lists(hst.integers(0, len(rows)), min_size=n_tasks - 1,
                                 max_size=n_tasks - 1)))
    tasks = [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]
    if draw(hst.booleans()):
        tasks = [draw(hst.permutations(t)) for t in tasks]
    return tasks


def _brute_force(tasks) -> dict:
    keyed = [(c, t) for task in tasks for c, t in task if c is not None and t is not None]
    return _judge_partials([(c, 1, [t]) for c, t in keyed])


def _turn_set(r) -> list:
    """A partial's distinct turns: its mask bits, else its list, else (an
    empty or null list) mn..mx."""
    if r["mask"] is not None:
        return [b for b in range(64) if r["mask"] >> b & 1]
    return sorted(set(r["turns"] or range(r["mn"], r["mx"] + 1)))


def _partial_rows(t):
    """A part table's partials as comparable tuples, each with its turn set."""
    return sorted(
        (r["conv"], r["ch"], r["n"], r["mn"], r["mx"], r["ndl"], tuple(_turn_set(r)))
        for r in t.to_pylist()
    )


@given(_task_rows(), hst.data())
@settings(max_examples=300, deadline=None)
def test_run_fold_equals_groupby_fold_and_bruteforce(tasks, data):
    """The fold (run path where it applies), the fold with the sort path
    forced, and the rev-17 ``group_by`` fold give equal partials per task,
    and each merge, of one kind or of part files of all three mixed,
    equals a brute force over the rows."""
    from unittest import mock

    import pyarrow as pa

    tasks = [t for t in tasks if t]
    want = _brute_force(tasks)
    new = [_fold_partials(t) for t in tasks]
    with mock.patch.object(V, "_run_partials", lambda conv, idx: None):
        srt = [_fold_partials(t) for t in tasks]
    old = [_groupby_partials(t) for t in tasks]
    for task, part, s, o in zip(tasks, new, srt, old):
        keyed = sum(c is not None and t is not None for c, t in task)
        assert sum(part.column("n").to_pylist()) == keyed
        assert _partial_rows(s) == _partial_rows(o)
        # turns in [0, 64) spill as a mask; any other partial spills an
        # empty list when dense, else its distinct turns
        for p in (part, s):
            assert p.column("turns").null_count == 0
            for r in p.to_pylist():
                small = 0 <= r["mn"] and r["mx"] < 64
                dense = r["ndl"] == r["mx"] - r["mn"] + 1
                assert (r["mask"] is not None) == small
                assert (not r["turns"]) == (small or dense)
                assert r["turns"] == sorted(set(r["turns"]))
            ch = p.column("ch").to_pylist()
            assert ch == sorted(ch)
    if not tasks:
        return
    for parts in (new, srt, old):
        assert V._merge_partials_local(pa.concat_tables(parts)) == want
    # part files of the three folds side by side
    mixed = [data.draw(hst.sampled_from(trio)) for trio in zip(new, srt, old)]
    assert V._merge_partials_local(pa.concat_tables(mixed)) == want


def _fnv1a64(b: bytes) -> int:
    h = 0xCBF29CE484222325
    for x in b:
        h = ((h ^ x) * 0x100000001B3) % 2**64
    return h


def _ref_hash(s: str) -> int:
    """The conv hash of one string, one byte at a time."""
    import hashlib

    b = s.encode()
    if len(b) > V._FNV_MAX_BYTES:
        return int.from_bytes(hashlib.blake2b(b, digest_size=8).digest(), "little")
    return _fnv1a64(b)


@given(hst.lists(hst.one_of(hst.text(max_size=8), hst.text(min_size=60, max_size=70),
                            hst.sampled_from(["", "é", "日本語", "conv-0001234"])),
                 max_size=30),
       hst.integers(0, 5))
@settings(max_examples=200, deadline=None)
def test_conv_hash_is_fnv1a_of_the_bytes(convs, cut):
    """FNV-1a-64 of each string's UTF-8 bytes, blake2b past
    ``_FNV_MAX_BYTES`` (empty and non-ASCII strings included), as int64;
    a slice of the array hashes like the same strings unsliced."""
    import numpy as np
    import pyarrow as pa

    arr = pa.array(convs, pa.string())
    got = V._conv_hash(arr)
    assert got.dtype == np.int64
    assert got.view(np.uint64).tolist() == [_ref_hash(c) for c in convs]
    cut = min(cut, len(convs))
    assert V._conv_hash(arr.slice(cut)).tolist() == got[cut:].tolist()
    assert V._conv_hash(arr.slice(0, cut)).tolist() == got[:cut].tolist()


def test_conv_hash_equal_across_processes():
    """The hash is a pure function of the bytes: two interpreters with
    different PYTHONHASHSEEDs give this process's values."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow as pa

    convs = ["", "a", "conv-0001234", "日本語", "x" * 200]
    code = (
        "import pyarrow as pa; from jsonschema_infer_spark.operators import validate as V; "
        f"print(V._conv_hash(pa.array({convs!r})).tolist())"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    want = V._conv_hash(pa.array(convs)).tolist()
    for seed in ("1", "2"):
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=root, capture_output=True, text=True,
            check=True, env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout
        assert json.loads(out) == want


def test_conv_hash_of_a_1mb_conv_id_is_linear():
    """A 1 MB conv id costs its bytes once (blake2b), not one vectorized
    pass per byte over every string: well under a second."""
    import time

    import pyarrow as pa

    convs = pa.array(["z" * (1 << 20)] + [f"conv-{i}" for i in range(20_000)])
    t = time.perf_counter()
    got = V._conv_hash(convs)
    assert time.perf_counter() - t < 1.0
    assert int(got.view("uint64")[0]) == _ref_hash("z" * (1 << 20))
    assert int(got.view("uint64")[7]) == _fnv1a64(b"conv-6")


def _mask_of(turns) -> int:
    """The int64 ``mask`` of a set of turns in [0, 64)."""
    m = sum(1 << t for t in set(turns))
    return m - (1 << 64) if m >> 63 else m


def _partials_table(rows, ch, masked=True):
    """Hand-built partials from ``(conv, n, turns)`` rows and their ``ch``:
    a row whose turns lie in [0, 64) carries them as its mask when
    ``masked``, any other as its list."""
    import pyarrow as pa

    return pa.Table.from_pylist(
        [{"conv": conv, "ch": int(h), "n": n, "mn": min(t), "mx": max(t),
          "ndl": len(set(t)),
          "mask": _mask_of(t) if masked and 0 <= min(t) and max(t) < 64 else None,
          "turns": None if masked and 0 <= min(t) and max(t) < 64 else sorted(set(t))}
         for (conv, n, t), h in zip(rows, ch)],
        schema=V._partial_schema(),
    )


def _as_null_mask(t, pick):
    """``t`` with the partials ``pick`` marks rewritten the way a hand-built
    partial may carry its turns: a null mask and its list (null when
    dense)."""
    import pyarrow as pa

    rows = t.to_pylist()
    for r, p in zip(rows, pick):
        if p and r["mask"] is not None:
            turns = _turn_set(r)
            r["mask"] = None
            r["turns"] = None if len(turns) == r["mx"] - r["mn"] + 1 else turns
    return pa.Table.from_pylist(rows, schema=V._partial_schema())


def _merge_in_ranges(tables, k, ranges=None) -> dict:
    """``_merge_ranges`` with ``_MERGE_THREADS`` = k."""
    from concurrent.futures import ThreadPoolExecutor
    from unittest import mock

    with ThreadPoolExecutor(k) as pool, mock.patch.object(V, "_MERGE_THREADS", k):
        got, used = V._merge_ranges(tables, pool)
    assert 1 <= used <= k and used == (ranges or used)
    return got


@hst.composite
def _spill_partials(draw):
    """Part tables of hand-built partials of convs split over tasks, with
    ``ch`` the real hash or forced to collide across convs, masks set or
    all null, each table in ``ch`` order or not. Returns (rows, tables)."""
    import numpy as np
    import pyarrow as pa

    rows = []
    for c in range(draw(hst.integers(0, 30))):
        conv = f"conv{c}"
        for _ in range(draw(hst.integers(1, 4))):
            turns = sorted(draw(hst.sets(hst.integers(-2, 8), min_size=1, max_size=5)))
            rows.append((conv, len(turns) + draw(hst.sampled_from([0, 0, 1])), turns))
    rows = draw(hst.permutations(rows))
    ch = V._conv_hash(pa.array([r[0] for r in rows], pa.string()))
    if draw(hst.booleans()):
        ch = ch % 3
    masked, k = draw(hst.booleans()), draw(hst.integers(1, 4))
    tables = [_partials_table(rows[i::k], ch[i::k], masked) for i in range(k)]
    if draw(hst.booleans()):
        tables = [t.take(np.argsort(t.column("ch").to_numpy(), kind="stable")) for t in tables]
    return rows, tables


@given(_spill_partials())
@settings(max_examples=150, deadline=None)
def test_one_range_equals_four_ranges(drawn):
    """``_merge_ranges`` over one ``ch`` range and over up to four agree
    with a brute force: forced ``ch`` collisions, masks and lists, and
    part files out of ``ch`` order included."""
    rows, tables = drawn
    want = _judge_partials(rows)
    for k in (1, 4):
        assert _merge_in_ranges(tables, k) == want, k


def test_range_cut_never_splits_a_ch_run():
    """The cuts of four ranges fall on the runs of ``ch`` 5 and 9 of the
    largest part file. Each run spans three files and holds a violating
    conv next to colliding ones: judged in one range, four ranges equal
    one and the brute force."""
    files = [
        [("a0", 0, 1, [0]), ("a1", 0, 2, [0, 1]), ("a2", 0, 1, [0]), ("a3", 0, 1, [1]),
         ("x", 5, 2, [0, 1]), ("x", 5, 1, [5]), ("y", 5, 1, [0]), ("v", 5, 1, [0]),
         ("v", 5, 1, [1]), ("u", 5, 3, [0, 1, 2]),
         ("z", 9, 2, [0, 1]), ("z", 9, 1, [2]), ("w", 9, 1, [0]), ("w", 9, 1, [2]),
         ("t", 9, 1, [0]), ("t", 9, 1, [1])],
        [("x", 5, 2, [1, 2]), ("z", 9, 1, [3]), ("q", 12, 1, [0])],
        [("x", 5, 2, [3, 4]), ("y", 5, 2, [1, 2]), ("w", 9, 2, [1, 70])],
    ]
    tables = [_partials_table([(c, n, t) for c, _, n, t in f], [r[1] for r in f])
              for f in files]
    rows = [(conv, n, t) for f in files for conv, _, n, t in f]
    want = _judge_partials(rows)
    # x: 7 rows over turns 0..5; a3 starts at 1; w: 4 rows over 0, 1, 2, 70
    assert want == {"dup_rows_excess": 1, "ordering_violations": 3}
    assert _merge_in_ranges(tables, 4, ranges=3) == _merge_in_ranges(tables, 1) == want


def test_mask_path_checks_conv_strings():
    """Two convs forced to one ``ch``, each in two masked partials, are
    told apart by their strings: OR-ing their masks would hide the
    duplicate turn of "a" and the gap of "b"."""
    import pyarrow as pa

    rows = [("a", 2, [0, 1]), ("b", 1, [0]), ("a", 1, [1]), ("b", 1, [2])]
    table = _partials_table(rows, [7] * 4)
    assert table.column("mask").null_count == 0
    want = _judge_partials(rows)
    assert want == {"dup_rows_excess": 1, "ordering_violations": 2}
    assert V._merge_partials_local(table) == want
    assert V._merge_partials_local(pa.concat_tables([table, table.slice(0, 0)])) == want


def test_merge_reads_null_masks_as_list_or_range():
    """Hand-built partials with a null mask: a conv's turns are the union
    of one partial's mask, another's list and a third's range mn..mx."""
    import pyarrow as pa

    t = pa.Table.from_pylist(
        [{"conv": "c", "ch": 1, "n": 2, "mn": 0, "mx": 1, "ndl": 2, "mask": 0b11, "turns": None},
         {"conv": "c", "ch": 1, "n": 2, "mn": 2, "mx": 4, "ndl": 2, "mask": None, "turns": [2, 4]},
         {"conv": "c", "ch": 1, "n": 2, "mn": 5, "mx": 6, "ndl": 2, "mask": None, "turns": None},
         {"conv": "d", "ch": 2, "n": 1, "mn": 3, "mx": 3, "ndl": 1, "mask": None, "turns": None},
         {"conv": "d", "ch": 2, "n": 3, "mn": 0, "mx": 2, "ndl": 3, "mask": None, "turns": None}],
        schema=V._partial_schema(),
    )
    # c: turns 0, 1, 2, 4, 5, 6 over 6 rows -> a gap; d: 0..3, clean
    assert V._merge_partials_local(t) == {"dup_rows_excess": 0, "ordering_violations": 1}
    assert _merge_in_ranges([t.slice(0, 2), t.slice(2)], 4) == {
        "dup_rows_excess": 0, "ordering_violations": 1,
    }


@hst.composite
def _mask_spills(draw):
    """Tasks of (conv, turn) rows around the mask's width (turns at -2..5
    and 61..65, duplicates inside one task, a conv with turns both in and
    out of [0, 64) in one task, in any row order), folded into part
    tables; then ``ch`` optionally forced to collide across tasks (few
    values, so the range cuts fall on collisions), and some partials
    rewritten with a null mask. Returns (tasks, part tables)."""
    import numpy as np
    import pyarrow as pa

    turn = hst.sampled_from([-2, -1, 0, 1, 2, 3, 4, 5, 61, 62, 63, 64, 65])
    tasks = []
    for _ in range(draw(hst.integers(1, 4))):
        rows = []
        for _ in range(draw(hst.integers(1, 8))):
            conv = draw(hst.sampled_from(["a", "b", "c", "d", "e"]))
            rows += [(conv, t) for t in draw(hst.lists(turn, min_size=1, max_size=6))]
        tasks.append(draw(hst.permutations(rows)) if draw(hst.booleans()) else rows)
    parts = [_fold_partials(t) for t in tasks]
    modulus = draw(hst.sampled_from([None, 1, 2, 3]))
    if modulus:
        parts = [p.set_column(1, "ch", pa.array(p.column("ch").to_numpy() % modulus))
                 for p in parts]
        if draw(hst.booleans()):
            parts = [p.take(np.argsort(p.column("ch").to_numpy(), kind="stable"))
                     for p in parts]
    parts = [_as_null_mask(p, draw(hst.lists(hst.booleans(), min_size=p.num_rows,
                                             max_size=p.num_rows)))
             for p in parts]
    return tasks, parts


@given(_mask_spills())
@settings(max_examples=300, deadline=None)
def test_mask_merge_equals_bruteforce(drawn):
    """Fold + merge against a brute force over the rows, around the mask's
    width: the merge of one table, and of the part tables in one range
    and in up to four."""
    import pyarrow as pa

    tasks, parts = drawn
    want = _brute_force(tasks)
    assert V._merge_partials_local(pa.concat_tables(parts)) == want
    for k in (1, 4):
        assert _merge_in_ranges(parts, k) == want, k


@given(_mask_spills())
@settings(max_examples=12, deadline=None)
def test_mask_merge_equals_bruteforce_in_spark_tasks(spark, drawn):
    """The inputs of ``test_mask_merge_equals_bruteforce`` as part files,
    reduced on the driver and, with the size cap at 0, in Spark tasks
    (`_merge_on_executors`)."""
    import tempfile
    from unittest import mock

    import pyarrow.parquet as pq

    tasks, parts = drawn
    want = _brute_force(tasks)
    with tempfile.TemporaryDirectory() as d:
        for i, p in enumerate(parts):
            pq.write_table(p, f"{d}/part-{i:05d}.parquet")
        assert V.reduce_spilled_partials(spark, d) == want
        with mock.patch.object(V, "_DRIVER_MERGE_MAX_BYTES", 0):
            assert V.reduce_spilled_partials(spark, d) == want


def test_run_fold_takes_the_run_path_on_clustered_rows():
    rows = [("a", 0), ("a", 1), ("a", 2), ("b", 0), ("b", 2), ("a", 3)]
    got = _fold_partials(rows).to_pylist()
    # three runs: a dense "a", a gapped "b" and "a" again, each with its
    # turns as mask bits and an empty list. They leave in ch order, so the
    # two "a" partials, which the merge unions, are adjacent
    assert sorted((r["conv"], r["n"], r["mn"], r["mx"], r["ndl"], r["mask"], r["turns"])
                  for r in got) == [
        ("a", 1, 3, 3, 1, 0b1000, []), ("a", 3, 0, 2, 3, 0b111, []),
        ("b", 2, 0, 2, 2, 0b101, []),
    ]
    assert [r["ch"] for r in got] == sorted(r["ch"] for r in got)
    assert [r["conv"] for r in got] in (["a", "a", "b"], ["b", "a", "a"])


def test_spark_reduces_expand_null_turns(spark, tmp_path, monkeypatch):
    """The merge in Spark tasks reads a mask as its bits and, with a null
    mask, an empty or null ``turns`` as mn..mx."""
    import pyarrow.parquet as pq

    tasks = [[("a", 0), ("a", 1), ("b", 0), ("b", 1)], [("a", 1), ("a", 2), ("c", 1)],
             [("c", 0), ("b", 3), ("b", 2)], [("d", 70), ("d", 71), ("d", 72)],
             [("a", 3), ("e", 0), ("e", 1)]]
    want = _brute_force(tasks)
    for i, t in enumerate(tasks):
        part = _groupby_partials(t) if i == 2 else _fold_partials(t)
        if i == 4:
            part = _as_null_mask(part, [True] * part.num_rows)
        pq.write_table(part, str(tmp_path / f"part-{i:05d}.parquet"))
    spill = pq.read_table(str(tmp_path))
    assert spill.column("turns").null_count > 0 and spill.column("mask").null_count > 0
    assert spill.column("mask").null_count < spill.num_rows
    partials = spark.read.parquet(str(tmp_path))
    assert V._merge_on_executors(partials) == want
    monkeypatch.setattr(V, "_DRIVER_MERGE_MAX_BYTES", 0)
    assert V.reduce_spilled_partials(spark, str(tmp_path), {0: 4, 1: 3, 2: 3, 3: 3, 4: 3}) == want
