"""Workload inputs: the clean and violated transcript snapshots each op
reads, the oracle every op's output is checked against, and the measured
input properties that tell the workloads apart.

Everything here is a pure function of (workload, seed, scale). The library
sees only the parquet files written here."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from jsonschema_infer_spark.sources import transcripts as T

# Sizes per scale. "full" keeps the headline table's row groups (the
# library's 128Ki-row default, one row group per task) but has 80k convs
# instead of 300k: four tasks, one per core, and a run short enough that
# every run of the benchmark fits its total time budget. Smaller row groups
# would mostly measure PySpark's fixed cost per task, about 0.25 s on a
# 4-core host, not the engine.
SCALES = {
    "full": {"n_convs": 80_000, "hot_turns": 4096, "row_group_size": 131_072},
    "tiny": {"n_convs": 2_000, "hot_turns": 256, "row_group_size": 2_048},
}

# Per workload: is the row order permuted, how large is the generator's
# text pool, and is the validation call run_validation_report. Why each
# workload exists is written in BENCHMARK.json.
WORKLOADS = {
    "contract_clustered": {"shuffle": False, "text_pool_size": 4096, "report": False},
    "contract_shuffled_text": {"shuffle": True, "text_pool_size": 32_768, "report": False},
    "report_sinks": {"shuffle": False, "text_pool_size": 4096, "report": True},
}

HOT_CONVS = 3


def build(workload: str, seed: int, scale: str, out_dir: str) -> dict:
    """Generate, inject and write both snapshots under ``out_dir``.
    Returns the paths, the injection log, the in-memory violated table and
    the seconds each of the three steps took."""
    wl, sc = WORKLOADS[workload], SCALES[scale]
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.perf_counter()
    clean = T.generate_transcripts(
        sc["n_convs"], seed=seed, hot_convs=HOT_CONVS,
        hot_turns=sc["hot_turns"], text_pool_size=wl["text_pool_size"],
    )
    t1 = time.perf_counter()
    violated, log = T.inject_violations(clean, seed=seed)
    if wl["shuffle"]:
        # inject_violations needs generator order (turn k of a conv is its
        # k-th row), so the permutation comes after it, on both snapshots
        rng = np.random.default_rng(seed ^ 0x5AFF1E)
        clean = T.decode(clean).take(pa.array(rng.permutation(clean.num_rows)))
        violated = violated.take(pa.array(rng.permutation(violated.num_rows)))
    t2 = time.perf_counter()
    clean_path = os.path.join(out_dir, "clean.parquet")
    violated_path = os.path.join(out_dir, "violated.parquet")
    T.write_parquet(clean, clean_path, row_group_size=sc["row_group_size"])
    T.write_parquet(violated, violated_path, row_group_size=sc["row_group_size"])
    t3 = time.perf_counter()
    return {
        "clean": clean_path,
        "violated": violated_path,
        "clean_rows": clean.num_rows,
        "violated_rows": violated.num_rows,
        "log": log,
        "violated_table": violated,
        "secs": {"generate": t1 - t0, "inject": t2 - t1, "write": t3 - t2},
    }


# --- oracle -------------------------------------------------------------------

# constraint name -> injection-log list whose length is its violation count;
# every other constraint of the clean snapshot's contract must count 0
LOGGED_CONSTRAINTS = {
    "required:role": "null_role_rows",
    "required:text": "null_text_rows",
    "enum:role": "bad_role_rows",
}


def oracle(snap: dict) -> dict:
    """Expected outputs of validating the violated snapshot, from the
    injection log plus one DuckDB query that does not touch the engine.

    ``dup_rows_excess`` is the number of logged duplicate keys, less those
    whose original row was itself removed to make a gap (turn 1) or a
    non-zero start (turn 0): the copy then restores the key instead of
    duplicating it. DuckDB recounts the excess independently and the two
    must agree, so a wrong oracle fails the set-up, not an op."""
    import duckdb

    log = snap["log"]
    removed = {(str(c), 1) for c in log["gap_convs"]}
    removed |= {(str(c), 0) for c in log["shift_convs"]}
    dup = sum((str(c), int(t)) not in removed for c, t in log["dup_keys"])
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        ordering, dup_db = con.execute(
            """
            SELECT count(*) FILTER (WHERE mn <> 0 OR mx <> nd - 1 OR nd <> n),
                   coalesce(sum(n - nd), 0)
            FROM (SELECT count(*) AS n, count(DISTINCT turn_idx) AS nd,
                         min(turn_idx) AS mn, max(turn_idx) AS mx
                  FROM read_parquet(?)
                  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
                  GROUP BY conv_id)
            """,
            [snap["violated"]],
        ).fetchone()
    finally:
        con.close()
    if int(dup_db) != dup:
        raise RuntimeError(
            f"oracle disagrees with itself: log gives dup_rows_excess={dup}, "
            f"DuckDB counts {dup_db}"
        )
    return {
        "rows": snap["violated_rows"],
        "integrity": {"dup_rows_excess": dup, "ordering_violations": int(ordering)},
        "logged": {k: len(log[v]) for k, v in LOGGED_CONSTRAINTS.items()},
    }


def expected_counts(expected: dict, names) -> dict:
    """Per-constraint counts the contract's constraint ``names`` must
    produce on the violated snapshot."""
    return {n: expected["logged"].get(n, 0) for n in names}


# --- measured input properties ------------------------------------------------


def _varint(buf: bytes, pos: int) -> tuple:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _skip(buf: bytes, pos: int, typ: int) -> int:
    """Skip one Thrift compact-protocol value of type ``typ``."""
    if typ in (1, 2):  # bool field: the value lives in the field header
        return pos
    if typ == 3:
        return pos + 1
    if typ in (4, 5, 6):
        return _varint(buf, pos)[1]
    if typ == 7:
        return pos + 8
    if typ == 8:
        n, pos = _varint(buf, pos)
        return pos + n
    if typ in (9, 10):  # list / set
        head = buf[pos]
        pos += 1
        n, etyp = head >> 4, head & 0x0F
        if n == 15:
            n, pos = _varint(buf, pos)
        for _ in range(n):
            # bool elements take one byte each, unlike bool fields
            pos = pos + 1 if etyp in (1, 2) else _skip(buf, pos, etyp)
        return pos
    if typ == 11:  # map
        n, pos = _varint(buf, pos)
        if n:
            kv = buf[pos]
            pos += 1
            for _ in range(n):
                pos = _skip(buf, pos, kv >> 4)
                pos = _skip(buf, pos, kv & 0x0F)
        return pos
    if typ == 12:
        return _struct(buf, pos)[1]
    raise ValueError(f"unknown thrift compact type {typ}")


def _struct(buf: bytes, pos: int) -> tuple:
    """Read one compact-protocol struct: ({field id: int or nested dict},
    end position). Values of other types are skipped."""
    fields: dict = {}
    fid = 0
    while True:
        head = buf[pos]
        pos += 1
        if head == 0:
            return fields, pos
        typ, delta = head & 0x0F, head >> 4
        if delta:
            fid += delta
        else:
            z, pos = _varint(buf, pos)
            fid = (z >> 1) ^ -(z & 1)
        if typ in (4, 5, 6):
            z, pos = _varint(buf, pos)
            fields[fid] = (z >> 1) ^ -(z & 1)
        elif typ == 12:
            fields[fid], pos = _struct(buf, pos)
        else:
            pos = _skip(buf, pos, typ)


_PLAIN = 0
_DATA_PAGE, _DATA_PAGE_V2 = 0, 3


def plain_page_share(path: str, column: str) -> float:
    """Share of ``column``'s page bytes that sit in PLAIN-encoded data
    pages, read from the page headers. A dictionary-encoded chunk whose
    dictionary overflows falls back to PLAIN pages part-way, which the
    column-chunk metadata alone does not show."""
    pf = pq.ParquetFile(path)
    j = pf.schema_arrow.names.index(column)
    plain = total = 0
    with open(path, "rb") as f:
        for rg in range(pf.metadata.num_row_groups):
            cc = pf.metadata.row_group(rg).column(j)
            start = cc.dictionary_page_offset if cc.has_dictionary_page else cc.data_page_offset
            f.seek(start)
            buf = f.read(cc.total_compressed_size)
            pos = 0
            while pos < len(buf):
                head, pos = _struct(buf, pos)
                size = head[3]  # compressed_page_size
                if head[1] == _DATA_PAGE:
                    enc = head[5][2]
                elif head[1] == _DATA_PAGE_V2:
                    enc = head[8][4]
                else:  # dictionary or index page
                    enc = None
                if enc == _PLAIN:
                    plain += size
                total += size
                pos += size
    return plain / total if total else 0.0


def task_rows(path: str, rg_per_task: int) -> list:
    """Rows of each fused-scan task: the engine splits a file into runs of
    ``rg_per_task`` row groups (infer_spark._list_rg_tasks)."""
    md = pq.ParquetFile(path).metadata
    n = md.num_row_groups
    return [
        sum(md.row_group(i).num_rows for i in range(lo, min(lo + rg_per_task, n)))
        for lo in range(0, n, rg_per_task)
    ]


def input_properties(snap: dict, rg_per_task: int) -> dict:
    """Properties of the violated snapshot that the engine's cost depends
    on, measured rather than assumed."""
    text = snap["violated_table"].column("text")
    valid = len(text) - text.null_count
    rows = task_rows(snap["violated"], rg_per_task)
    return {
        "text_plain_share": plain_page_share(snap["violated"], "text"),
        "clean_text_plain_share": plain_page_share(snap["clean"], "text"),
        "text_distinct_ratio": pc.count_distinct(text).as_py() / max(valid, 1),
        "tasks": len(rows),
        "task_rows_max_over_mean": max(rows) / (sum(rows) / len(rows)),
    }
