"""Smoke run of every workload at tiny scale (2k convs) with its output
checks and layer replays, the negative self-test of the checks, and the
benchmark's command-line contract.

    python3 -m pytest contractbench -q -p no:cacheprovider

Run it on its own, not in one pytest process with tests/: both start a
Spark session and this file stops its own at the end."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import hostinfo  # noqa: E402
import run  # noqa: E402
import snapshots  # noqa: E402


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("contractbench"))
    cores, mem = hostinfo.spark_resources()
    spark = hostinfo.start_spark(work, ROOT, cores, mem)
    yield spark, cores, work
    hostinfo.stop_spark(spark)


@pytest.fixture
def quick(monkeypatch):
    monkeypatch.setattr(run, "WARMUP_OPS", 1)
    monkeypatch.setattr(run, "MIN_OPS", 1)


def _setup(session, workload, name):
    spark, cores, work = session
    d = os.path.join(work, name)
    return (*run.setup(workload, 7, "tiny", d, lambda: spark, cores), d)


@pytest.mark.parametrize("workload", sorted(snapshots.WORKLOADS))
def test_workload_smoke(session, quick, workload):
    bench, info, work = _setup(session, workload, workload)
    samples = bench.run_ops(0.5)
    failures = [s["problems"] for s in bench.warmups + samples if not s["ok"]]
    assert not failures
    e2e = run.end_to_end(bench, samples, info, peak_rss=1)
    assert set(e2e) == set(run.END_TO_END)
    assert e2e["success_rate"] == 1.0 and e2e["validate_rows_per_s"] > 0

    traced, layers = run.traced_run(bench, 0.5, work, info)  # raises on a replay mismatch
    assert all(s["ok"] for s in traced)
    assert set(layers) == set(run.PER_LAYER)
    assert all(math.isfinite(v) for v in layers.values())
    # permuted rows spread each conv over several tasks
    shuffled = snapshots.WORKLOADS[workload]["shuffle"]
    assert (layers["validate.partials_per_conv"] > 1.5) == shuffled


def test_wrong_expectation_counts_as_failed(session, quick):
    bench, _, _ = _setup(session, "contract_clustered", "negative")
    assert all(s["ok"] for s in bench.warmups)
    bench.expected["logged"]["required:role"] += 1
    samples = bench.run_ops(0)
    line = run.result_line(bench, samples, None, run.END_TO_END)
    assert line["failed"] == len(samples) > 0 and not line["correct"]
    assert any("required:role" in p for p in samples[0]["problems"])

    bench.expected["logged"]["required:role"] -= 1
    bench.expected["integrity"]["dup_rows_excess"] += 1
    assert not bench.run_ops(0)[0]["ok"]


def test_plain_page_share(tmp_path):
    words = pa.array([f"text number {i}" for i in range(5000)])
    for use_dictionary, want in ((True, 0.0), (False, 1.0)):
        p = str(tmp_path / f"d{use_dictionary}.parquet")
        pq.write_table(pa.table({"text": words}), p, use_dictionary=use_dictionary)
        assert snapshots.plain_page_share(p, "text") == want


def test_benchmark_json_matches_the_code():
    bench = _load(os.path.join(ROOT, "BENCHMARK.json"))
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(snapshots.WORKLOADS)
    mapped = _load(os.path.join(HERE, "layer_map.json"))["metrics"]
    assert set(mapped) == set(run.PER_LAYER)


def _cli(cwd, *extra):
    # the session fixture put the repo on PYTHONPATH for Spark's workers
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "contractbench/run.py", "--workload", "contract_clustered",
         "--seed", "3", "--seconds", "0.5", "--trace", "0", *extra],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )


def test_cli_result_line(tmp_path):
    p = _cli(ROOT, "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert {k: v["unit"] for k, v in line["metrics"].items()} == run.END_TO_END

    # a checkout holding only the benchmark cannot build the engine: fail
    bare = tmp_path / "bare"
    shutil.copytree(HERE, bare / "contractbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = _cli(str(bare))
    assert p.returncode != 0 and p.stdout == ""
