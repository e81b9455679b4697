"""Bench defaults fit the host; the scaling run's --py-files zip holds
the whole package; the headline pipeline checks its counts against the
injection log."""

import json
import os
import subprocess
import zipfile

import pytest

import bench
import bench_scaling


def test_spark_resources_default_to_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_MEM", raising=False)
    cpus, mem = bench.spark_resources()
    assert cpus == len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert mem.endswith("m") and 0 < int(mem[:-1]) <= ram_mb // 4


def test_spark_resources_keep_explicit_settings(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    monkeypatch.setenv("SPARK_GRAFT_MEM", "2g")
    assert bench.spark_resources() == (1, "2g")


def test_spark_resources_refuse_more_cores_than_host(monkeypatch):
    have = len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(have + 1))
    with pytest.raises(SystemExit, match=f"has {have} usable CPUs"):
        bench.spark_resources()


def test_pyfiles_zip_holds_every_tracked_module(tmp_path):
    """bench_scaling ships the package to spark-submit workers as this zip:
    every git-tracked module must be in it, and no deleted package."""
    try:
        tracked = subprocess.run(
            ["git", "ls-files", "jsonschema_infer_spark/*.py"],
            cwd=bench_scaling.REPO, capture_output=True, text=True, check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("not a git checkout")
    zip_path = bench_scaling.build_pyfiles_zip(str(tmp_path / "jis.zip"))
    with zipfile.ZipFile(zip_path) as z:
        names = set(z.namelist())
    assert {
        "jsonschema_infer_spark/_worker.py",
        "jsonschema_infer_spark/checkpoint.py",
    } <= set(tracked)
    assert set(tracked) <= names
    assert not [n for n in names if n.startswith("jsonschema_infer_spark/streaming/")]


def test_transcript_pipeline_checks_counts_against_log(spark, tx_paths, tmp_path):
    log = tmp_path / bench.INJECTION_LOG
    log.write_text(json.dumps(tx_paths["log"], default=int))
    snaps = (tx_paths["clean"], tx_paths["viol"], str(log))
    p = bench.run_transcript_pipeline(spark, snaps)
    assert p["violations"]["enum:role"] == len(tx_paths["log"]["bad_role_rows"]) > 0
    assert p["row_violations"] == sum(p["violations"].values())
    assert set(p["stage_secs"]) == {"spec", "scan", "integrity_merge"}

    short = dict(tx_paths["log"], bad_role_rows=tx_paths["log"]["bad_role_rows"][1:])
    log.write_text(json.dumps(short, default=int))
    with pytest.raises(RuntimeError, match="disagree with the injection log"):
        bench.run_transcript_pipeline(spark, snaps)
