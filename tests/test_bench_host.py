"""Bench defaults fit the host; the scaling report labels exclusions by
their cause; the headline pipeline checks its counts against the
injection log."""

import json
import os

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


@pytest.mark.parametrize(
    "round_, label",
    [
        ({"healthy_base": True, "tp1": 700, "eff": 0.9}, "yes"),
        # healthy serial side, excluded only by the eff <= 1.0 gate
        ({"healthy_base": False, "tp1": 700, "eff": 1.009},
         "no (eff > 1.0, implausible)"),
        # slow serial side (tp1 < 75% of the best): the slow label wins
        ({"healthy_base": False, "tp1": 500, "eff": 1.167},
         "no (slow local[1] side)"),
        ({"healthy_base": False, "tp1": 500, "eff": 0.9},
         "no (slow local[1] side)"),
        ({"healthy_base": False, "tp1": 700, "eff": 1.2, "mixed_code": True},
         "no (code changed between the round's two sides)"),
        ({"healthy_base": False, "tp1": 700, "eff": 1.2, "external_load": True},
         "no (external CPU load overlapped the round)"),
    ],
)
def test_round_flag_names_the_exclusion_cause(round_, label):
    assert bench_scaling.round_flag(round_, ref_tp1=800) == label


def test_transcript_pipeline_checks_counts_against_log(spark, tx_paths, tmp_path):
    log = tmp_path / bench.INJECTION_LOG
    log.write_text(json.dumps(tx_paths["log"], default=int))
    snaps = (tx_paths["clean"], tx_paths["viol"], str(log))
    p = bench.run_transcript_pipeline(spark, snaps)
    assert p["violations"]["enum:role"] == len(tx_paths["log"]["bad_role_rows"]) > 0
    assert p["row_violations"] == sum(p["violations"].values())
    assert set(p["stage_secs"]) == {"spec", "fused_scan"}

    short = dict(tx_paths["log"], bad_role_rows=tx_paths["log"]["bad_role_rows"][1:])
    log.write_text(json.dumps(short, default=int))
    with pytest.raises(RuntimeError, match="disagree with the injection log"):
        bench.run_transcript_pipeline(spark, snaps)
