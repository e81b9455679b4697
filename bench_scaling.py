#!/usr/bin/env python
"""Scaling run: the transcript pipeline (bench/pipeline_job.py, the
violated snapshot validated against the clean snapshot's contract in one
fused scan) submitted with spark-submit --py-files at local[1] and at
local[N], N the usable CPUs ($SPARK_GRAFT_CPUS caps it, as in bench.py).

Each side runs best of $SPARK_GRAFT_BENCH_REPS (default 2) on the same
input ($SPARK_GRAFT_BENCH_CONVS conversations, default 300000), the two
sides alternating which goes first. Prints ONE JSON line: rows, turns/s
per side, the efficiency (tp_N / tp_1) / N, the engine revision and the
host-health probe before and after.

BENCH/BASELINE.md and BENCH/scale_evidence.json are the frozen record of
the earlier paired-round evidence; this script does not write them.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import ensure_bench_transcripts, spark_resources  # noqa: E402
from contractbench.hostinfo import probe_health  # noqa: E402


def build_pyfiles_zip(path: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        pkg = os.path.join(REPO, "jsonschema_infer_spark")
        for root, _, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))
    return path


def run(master: str, snaps: tuple, out: str, mem: str) -> dict:
    """One pipeline_job run; ``snaps`` is ensure_bench_transcripts'
    (clean, violated, log)."""
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(shutil.which("pyspark") or "/usr/local/bin/pyspark"),
        "spark-submit",
    )
    zip_path = build_pyfiles_zip(os.path.join(REPO, ".cache", "jis_pyfiles.zip"))
    cmd = [
        spark_submit,
        "--master", master,
        "--driver-memory", mem,
        "--py-files", zip_path,
        os.path.join(REPO, "bench", "pipeline_job.py"),
        "--data", snaps[1],
        "--contract", snaps[0],
        "--out", out,
        "--shuffle-partitions", "64",
    ]
    subprocess.run(cmd, check=True, env=dict(os.environ),
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def main():
    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "300000"))
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    cores, mem = spark_resources()
    snaps = ensure_bench_transcripts(n_convs)  # creates .cache/

    before = probe_health()
    best: dict = {}
    for rep in range(reps):
        sides = (1, cores) if rep % 2 == 0 else (cores, 1)
        for n in dict.fromkeys(sides):  # one side when cores == 1
            out = os.path.join(REPO, ".cache", f"scaling_local{n}.json")
            r = run(f"local[{n}]", snaps, out, mem)
            if n not in best or r["turns_per_sec"] > best[n]["turns_per_sec"]:
                best[n] = r
    after = probe_health()

    tp1, tpn = best[1]["turns_per_sec"], best[cores]["turns_per_sec"]
    print(
        json.dumps(
            {
                "rows": best[1]["rows"],
                "cores": cores,
                "reps": reps,
                "turns_per_sec": {"local[1]": tp1, f"local[{cores}]": tpn},
                "efficiency": round(tpn / tp1 / cores, 3),
                "engine_rev": best[1]["engine_rev"],
                "probe_before": before,
                "probe_after": after,
            }
        )
    )


if __name__ == "__main__":
    main()
