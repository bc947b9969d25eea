"""Per-stage CPU-vs-wall profile of bench.py's engine round pair
(eventLog-based).

Quantifies WHY the engine round under-scales 8 -> 32 cores in
LOCAL mode: if aggregate executor CPU time stays ~constant across
parallelism levels while wall-clock does not drop 4x, the bottleneck is
a shared resource (one memory bus / one shuffle disk in local mode),
not a serial fraction of the algorithm — on a real N -> 4N EXECUTOR
scale-out each executor adds its own bus and disks, which is the regime
the north_rule's >=0.8 criterion describes.

Usage: BENCH_FRONTIER_URLS=4000000 python scripts/stage_profile.py [--record]
Appends a summary row to BENCH/BASELINE.md when --record is passed.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["GC_REPO"])
from geocrawl_spark.session import get_spark
import bench

spark = get_spark(
    app_name="stage-profile",
    extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": os.environ["GC_EVDIR"],
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.warehouse.dir": os.environ["GC_WHDIR"],
    },
)
spark.sparkContext.setLogLevel("ERROR")
dt, n, _splits = bench.engine_round(spark, warmup=True)
print(json.dumps({"wall_sec": dt, "urls": n}))
spark.stop()
"""


def run_level(cpus: int, n_urls: int) -> dict:
    evdir = tempfile.mkdtemp(prefix=f"gc-ev{cpus}-")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        BENCH_FRONTIER_URLS=str(n_urls),
        BENCH_REPEAT="1",
        GC_REPO=REPO,
        GC_EVDIR=evdir,
        GC_WHDIR=tempfile.mkdtemp(prefix="gc-wh-"),
    )
    cmd = [sys.executable, "-c", RUNNER]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=1800)
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    res = json.loads(line)

    cpu_ms = run_ms = 0
    shuffle_write = shuffle_read = 0
    # Spark 4 event logs can be rolling DIRECTORIES (eventlog_v2_*) of files
    paths = [
        p
        for p in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    for path in paths:
        with open(path, errors="replace") as f:
            for raw in f:
                try:
                    ev = json.loads(raw)
                except json.JSONDecodeError:
                    continue
                if not isinstance(ev, dict):
                    continue
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                m = ev.get("Task Metrics") or {}
                cpu_ms += m.get("Executor CPU Time", 0) / 1e6  # ns -> ms
                run_ms += m.get("Executor Run Time", 0)
                shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                shuffle_read += sr.get("Local Bytes Read", 0) + sr.get(
                    "Remote Bytes Read", 0
                )
    return {
        "cpus": cpus,
        "wall_sec": round(res["wall_sec"], 2),
        "urls": res["urls"],
        "cpu_core_sec": round(cpu_ms / 1e3, 1),
        "run_core_sec": round(run_ms / 1e3, 1),
        "shuffle_write_mb": round(shuffle_write / 2**20, 1),
        "shuffle_read_mb": round(shuffle_read / 2**20, 1),
    }


def main():
    n_urls = int(os.environ.get("BENCH_FRONTIER_URLS", 4_000_000))
    lo, hi = (
        int(x) for x in os.environ.get("BENCH_LEVELS", "8,32").split(",")
    )
    rlo = run_level(lo, n_urls)
    print(json.dumps(rlo), flush=True)
    rhi = run_level(hi, n_urls)
    print(json.dumps(rhi), flush=True)
    summary = {
        "n_urls": n_urls,
        "levels": [lo, hi],
        "wall_ratio_lo_over_hi": round(rlo["wall_sec"] / rhi["wall_sec"], 2),
        "cpu_work_ratio_hi_over_lo": round(
            rhi["cpu_core_sec"] / max(rlo["cpu_core_sec"], 0.1), 2
        ),
        f"local{lo}": rlo,
        f"local{hi}": rhi,
    }
    print(json.dumps(summary))
    if "--record" in sys.argv:
        with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
            f.write(
                f"\nStage profile (engine, {n_urls} urls): wall "
                f"{rlo['wall_sec']}s@{lo}c -> {rhi['wall_sec']}s@{hi}c "
                f"(speedup {summary['wall_ratio_lo_over_hi']}x); total CPU work "
                f"{rlo['cpu_core_sec']} -> {rhi['cpu_core_sec']} core-sec "
                f"(ratio {summary['cpu_work_ratio_hi_over_lo']}); shuffle "
                f"{rlo['shuffle_write_mb']}MB written both levels.\n"
            )


if __name__ == "__main__":
    main()
