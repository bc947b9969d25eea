"""Two-parallelism scaling benchmark (the sandbox proxy for the
north_rule's N -> 4N executor criterion; see BASELINE.md).

Runs bench.py's headline frontier-round at local[8] and local[32] in
separate processes (fresh JVMs), reports URLs/sec at both plus the
scaling efficiency (thr_32 / thr_8) / 4, and appends the results to
BENCH/BASELINE.md.
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_at(cpus: int, n_urls: int) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["BENCH_QUERIES"] = "0"
    env["BENCH_FRONTIER_URLS"] = str(n_urls)
    env.setdefault("BENCH_REPEAT", "3")  # best-of-3 (noisy shared host)
    cmd = [sys.executable, os.path.join(REPO, "bench.py")]
    # pin the N-core run to N hardware threads so its JVM/GC/shuffle
    # threads cannot poach the other 3N cores (fair N vs 4N comparison)
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd,
        capture_output=True,
        text=True,
        env=env,
        timeout=int(os.environ.get("BENCH_LEVEL_TIMEOUT", "2400")),
    )
    # bench prints the FULL record then a slim last line (driver tail
    # window); take the last full record
    for line in reversed([l for l in out.stdout.splitlines() if l.startswith("{")]):
        rec = json.loads(line)
        if "frontier_urls" in rec:
            return rec
    raise RuntimeError("no full bench record (frontier_urls) in output")


def main():
    n_urls = int(os.environ.get("BENCH_FRONTIER_URLS", 4_000_000))
    # N and 4N cores; default 8->32.  BENCH_LEVELS=2,8 measures the
    # algorithmic scaling BELOW the single-box memory-bus saturation
    # point (a taskset-pinned local[8] still owns the full uncore, which
    # a real 8-executor cluster would not — see stage-profile notes in
    # BENCH/BASELINE.md).
    levels = tuple(
        int(x) for x in os.environ.get("BENCH_LEVELS", "8,32").split(",")
    )
    runs = {}
    for cpus in levels:
        # warm-up run then measured run, fresh JVM each
        runs[cpus] = run_at(cpus, n_urls)
        print(f"local[{cpus}]: {runs[cpus]['value']} urls/sec", flush=True)
    lo, hi = levels
    thr_lo, thr_hi = runs[lo]["value"], runs[hi]["value"]
    result = {
        "n_urls": n_urls,
        "levels": list(levels),
        f"urls_per_sec_local{lo}": thr_lo,
        f"urls_per_sec_local{hi}": thr_hi,
        "scaling_efficiency": round((thr_hi / thr_lo) / (hi / lo), 3),
    }
    print(json.dumps(result))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    stamp = datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds")
    header_needed = not os.path.exists(path)
    with open(path, "a") as f:
        if header_needed:
            f.write(
                "# BENCH/BASELINE — frontier-round scaling (N=8 vs 4N=32 cores)\n\n"
                "Sandbox proxy for the north_rule two-cluster-size criterion: the\n"
                "same engine round pair (canonicalize -> xxhash64 -> bucketed\n"
                "seen store -> robots gate -> salted politeness pop) on\n"
                "the same JVM-generated input at two parallelism levels.\n"
                "Efficiency = (thr_32 / thr_8) / 4; target >= 0.8.\n\n"
                "| when (UTC) | urls | urls/sec local[8] | urls/sec local[32] | efficiency |\n"
                "|---|---|---|---|---|\n"
            )
        f.write(
            f"| {stamp} (engine, {lo}->{hi}c) | {n_urls} | {thr_lo} | {thr_hi} "
            f"| {result['scaling_efficiency']} |\n"
        )


if __name__ == "__main__":
    main()
