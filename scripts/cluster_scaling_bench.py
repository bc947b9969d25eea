"""N-vs-4N-EXECUTOR scaling benchmark on a real Spark standalone cluster.

The north rule's criterion is throughput scaling efficiency >= 0.8 from
N to 4N EXECUTORS.  `scripts/scaling_bench.py` proxies that with
local[N] vs local[4N] — one shared JVM, one heap, thread-parallelism
only.  This script runs the SAME bench.py headline against a real
standalone cluster on this box: one Master JVM plus K Worker JVMs, each
worker hosting exactly one 4-core executor JVM (spark.executor.cores =
worker cores), so "K executors" means K separate executor JVMs with
separate heaps, real Netty shuffle fetches between them, and a separate
driver JVM — the closest sandbox shape to the rule's multi-executor
deployment.  Cores are still one socket (that machine ceiling is
measured and discussed in BENCH/BASELINE.md), but the shared-JVM /
shared-GC artifact of local[N] is gone.

Topology per level: K workers x 4 cores, each pinned with taskset to
its own disjoint 4-core range (a worker's executor children inherit the
affinity), so the 2-executor level cannot silently borrow the other 24
cores' cycles.  The driver is pinned to the same range as the workers,
matching scaling_bench.py's fairness rule.

Usage:
  BENCH_FRONTIER_URLS=16000000 CLUSTER_LEVELS=2,8 \
      python scripts/cluster_scaling_bench.py
Env: CLUSTER_LEVELS (executor counts, default "2,8"),
     EXEC_CORES (default 4), EXEC_MEM (default 6g),
     BENCH_FRONTIER_URLS (default 4_000_000), BENCH_REPEAT (default 3).
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
import pyspark  # noqa: E402

SPARK_HOME = os.path.dirname(os.path.abspath(pyspark.__file__))
SPARK_CLASS = os.path.join(SPARK_HOME, "bin", "spark-class")
MASTER_HOST = "127.0.0.1"
MASTER_PORT = 7077
MASTER_URL = f"spark://{MASTER_HOST}:{MASTER_PORT}"


def _daemon_env(scratch: str) -> dict:
    env = dict(os.environ)
    env["SPARK_HOME"] = SPARK_HOME
    env["SPARK_MASTER_OPTS"] = "-Dspark.ui.enabled=false"
    env["SPARK_WORKER_OPTS"] = "-Dspark.ui.enabled=false"
    env["SPARK_WORKER_DIR"] = scratch
    env["SPARK_LOG_DIR"] = scratch
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    return env


def _wait_port(host: str, port: int, timeout: float = 30.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        try:
            with socket.create_connection((host, port), timeout=1):
                return
        except OSError:
            time.sleep(0.5)
    raise RuntimeError(f"master did not open {host}:{port}")


def _taskset(cores: str, cmd: list[str]) -> list[str]:
    if os.path.exists("/usr/bin/taskset"):
        return ["taskset", "-c", cores] + cmd
    return cmd


def _worker_mem(exec_mem: str) -> str:
    """Executor memory + 2g headroom in the worker's unit (g or m)."""
    m = exec_mem.strip().lower()
    if m.endswith("g") and m[:-1].isdigit():
        return f"{int(m[:-1]) + 2}g"
    if m.endswith("m") and m[:-1].isdigit():
        return f"{int(m[:-1]) + 2048}m"
    return "8g"  # unparsed: the historical fixed capacity


def start_cluster(n_workers: int, exec_cores: int, exec_mem: str, scratch: str):
    env = _daemon_env(scratch)
    procs = []
    total = n_workers * exec_cores
    master_cmd = _taskset(
        f"0-{total - 1}",
        [SPARK_CLASS, "org.apache.spark.deploy.master.Master",
         "-h", MASTER_HOST, "-p", str(MASTER_PORT), "--webui-port", "8089"],
    )
    procs.append(subprocess.Popen(
        master_cmd, env=env,
        stdout=open(os.path.join(scratch, "master.log"), "w"),
        stderr=subprocess.STDOUT,
    ))
    _wait_port(MASTER_HOST, MASTER_PORT)
    for i in range(n_workers):
        lo, hi = i * exec_cores, (i + 1) * exec_cores - 1
        w_cmd = _taskset(
            f"{lo}-{hi}",
            [SPARK_CLASS, "org.apache.spark.deploy.worker.Worker",
             # worker capacity = executor memory + 2g JVM overhead head-
             # room, so EXEC_MEM above the old fixed 8g can still launch
             # (a worker smaller than spark.executor.memory never
             # schedules the executor and the level hangs to timeout)
             MASTER_URL, "-c", str(exec_cores), "-m", _worker_mem(exec_mem),
             "-h", MASTER_HOST, "--webui-port", str(8100 + i)],
        )
        procs.append(subprocess.Popen(
            w_cmd, env=env,
            stdout=open(os.path.join(scratch, f"worker{i}.log"), "w"),
            stderr=subprocess.STDOUT,
        ))
    return procs


def stop_cluster(procs) -> None:
    for p in reversed(procs):
        try:
            p.send_signal(signal.SIGTERM)
        except OSError:
            pass
    for p in reversed(procs):
        try:
            p.wait(timeout=15)
        except subprocess.TimeoutExpired:
            p.kill()


def run_level(n_exec: int, exec_cores: int, exec_mem: str, n_urls: int) -> dict:
    scratch = tempfile.mkdtemp(prefix=f"geocrawl-cluster-{n_exec}x-")
    procs = start_cluster(n_exec, exec_cores, exec_mem, scratch)
    try:
        total = n_exec * exec_cores
        env = dict(os.environ)
        env["SPARK_GRAFT_MASTER"] = MASTER_URL
        env["SPARK_GRAFT_CPUS"] = str(total)  # shuffle partitions = 2x
        env["BENCH_QUERIES"] = "0"
        env["BENCH_FRONTIER_URLS"] = str(n_urls)
        env.setdefault("BENCH_REPEAT", "3")
        env["PYSPARK_PYTHON"] = sys.executable
        env["SPARK_GRAFT_DRIVER_MEM"] = env.get("SPARK_GRAFT_DRIVER_MEM", "12g")
        extra = {
            "spark.executor.cores": str(exec_cores),
            "spark.executor.memory": exec_mem,
            "spark.cores.max": str(total),
            # the job must not start on a partially-registered cluster —
            # a 4N run that begins on 2 executors measures ramp-up, not 4N
            "spark.scheduler.minRegisteredResourcesRatio": "1.0",
            "spark.scheduler.maxRegisteredResourcesWaitingTime": "60s",
        }
        user_extra = env.get("SPARK_GRAFT_EXTRA_CONF")
        if user_extra:
            extra.update(json.loads(user_extra))
        env["SPARK_GRAFT_EXTRA_CONF"] = json.dumps(extra)
        cmd = _taskset(f"0-{total - 1}", [sys.executable, os.path.join(REPO, "bench.py")])
        out = subprocess.run(
            cmd, capture_output=True, text=True, env=env,
            timeout=int(os.environ.get("BENCH_LEVEL_TIMEOUT", "2400")),
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not lines:
            sys.stderr.write(out.stdout[-4000:] + "\n" + out.stderr[-4000:] + "\n")
            raise RuntimeError(f"no JSON line from bench at {n_exec} executors")
        # bench prints the FULL record then a slim last line (driver tail
        # window); take the last full record
        for line in reversed(lines):
            rec = json.loads(line)
            if "frontier_urls" in rec:
                return rec
        raise RuntimeError(
            f"no full bench record (frontier_urls) at {n_exec} executors"
        )
    finally:
        stop_cluster(procs)
        shutil.rmtree(scratch, ignore_errors=True)


def main():
    n_urls = int(os.environ.get("BENCH_FRONTIER_URLS", 4_000_000))
    exec_cores = int(os.environ.get("EXEC_CORES", "4"))
    exec_mem = os.environ.get("EXEC_MEM", "6g")
    levels = tuple(
        int(x) for x in os.environ.get("CLUSTER_LEVELS", "2,8").split(",")
    )
    runs = {}
    for n_exec in levels:
        runs[n_exec] = run_level(n_exec, exec_cores, exec_mem, n_urls)
        print(
            f"{n_exec} executors x {exec_cores}c: "
            f"{runs[n_exec]['value']} urls/sec",
            flush=True,
        )
    if len(levels) < 2:  # single-level smoke run: report and stop
        print(json.dumps({"n_urls": n_urls, "levels": list(levels)}))
        return
    lo, hi = levels
    ratio = hi / lo
    thr_lo = runs[lo]["value"]
    thr_hi = runs[hi]["value"]
    eff = round((thr_hi / thr_lo) / ratio, 3)
    result = {
        "n_urls": n_urls,
        "levels": list(levels),
        "exec_cores": exec_cores,
        "topology": "standalone cluster, 1 executor JVM per worker JVM",
        "engine": {
            f"urls_per_sec_{lo}exec": thr_lo,
            f"urls_per_sec_{hi}exec": thr_hi,
            "scaling_efficiency": eff,
        },
    }
    print(json.dumps(result))

    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    stamp = datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds")
    with open(path, "a") as f:
        f.write(
            f"| {stamp} (STANDALONE engine, {lo}->{hi} executors x "
            f"{exec_cores}c) | {n_urls} | {thr_lo} | {thr_hi} | {eff} |\n"
        )


if __name__ == "__main__":
    main()
