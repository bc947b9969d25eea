"""Crawl benchmark: one workload per invocation, one JSON line of results.

    python3 perfbench/run.py --workload admit_burst --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see ``perfbench/spec.py``):
``admit_burst`` and ``crawl_rounds``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same workload with
spans around the program's public calls and the Spark event log on, and
reports the per-layer metrics instead.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; ``attempted`` and
``failed`` count the output checks.  ``--scale tiny`` shrinks every input
for the smoke tests in ``perfbench/tests``.

Spark runs at this machine's shape: ``local[nproc]`` and a driver heap of
a quarter of physical memory (at most 4 GiB).  Every file the run writes
lives under ``.perfbench_work/`` in the repository root and is removed at
exit.  ``--write-spec`` rewrites ``BENCHMARK.json`` from ``spec.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _machine_shape() -> tuple[int, int]:
    """(cpus, driver heap MB) for this host."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return cpus, max(1024, min(4096, total_kb // 1024 // 4))


def _rss_mb(pid: int, field: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _isolate(work: str) -> None:
    """Point every temp and scratch location of Python, the JVM and Spark
    into ``work`` and drop settings that would change the session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too: temp files here, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF", "GEOCRAWL_PROFILE"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = tmp


def _start_spark(work: str, traced: bool):
    from geocrawl_spark.session import get_spark

    cpus, heap_mb = _machine_shape()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _peak_rss_mb() -> float:
    """Driver JVM + this process, peak resident set (VmHWM), in MB."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    jvm = _rss_mb(proc.pid, "VmHWM") if proc is not None else 0.0
    return jvm + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _within(t: float, ivs) -> bool:
    return any(a <= t <= b for a, b in ivs)


def layer_metrics(out, tracer, log_dir: str | None, session_s: float) -> dict[str, float]:
    """Per-layer metrics from the workload's own values, the spans and the
    Spark event log (jobs and tasks inside the timed operations only)."""
    from perfbench import spec
    from perfbench.trace import busy_seconds, read_event_log

    lay = dict(out.layer)
    lay["session.start_s"] = session_s
    lay.setdefault("robots.bootstrap_s", 0.0)  # admit_burst takes a static robots table
    rounds = out.rounds
    n_rounds = len(rounds)
    n_ops = len(out.op_iv)

    def in_rounds(name):
        return [s for s in tracer.named(name) if _within(s.start, rounds)]

    def busy_per(spans, ivs) -> float:
        return sum(busy_seconds(spans, a, b) for a, b in ivs) / max(len(ivs), 1)

    lay["seen.append_s"] = busy_per(in_rounds("seen.append"), rounds)
    lay["frontier.gseq_s"] = busy_per(in_rounds("frontier.gseq"), rounds)
    lay["checkpoint.write_s"] = busy_per(in_rounds("checkpoint.write"), rounds)
    lay["checkpoint.commit_s"] = busy_per(in_rounds("checkpoint.commit"), rounds)
    lay["checkpoint.read_s"] = busy_per(tracer.named("checkpoint.read"), out.query_iv)
    children = [
        s for s in tracer.spans
        if s.name in ("checkpoint.write", "checkpoint.read", "checkpoint.commit", "seen.append", "frontier.gseq")
    ]
    lay["frontier.round_self_s"] = sum((b - a) - busy_seconds(children, a, b) for a, b in rounds) / n_rounds
    lay["trace.op_ms_p50"] = statistics.median(out.op_s) * 1000.0
    lay["trace.items_per_s"] = out.items / out.busy_s
    lay["fail_ratio"] = out.failed / out.attempted

    jobs, stages = read_event_log(log_dir) if log_dir else ([], {})
    op_jobs = [j for j in jobs if _within(j.submitted, out.op_iv)]
    lay["frontier.jobs_per_round"] = sum(_within(j.submitted, rounds) for j in jobs) / n_rounds
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j.job_id):
        for sid in j.stages:
            owner.setdefault(sid, j.job_id)

    totals = {k: 0.0 for k in ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb",
                               "spill_mb", "executor_cpu_s", "gc_s")}
    per_layer_jobs = {k: 0 for k in spec.JOB_LAYERS}
    per_layer_cpu = {k: 0.0 for k in spec.JOB_LAYERS}
    for j in op_jobs:
        totals["jobs"] += 1
        # a job inside an op belongs to the innermost wrapped call that
        # launched it, else to the engine round itself
        head = (j.span or "").split(".")[0]
        where = head if head in spec.JOB_LAYERS else "frontier"
        per_layer_jobs[where] += 1
        for sid in j.stages:
            st = stages.get(sid)
            if owner.get(sid) != j.job_id or st is None:
                continue  # skipped here, or ran for an earlier job
            totals["stages"] += 1
            totals["tasks"] += st.tasks
            totals["shuffle_read_mb"] += st.shuffle_read_mb
            totals["shuffle_write_mb"] += st.shuffle_write_mb
            totals["spill_mb"] += st.spill_mb
            totals["executor_cpu_s"] += st.cpu_s
            totals["gc_s"] += st.gc_s
            per_layer_cpu[where] += st.cpu_s
    for k, v in totals.items():
        lay[f"spark.{k}"] = v / n_ops
    for k in spec.JOB_LAYERS:
        lay[f"spark.jobs.{k}"] = per_layer_jobs[k] / n_ops
        lay[f"spark.executor_cpu_s.{k}"] = per_layer_cpu[k] / n_ops
    return lay


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--write-spec", action="store_true", help="rewrite BENCHMARK.json and exit")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "geocrawl_spark", "__init__.py")):
        print(f"perfbench: no geocrawl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import spec

    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            fh.write(spec.dumps())
        return 0
    names = [n for n, _ in spec.WORKLOADS]
    if args.workload not in names:
        print(f"perfbench: --workload must be one of {names}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        _isolate(work)
        from perfbench.trace import Tracer, install_wrappers, remove_wrappers
        from perfbench.workloads import SCALES, WORKLOADS

        traced = bool(args.trace)
        t0 = time.time()
        spark = _start_spark(work, traced)
        session_s = time.time() - t0
        tracer = Tracer(spark.sparkContext if traced else None)
        wl = WORKLOADS[args.workload](spark, work, args.seed, SCALES[args.scale], tracer)
        if traced:
            install_wrappers(tracer)
        try:
            out = wl.execute(args.seconds, traced)
        finally:
            remove_wrappers()
        peak = _peak_rss_mb()
        _stop_spark(spark)
        spark = None
        if traced:
            values = layer_metrics(out, tracer, os.path.join(work, "eventlog"), session_s)
            values["peak_rss_mb"] = peak
            wanted = [(n, u) for n, u, _, _ in spec.PER_LAYER]
        else:
            values = {
                "setup_s": session_s + statistics.median(out.setup_s),
                "items_per_s": out.items / out.busy_s,
                "op_ms_p50": statistics.median(out.op_s) * 1000.0,
                "ok_ratio": (out.attempted - out.failed) / out.attempted,
            }
            wanted = [(n, u) for n, u, _, _ in spec.END_TO_END]
        print(
            f"perfbench: session_s={session_s:.2f} setup_s={[round(x, 2) for x in out.setup_s]} "
            f"op_s={[round(x, 3) for x in out.op_s]}",
            file=sys.stderr,
        )
        result = {
            "correct": out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in wanted},
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
