"""What the benchmark reports: workloads, metrics with units, bounds, and
the end-to-end metric each per-layer metric is expected to move.

``BENCHMARK.json`` at the repository root is generated from this module
(``python3 perfbench/run.py --write-spec``); ``perfbench/tests`` checks
the two agree.  Its schema has no field for the layer-to-metric mapping,
so the mapping lives in ``PER_LAYER`` below and, in short, in each
workload's ``why``.
"""

from __future__ import annotations

import json

RUN_SECONDS = 10

WORKLOADS = [
    (
        "admit_burst",
        "1M seed URLs (dup spellings, robots-denied paths, zipf hosts), one init_state+run_round(1), "
        "all fetches miss: canon/seen/politeness/gseq move items_per_s; assets/parse stay 0",
    ),
    (
        "crawl_rounds",
        "synth graph crawl, bootstrapped robots, binding host budgets: per-round jobs, files, "
        "commits, assets, parse move op_ms_p50; traced run also probes the catalog read path",
    ),
]

# name, unit, better, bound.  One op per run on both workloads, so the
# timing bounds are the widest allowed: a single cold op spreads 5-11%
# between runs (see perfbench/RUNS.md).  ok_ratio is 1 on a correct program.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("items_per_s", "items/s", "higher", 0.25),
    ("op_ms_p50", "ms", "lower", 0.25),
    ("ok_ratio", "ratio", "higher", 0.01),
]

#: What an item and an op are on each workload (items_per_s, op_ms_p50).
ITEMS_AND_OPS = {
    "admit_burst": ("raw seed URL admitted", "init_state + run_round(1) pair"),
    "crawl_rounds": ("page fetched (init_state + rounds)", "run_round"),
}

# name, unit, better, (end-to-end metric it should move, on which workload)
PER_LAYER = [
    # per-layer, not end-to-end: it spreads 9-13% between seeds
    ("peak_rss_mb", "MB", "lower", ("setup_s", "all")),
    ("session.start_s", "s", "lower", ("setup_s", "all")),
    ("robots.bootstrap_s", "s", "lower", ("setup_s", "crawl_rounds")),
    ("seen.store_files", "count", "lower", ("setup_s", "admit_burst")),
    ("seen.store_bytes", "bytes", "lower", ("items_per_s", "admit_burst")),
    ("canon.s", "s", "lower", ("items_per_s", "admit_burst")),
    ("seen.admit_s", "s", "lower", ("items_per_s", "admit_burst")),
    ("seen.candidates", "count", "lower", ("items_per_s", "admit_burst")),
    ("seen.dedup_ratio", "ratio", "higher", ("items_per_s", "admit_burst")),
    ("seen.append_s", "s/round", "lower", ("op_ms_p50", "crawl_rounds")),
    ("politeness.pop_s", "s", "lower", ("items_per_s", "admit_burst")),
    ("politeness.popped", "count", "higher", ("items_per_s", "admit_burst")),
    ("politeness.deferral_ratio", "ratio", "lower", ("items_per_s", "admit_burst")),
    ("politeness.robots_denied", "count", "lower", ("items_per_s", "admit_burst")),
    ("frontier.gseq_s", "s/round", "lower", ("items_per_s", "admit_burst")),
    ("frontier.jobs_per_round", "jobs/round", "lower", ("op_ms_p50", "crawl_rounds")),
    ("frontier.round_self_s", "s/round", "lower", ("op_ms_p50", "crawl_rounds")),
    ("checkpoint.files_per_round", "files/round", "lower", ("op_ms_p50", "crawl_rounds")),
    ("checkpoint.bytes_per_round", "bytes/round", "lower", ("op_ms_p50", "crawl_rounds")),
    ("checkpoint.write_s", "s/round", "lower", ("op_ms_p50", "crawl_rounds")),
    ("checkpoint.commit_s", "s/round", "lower", ("op_ms_p50", "crawl_rounds")),
    ("assets.extract_s", "s", "lower", ("items_per_s", "crawl_rounds")),
    ("assets.pages", "count", "higher", ("items_per_s", "crawl_rounds")),
    ("assets.links", "count", "higher", ("items_per_s", "crawl_rounds")),
    ("parse.s", "s", "lower", ("items_per_s", "crawl_rounds")),
    ("parse.assets", "count", "higher", ("items_per_s", "crawl_rounds")),
    ("parse.ok_ratio", "ratio", "higher", ("items_per_s", "crawl_rounds")),
    # The catalog read path runs only in the traced probes: no timed op
    # reads it, so it moves no end-to-end metric.
    ("checkpoint.read_s", "s/query", "lower", None),
    ("checkpoint.files_read", "count", "lower", None),
    ("catalog.find_within_ms", "ms", "lower", None),
    ("catalog.find_in_timerange_ms", "ms", "lower", None),
    ("catalog.conj_ms", "ms", "lower", None),
    ("catalog.rows_returned", "rows/query", "higher", None),
    ("spark.jobs", "jobs/op", "lower", ("op_ms_p50", "all")),
    ("spark.stages", "stages/op", "lower", ("op_ms_p50", "all")),
    ("spark.tasks", "tasks/op", "lower", ("op_ms_p50", "all")),
    ("spark.shuffle_read_mb", "MB/op", "lower", ("items_per_s", "admit_burst")),
    ("spark.shuffle_write_mb", "MB/op", "lower", ("items_per_s", "admit_burst")),
    ("spark.spill_mb", "MB/op", "lower", ("items_per_s", "admit_burst")),
    ("spark.executor_cpu_s", "s/op", "lower", ("items_per_s", "all")),
    ("spark.gc_s", "s/op", "lower", ("op_ms_p50", "all")),
    # traced minus untraced end-to-end numbers give the tracing overhead
    ("trace.op_ms_p50", "ms", "lower", ("op_ms_p50", "all")),
    ("trace.items_per_s", "items/s", "higher", ("items_per_s", "all")),
    ("fail_ratio", "ratio", "lower", ("ok_ratio", "all")),
]

#: Layers that Spark jobs inside the timed ops are attributed to (by the
#: innermost wrapped call that launched them).
JOB_LAYERS = ["frontier", "checkpoint", "seen"]
for _layer in JOB_LAYERS:
    PER_LAYER.append((f"spark.jobs.{_layer}", "jobs/op", "lower", ("op_ms_p50", "all")))
    PER_LAYER.append((f"spark.executor_cpu_s.{_layer}", "s/op", "lower", ("items_per_s", "all")))


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }


def dumps() -> str:
    return json.dumps(benchmark_json(), indent=2) + "\n"
