"""SparkSession factory with scale-aware defaults.

Settings chosen for the 100 TB design point (and harmless locally):
- AQE on (runtime coalescing + skew-join splitting),
- Arrow on (every Python crossing is vectorized),
- shuffle partitions sized ~2-4x cores locally; on a real cluster this
  would be set to ~2-3x total executor cores (AQE coalesces down).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 3/8 of host
    memory, at most 24g.  In local mode the driver JVM holds every
    executor thread, and its resident size runs well past the heap
    (off-heap shuffle and Arrow buffers, metaspace), so a fixed 24g
    heap outgrows a 16 GB host."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "24g"
    return f"{min(24 * 1024, kb * 3 // 8 // 1024)}m"


def get_spark(
    app_name: str = "geocrawl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # SPARK_GRAFT_MASTER lets the cluster scaling bench point the same
    # session factory at a standalone master (spark://host:port) — the
    # N-vs-4N-EXECUTORS measurement runs real separate executor JVMs
    # instead of local[N] threads (scripts/cluster_scaling_bench.py).
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    # Python workers must be able to import this package even when the
    # driver script runs from elsewhere (spark-submit ships it via
    # --py-files on a real cluster; locally we arm PYTHONPATH).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
        )
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
        except ValueError:
            n = 32
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # NOTE: partitionOverwriteMode stays at the Spark default (static);
        # the seen-store writes set dynamic mode on the session only
        # around their own insert and restore it after (a writer option
        # cannot express that insert; see seen._overwrite_partitions), so
        # session overwrite semantics are never silently changed.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    # experiment hook: SPARK_GRAFT_EXTRA_CONF='{"spark.io.compression.codec":
    # "zstd"}' lets the scaling bench A/B shuffle/compression knobs across
    # fresh JVMs without code edits (applied before caller extra_conf so
    # explicit call-site settings win)
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
