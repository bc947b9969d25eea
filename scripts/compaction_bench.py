"""Membership-scan cost vs seen-store round count, with and without
compaction (VERDICT r3 missing #2 'done' evidence).

Builds a seen store the way a long crawl does — one ``round=N``
partition x n_buckets files appended per round — then times the
per-round admission pass (the engine's filter_and_update_abucket_flagged)
against the many-partition store, compacts it with
seen.compact_seen_store, and re-times the identical pass.  Appends a
table to BENCH/BASELINE.md: file counts and membership wall time flat
after compaction vs growing with round count before it.

Env: COMPACT_ROUNDS (default 120), COMPACT_HASHES_PER_ROUND (50_000),
COMPACT_BUCKETS (32), BENCH_CAND (500_000 candidate urls).
"""

from __future__ import annotations

import datetime
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geocrawl_spark import seen as S  # noqa: E402
from geocrawl_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_ROUNDS = int(os.environ.get("COMPACT_ROUNDS", 120))
N_PER_ROUND = int(os.environ.get("COMPACT_HASHES_PER_ROUND", 50_000))
N_BUCKETS = int(os.environ.get("COMPACT_BUCKETS", 32))
N_CAND = int(os.environ.get("BENCH_CAND", 500_000))


def n_files(base: str) -> int:
    return sum(
        sum(1 for f in os.listdir(p) if not f.startswith((".", "_")))
        for p in S._store_partitions(base).values()
    )


def membership_time(spark, table: str, upto: int, round_no: int) -> float:
    """Best-of-2 wall time of one full admission pass (within-batch dedup
    + seen flag against the store) over N_CAND candidates."""
    cand = spark.range(N_CAND).select(
        F.format_string("http://h%d.org/p/%d.html", F.col("id") % 97, F.col("id")).alias(
            "url"
        ),
        (F.col("id") % 7).alias("depth"),
    )
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        flagged, _stats, _append = S.filter_and_update_abucket_flagged(
            cand, spark, table, N_BUCKETS, upto_round=upto, round_no=round_no
        )
        n = flagged.filter(F.col("_seen").isNull()).count()
        best = min(best, time.time() - t0)
        flagged.unpersist()
        assert n > 0
    return best


def main():
    spark = get_spark(
        app_name="compaction-bench",
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="cb-wh-")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="compact-bench-")
    table = S.ensure_seen_store(spark, base, N_BUCKETS, fresh=True)

    # grow the store round by round, sampling membership time as it grows
    samples = []
    checkpoints = {N_ROUNDS // 4, N_ROUNDS // 2, N_ROUNDS}
    for r in range(1, N_ROUNDS + 1):
        h = spark.range(r * N_PER_ROUND, (r + 1) * N_PER_ROUND).select(
            F.xxhash64(F.format_string("seen-%d", F.col("id"))).alias("h1")
        )
        S._overwrite_partitions(
            spark,
            h.repartition(N_BUCKETS, "h1").select(
                "h1", F.lit(r).cast("long").alias("round")
            ),
            table,
        )
        if r in checkpoints:
            samples.append(
                (r, n_files(base), membership_time(spark, table, r, r + 1))
            )
            print(
                f"rounds={r} files={samples[-1][1]} "
                f"membership={samples[-1][2]:.2f}s",
                flush=True,
            )

    t0 = time.time()
    res = S.compact_seen_store(spark, base, N_BUCKETS, N_ROUNDS)
    compact_dt = time.time() - t0
    after = (N_ROUNDS, n_files(base), membership_time(spark, table, N_ROUNDS, N_ROUNDS + 1))
    print(
        f"compacted in {compact_dt:.2f}s: files {res['files_before']}->"
        f"{after[1]}, membership={after[2]:.2f}s",
        flush=True,
    )

    stamp = datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds")
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\n### Seen-store compaction ({stamp}, scripts/compaction_bench.py)\n\n"
            f"Store grown {N_ROUNDS} rounds x {N_PER_ROUND} hashes "
            f"({N_BUCKETS} buckets); membership pass = within-batch dedup + "
            f"seen flag of {N_CAND} candidates (best of 2).  Compaction "
            f"(seen.compact_seen_store) rewrote all round partitions into "
            f"one base partition in {compact_dt:.2f}s.\n\n"
            "| state | rounds | files | membership sec |\n|---|---|---|---|\n"
        )
        for r, nf, dt in samples:
            f.write(f"| uncompacted | {r} | {nf} | {dt:.2f} |\n")
        f.write(f"| COMPACTED | {after[0]} | {after[1]} | {after[2]:.2f} |\n")

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
