"""Benchmark harness (driver contract).

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline: `frontier_round` — a REAL CrawlEngine (the persistent
bucketed seen store with O(fresh) per-round appends) driven end-to-end over N_FRONTIER synthetic URLs
generated JVM-side with spark.range (no Python in the data path).  The
timed window is an actual engine round pair:
  init_state  — canonicalize -> xxhash64 -> bucketed seen filter ->
                robots gate -> frontier/admitted snapshot writes ->
                O(fresh) seen append -> manifest commit;
  run_round 1 — pending scan -> budget+carry -> salted per-host
                politeness pop -> distributed fetch_seq rank -> fetch
                join -> MERGE-style frontier rewrite -> commit.
Only raw URL-string generation is excluded (persisted before the
clock).  This is stricter than the round-2 window: every snapshot write
and manifest commit the production engine performs is inside the clock.

Also times every queries() entry at $SPARK_GRAFT_SF_DIR (default sf0.1).

Env knobs: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SF_DIR,
BENCH_FRONTIER_URLS (default 2_000_000), BENCH_QUERIES=0 to skip the
query sweep, BENCH_REPEAT best-of-N (default 3) — used by
scripts/scaling_bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from geocrawl_spark import seen as S  # noqa: E402
from geocrawl_spark.session import get_spark  # noqa: E402

N_FRONTIER = int(os.environ.get("BENCH_FRONTIER_URLS", 2_000_000))
N_HOSTS = 1000
N_BUCKETS = 64  # seen-store buckets


def _synthetic_inputs(spark, n: int):
    """(raw_urls persisted+counted, budgets, robots) for the engine
    round.  Raw strings are mixed-case with
    redundant ports/fragments so the in-clock canonicalization pass has
    real work to do."""
    raw = (
        spark.range(n)
        .select(
            F.format_string(
                "HTTP://Host%d.example.org:80/p/%d.html#f",
                F.pmod(F.col("id"), F.lit(N_HOSTS)),
                F.col("id"),
            ).alias("raw"),
            (F.col("id") % 7).alias("depth"),
        )
        .persist()
    )
    raw.count()  # raw input materialized before the clock starts
    budgets = spark.range(N_HOSTS).select(
        F.format_string("host%d.example.org", F.col("id")).alias("host"),
        (F.lit(64) + F.pmod(F.col("id"), F.lit(64))).alias("budget"),
    )
    robots = spark.range(N_HOSTS).select(
        F.format_string("host%d.example.org", F.col("id")).alias("host"),
        F.when(F.col("id") % 11 == 0, F.array(F.lit("/private/")))
        .otherwise(F.array().cast("array<string>"))
        .alias("disallow"),
        F.array().cast("array<string>").alias("allow"),
    )
    return raw, budgets, robots


def engine_round(
    spark, n: int | None = None, warmup: bool = True
) -> tuple[float, int, dict]:
    """HEADLINE: a real CrawlEngine round pair over ``n``
    URLs — the engine's own code path end-to-end, snapshot persistence and
    manifest commits included (see module docstring for the window)."""
    import shutil
    import tempfile

    from geocrawl_spark.frontier import CrawlEngine

    if n is None:
        n = N_FRONTIER
    if warmup:
        engine_round(spark, max(n // 8, 10_000), warmup=False)
        repeats = int(os.environ.get("BENCH_REPEAT", "3"))
        if repeats > 1:
            results = [
                engine_round(spark, n, warmup=False) for _ in range(repeats)
            ]
            return min(results, key=lambda r: r[0])
    raw, budgets, robots = _synthetic_inputs(spark, n)
    pages_empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    base = tempfile.mkdtemp(prefix="bench-crawl-")
    eng = CrawlEngine(
        spark,
        pages=pages_empty,
        seeds=raw.select(F.col("raw").alias("url")),
        robots=robots,
        hostbudget=budgets,
        base_dir=base,
        n_buckets=N_BUCKETS,
        salt=8,
    )
    t0 = time.time()
    eng.init_state()  # the n-URL admission pass (canon -> seen -> robots)
    t1 = time.time()
    res = eng.run_round(1)  # the politeness pop + frontier MERGE pass
    dt = time.time() - t0
    splits = {"admit": round(t1 - t0, 3), "pop": round(dt - (t1 - t0), 3)}
    # n_batch > 0 and all batch urls miss the empty pages table; politeness
    # deferrals only bind once n exceeds the ~95k/round host capacity
    assert res["missing"] > 0
    assert n < 200_000 or res["deferred_politeness"] > 0
    raw.unpersist()
    for df in (eng.pages, eng.robots, eng.hostbudget):
        df.unpersist()
    spark.sql(f"DROP TABLE IF EXISTS {S.seen_store_name(base)}")
    shutil.rmtree(base, ignore_errors=True)
    return dt, n, splits


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    run_queries = os.environ.get("BENCH_QUERIES", "1") != "0"
    import tempfile

    spark = get_spark(
        app_name="geocrawl-bench",
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="geocrawl-bench-wh-"),
            # console progress bars interleave \r-terminated noise with
            # stdout in captured runs — BENCH_r04's headline JSON line was
            # truncated by exactly this.  The bench must emit ONE clean
            # parseable line.
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries: dict[str, float] = {}
    dt, n, splits = engine_round(spark)
    queries["frontier_round"] = round(dt, 3)
    urls_per_sec = n / dt

    if run_queries:
        from __spark_entry__ import queries as q_entries

        for name, fn in q_entries().items():
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                queries[name] = round(time.time() - t0, 3)
            except Exception:
                queries[name] = -1.0

    total = round(sum(v for v in queries.values() if v > 0), 3)
    out = {
        "metric": "frontier_urls_per_sec",
        "value": round(urls_per_sec, 1),
        "unit": "urls/sec",
        "total_sec": total,
        "frontier_urls": N_FRONTIER,
        "engine_round_splits": splits,
        "queries": queries,
        "sf": sf_dir,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    }
    full_line = json.dumps(out, separators=(",", ":"))
    # The driver records only the LAST ~2000 chars of output and parses the
    # final line (BENCH_r04's full line was 2145 chars -> "parsed": null).
    # Emit the full record first for the log, then a slim line — capped
    # well under the tail window — as the true last line of stdout.
    slim = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": {k: round(v, 2) for k, v in queries.items()},
        "sf": sf_dir,
    }
    slim_line = json.dumps(slim, separators=(",", ":"))
    if len(slim_line) > 1900:  # degrade gracefully as the suite grows
        slim["queries"] = {k: round(v, 1) for k, v in queries.items()}
        slim_line = json.dumps(slim, separators=(",", ":"))
    if len(slim_line) > 1900:
        slim["queries"] = {
            k: round(v, 1) for k, v in queries.items() if k.startswith("frontier")
        }
        slim["queries_full"] = "BENCH/latest_full.json"
        slim_line = json.dumps(slim, separators=(",", ":"))
    # durable copies first (files survive whatever a log capture does to
    # the stream), then stop Spark so nothing can write after the JSON
    bench_dir = os.path.join(os.path.dirname(__file__) or ".", "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, "latest_full.json"), "w") as f:
        f.write(full_line + "\n")
    with open(os.path.join(bench_dir, "latest.json"), "w") as f:
        f.write(slim_line + "\n")
    spark.stop()
    sys.stdout.flush()
    sys.stderr.flush()
    print(full_line, flush=True)
    print(slim_line, flush=True)


if __name__ == "__main__":
    main()
