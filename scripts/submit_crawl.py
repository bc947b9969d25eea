"""spark-submit entry point for the crawl engine — the deployment shape
the north rule prescribes (`spark-submit --py-files` on a multi-executor
cluster, run at two cluster sizes):

    python scripts/make_pyfiles.py
    spark-submit --master <cluster> \
        --py-files dist/geocrawl_spark.zip \
        scripts/submit_crawl.py --hosts 40 --pages-per-host 50 --rounds 5

The script deliberately does NOT call geocrawl_spark.session.get_spark
(which pins a local master and arms PYTHONPATH for in-repo runs): the
master, executor counts, and shuffle partitions come from the
spark-submit command line, and `geocrawl_spark` itself must resolve
from the shipped zip on both driver and executors — running this from a
neutral cwd with PYTHONPATH unset is the packaging proof.

Prints ONE JSON line: rounds run, URLs fetched, wall seconds, urls/sec,
plus where the engine's imports actually came from.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time

from pyspark.sql import SparkSession

import geocrawl_spark
from geocrawl_spark import synth
from geocrawl_spark.frontier import CrawlEngine


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--hosts", type=int, default=20)
    ap.add_argument("--pages-per-host", type=int, default=40)
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--base-dir", default=None)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("geocrawl-submit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    n_pages = args.hosts * args.pages_per_host
    pages = spark.createDataFrame(
        synth.gen_pages(n_pages, args.hosts),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    eng = CrawlEngine(
        spark,
        pages=pages,
        seeds=spark.createDataFrame(synth.gen_seeds(args.hosts)),
        robots=spark.createDataFrame(
            synth.gen_robots(args.hosts),
            "host string, disallow array<string>, allow array<string>",
        ),
        hostbudget=spark.createDataFrame(synth.gen_hostbudget(args.hosts)),
        base_dir=args.base_dir or tempfile.mkdtemp(prefix="geocrawl_submit_"),
    )
    t0 = time.monotonic()
    log = eng.run(max_rounds=args.rounds)
    wall = time.monotonic() - t0
    fetched = sum(r["fetched"] for r in log)
    print(json.dumps({
        "metric": "submit_crawl",
        "master": spark.sparkContext.master,
        "rounds": len(log),
        "fetched": fetched,
        "wall_s": round(wall, 2),
        "urls_per_sec": round(fetched / wall, 1) if wall > 0 else None,
        "pkg_from": geocrawl_spark.__file__,
        "driver_python": sys.executable,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
