"""Extra benchmarks for optimization work (guide §1.4) — NOT the driver
contract (that is bench.py, frozen).  Times individual queries() entries
with the noop sink in one session, optionally N repeats, and can dump
``.explain("formatted")`` per query.

Usage:
  python bench_extra.py q1 q2 ...            # time listed queries
  BENCH_X_REPEAT=3 python bench_extra.py q   # best-of-3
  BENCH_X_EXPLAIN=plans/r06 python bench_extra.py q   # also dump plans
  python bench_extra.py --engine             # profiled engine round pair
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from geocrawl_spark.session import get_spark  # noqa: E402


def main():
    args = [a for a in sys.argv[1:] if a != "--engine"]
    do_engine = "--engine" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(os.environ.get("BENCH_X_REPEAT", "1"))
    explain_dir = os.environ.get("BENCH_X_EXPLAIN")
    import tempfile

    spark = get_spark(
        app_name="geocrawl-bench-extra",
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="geocrawl-bx-wh-"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if do_engine:
        import bench

        dt, n, splits = bench.engine_round(spark, warmup=True)
        print(json.dumps({"engine_round": round(dt, 3), "splits": splits}))

    if args:
        from __spark_entry__ import queries as q_entries

        entries = q_entries()
        out = {}
        for name in args:
            fn = entries[name]
            if explain_dir:
                os.makedirs(explain_dir, exist_ok=True)
                df = fn(spark, sf_dir)
                with open(os.path.join(explain_dir, f"{name}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            times = []
            for _ in range(repeat):
                spark.sparkContext.setJobDescription(f"bench_extra: {name}")
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                times.append(round(time.time() - t0, 3))
            out[name] = min(times)
            print(f"{name}: {times}", flush=True)
        print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
