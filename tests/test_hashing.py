"""Pure-Python xxh64 must be bit-identical to Spark's xxhash64."""

import pyspark.sql.functions as F

from geocrawl_spark.hashing import url_hash

URLS = [
    "",
    "a",
    "http://example.com/",
    "x" * 31,
    "y" * 32,
    "z" * 100,
    "héllo wörld ünïcode " * 5,
    "http://host00.example.org/p/0.html",
]


def test_xxh64_matches_spark(spark):
    df = spark.createDataFrame([(u,) for u in URLS], "url string")
    rows = df.select("url", F.xxhash64("url").alias("h1")).collect()
    for r in rows:
        assert url_hash(r["url"]) == r["h1"]
