"""Structured Streaming front-end: availableNow micro-batch run over a
parquet directory, watermarked windowed agg + stateless extraction."""

import pyspark.sql.functions as F

from geocrawl_spark import synth
from geocrawl_spark.streaming import (
    PAGES_SCHEMA,
    host_arrival_metrics,
    read_page_stream,
    streaming_extract,
)


def _write_pages(spark, tmp_path):
    pdf = synth.gen_pages(60, 4)
    spark.createDataFrame(pdf, PAGES_SCHEMA).repartition(4).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "pages"))
    return str(tmp_path / "pages")


def test_streaming_extract_matches_batch(spark, tmp_path):
    path = _write_pages(spark, tmp_path)
    stream = read_page_stream(spark, path, max_files_per_trigger=1)
    out = str(tmp_path / "out")
    q = (
        streaming_extract(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    batch = streaming_extract(spark.read.parquet(path))
    a = {(r["url"], r["text_extracted"], r["n_links"]) for r in got.collect()}
    b = {(r["url"], r["text_extracted"], r["n_links"]) for r in batch.collect()}
    assert a == b and len(a) == 60


def test_host_arrival_metrics(spark, tmp_path):
    path = _write_pages(spark, tmp_path)
    stream = read_page_stream(spark, path)
    out = str(tmp_path / "metrics")
    q = (
        host_arrival_metrics(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # append mode emits only watermark-closed windows; with availableNow the
    # final watermark closes all but the max-event-time window
    batch = (
        spark.read.parquet(path)
        .groupBy(F.window("warc_ts", "1 hour"), F.lit(1))
        .count()
    )
    assert got.count() <= batch.count()
    assert got.select(F.sum("n_pages")).collect()[0][0] is not None


def test_stream_ingested_pages_drive_engine(spark, tmp_path):
    """END-TO-END ingest seam (streaming.py module docstring's deployment
    story): pages arrive through the Structured Streaming front-end and
    land as the corpus the crawl engine reads as its pages snapshot — a
    full CrawlEngine crawl over the STREAM-INGESTED corpus must be
    identical (ordering, seen set, counters) to one over the original
    batch corpus."""
    from geocrawl_spark.frontier import CrawlEngine

    path = _write_pages(spark, tmp_path)
    corpus = str(tmp_path / "corpus")
    q = (
        read_page_stream(spark, path, max_files_per_trigger=2)
        .writeStream.format("parquet")
        .option("path", corpus)
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def crawl(pages_df, base):
        eng = CrawlEngine(
            spark,
            pages=pages_df,
            seeds=spark.createDataFrame(synth.gen_seeds(4)),
            robots=spark.createDataFrame(
                synth.gen_robots(4),
                "host string, disallow array<string>, allow array<string>",
            ),
            hostbudget=spark.createDataFrame(synth.gen_hostbudget(4)),
            base_dir=base,
            n_buckets=2,
        )
        return eng, eng.run(max_rounds=12)

    e_stream, log_stream = crawl(
        spark.read.parquet(corpus), str(tmp_path / "via-stream")
    )
    e_batch, log_batch = crawl(
        spark.createDataFrame(synth.gen_pages(60, 4), PAGES_SCHEMA),
        str(tmp_path / "via-batch"),
    )
    assert log_stream == log_batch
    assert e_stream.crawl_order() == e_batch.crawl_order()
    assert e_stream.seen_urls() == e_batch.seen_urls()
    assert sum(r["fetched"] for r in log_stream) > 0


def test_tsv_line_stream_permissive(spark, tmp_path):
    """A6 streaming analog: malformed TSV lines flow through as dead-letter
    rows (_bad set) instead of killing the stream."""
    from geocrawl_spark.streaming import read_tsv_line_stream

    src = tmp_path / "tsv"
    src.mkdir()
    good = [
        f"http://h{i}.org/p.html\t2024-01-01 00:0{i}:00\ten" for i in range(5)
    ]
    bad = ["!garbage line", "also not\ta timestamp\there"]
    (src / "part1.txt").write_text("\n".join(good[:3] + bad[:1]) + "\n")
    (src / "part2.txt").write_text("\n".join(good[3:] + bad[1:]) + "\n")

    out = str(tmp_path / "out")
    q = (
        read_tsv_line_stream(spark, str(src))
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 7
    assert got.filter(F.col("_bad").isNotNull()).count() == 2
    ok = got.filter(F.col("_bad").isNull())
    assert ok.count() == 5 and ok.filter(F.col("warc_ts").isNull()).count() == 0


def test_streaming_seen_filter_exactly_once(spark, tmp_path):
    """applyInPandasWithState seen filter: a url is emitted the FIRST
    time it is observed and never again — across micro-batches (state)
    and within one (in-chunk dedup) — and admission equals the batch
    contract (distinct canonical urls)."""
    from geocrawl_spark.canon import canonicalize_url_expr
    from geocrawl_spark.streaming import streaming_seen_filter

    pdf = synth.gen_pages(50, 4)
    src = str(tmp_path / "pages_dup")
    base = spark.createDataFrame(pdf, PAGES_SCHEMA)
    # three files with heavy overlap: full corpus, first half again, a
    # third slice again -> later micro-batches re-observe earlier urls
    base.coalesce(1).write.mode("overwrite").parquet(src)
    base.filter(F.xxhash64("url") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    base.filter(F.xxhash64("url") % 3 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = read_page_stream(spark, src, max_files_per_trigger=1)
    out = streaming_seen_filter(stream, 4)
    q = (
        out.writeStream.format("memory")
        .queryName("seen_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select url from seen_stream").collect()
    urls = [r["url"] for r in got]
    assert len(urls) == len(set(urls)), "a url was admitted twice"
    expect = {
        r["url"]
        for r in base.select(
            canonicalize_url_expr(F.col("url")).alias("url")
        ).distinct().collect()
    }
    assert set(urls) == expect
