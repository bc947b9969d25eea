"""The crawl -> corpus seam: a finished CrawlEngine run's extracted
snapshots, bridged through corpus_from_crawl, must satisfy the
documents-table contract and feed the pipeline operators unchanged —
the end-to-end path a real user runs (crawl, then dedup/filter/mix on
the crawl's own output)."""

import pytest

from geocrawl_spark import synth
from geocrawl_spark.corpus import corpus_from_crawl
from geocrawl_spark.frontier import CrawlEngine

N_PAGES, N_HOSTS = 80, 6


@pytest.fixture(scope="module")
def crawl_sf(spark, tmp_path_factory):
    fx = {
        "pages": synth.gen_pages(N_PAGES, N_HOSTS),
        "seeds": synth.gen_seeds(N_HOSTS),
        "robots": synth.gen_robots(N_HOSTS),
        "budget": synth.gen_hostbudget(N_HOSTS),
    }
    pages_df = spark.createDataFrame(
        fx["pages"],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    eng = CrawlEngine(
        spark,
        pages=pages_df,
        seeds=spark.createDataFrame(fx["seeds"]),
        robots=spark.createDataFrame(
            fx["robots"], "host string, disallow array<string>, allow array<string>"
        ),
        hostbudget=spark.createDataFrame(fx["budget"]),
        base_dir=str(tmp_path_factory.mktemp("bridge")),
        salt=4,
        n_buckets=4,
    )
    log = eng.run(max_rounds=50)
    sf = corpus_from_crawl(
        spark, eng.io, str(tmp_path_factory.mktemp("corpus")), pages=pages_df
    )
    return eng, log, sf


def test_bridge_contract(spark, crawl_sf):
    eng, log, sf = crawl_sf
    df = spark.read.parquet(f"{sf}/documents.parquet")
    assert df.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    n = df.count()
    # one document per fetched page, none lost, ids collision-free here
    assert n == sum(c["fetched"] for c in log)
    assert df.select("doc_id").distinct().count() == n
    rows = df.collect()
    hosts = {f"host{i:02d}.example.org" for i in range(N_HOSTS)}
    assert {r["source"] for r in rows} <= hosts
    assert {r["lang"] for r in rows} <= {"en", "es", "de"}  # pages join hit
    assert all(r["n_chars"] == len(r["text"]) for r in rows)


def test_pipeline_ops_run_on_crawl_output(spark, crawl_sf):
    from geocrawl_spark.queries_ml import dedup_exact
    from geocrawl_spark.queries_pipeline import (
        gopher_quality_flags,
        source_gini,
    )

    _, log, sf = crawl_sf
    n = sum(c["fetched"] for c in log)
    # exact dedup partitions the corpus: copies sum back to the doc count
    fp = dedup_exact(spark, sf).collect()
    assert sum(r["n_copies"] for r in fp) == n
    # the Gopher gate emits one attribution row per document
    flags = gopher_quality_flags(spark, sf).collect()
    assert len(flags) == n
    assert all(r["keep"] in (0, 1) for r in flags)
    # the mixing report sees every document across the crawl's hosts
    g = source_gini(spark, sf).collect()[0]
    assert g["n_docs"] == n and 2 <= g["n_sources"] <= N_HOSTS
    assert 0 <= g["gini_permille"] < 1000


def test_bridge_without_pages_dim(spark, crawl_sf):
    from geocrawl_spark.corpus import corpus_documents

    eng, log, _ = crawl_sf
    d = corpus_documents(spark, eng.io)  # no pages -> lang sentinel
    assert d.filter(d.lang != "und").count() == 0
    assert d.count() == sum(c["fetched"] for c in log)


def test_capture_index_single_generation(spark, crawl_sf):
    """On a crawl with no refresh, the CDX capture index is one row per
    fetched url, every capture count 1, digest = md5 of the extracted
    text, surt = reversed host labels + path."""
    import hashlib

    from geocrawl_spark.corpus import capture_index
    from geocrawl_spark.frontier import read_all_rounds

    eng, log, _ = crawl_sf
    idx = {r["url"]: r for r in capture_index(spark, eng.io).collect()}
    assert len(idx) == sum(c["fetched"] for c in log)
    assert all(r["n_captures"] == 1 for r in idx.values())
    ext = {
        r["url"]: r["text_extracted"]
        for r in read_all_rounds(spark, eng.io, "extracted").collect()
    }
    for u, r in idx.items():
        assert r["last_digest"] == hashlib.md5(ext[u].encode()).hexdigest()
        host, _, path = u.partition("//")[2].partition("/")
        assert r["surt"] == ",".join(reversed(host.split("."))) + ")/" + path
