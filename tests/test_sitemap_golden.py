"""Sitemap-discovery golden parity (CrawlEngine use_sitemaps twin).

The fixture graph gains per-host /sitemap.xml pages plus ORPHAN pages
referenced only by <loc> entries (synth.gen_pages(sitemaps=True)).  The
opt-in engine must (a) reach every robots-allowed orphan — pages with no
inbound <a href> anywhere, the discovery channel only sitemaps provide —
and (b) replay the pyref oracle's crawl EXACTLY (ordering, seen set,
counters, per-url extracted text), with the opt-out engine byte-identical
to the plain crawl (orphans never fetched).
"""

import hashlib

import pytest

from geocrawl_spark import synth
from geocrawl_spark.frontier import CrawlEngine, read_all_rounds
from geocrawl_spark.pyref import PyRefCrawl

N_PAGES, N_HOSTS = 100, 6


@pytest.fixture(scope="module")
def fixtures():
    return {
        "pages": synth.gen_pages(N_PAGES, N_HOSTS, sitemaps=True),
        "seeds": synth.gen_seeds(N_HOSTS),
        "robots": synth.gen_robots(N_HOSTS),
        "budget": synth.gen_hostbudget(N_HOSTS),
    }


def _mk_engine(spark, fixtures, tmpdir, **kw):
    return CrawlEngine(
        spark,
        pages=spark.createDataFrame(
            fixtures["pages"],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ),
        seeds=spark.createDataFrame(fixtures["seeds"]),
        robots=spark.createDataFrame(
            fixtures["robots"], "host string, disallow array<string>, allow array<string>"
        ),
        hostbudget=spark.createDataFrame(fixtures["budget"]),
        base_dir=str(tmpdir),
        salt=4,
        n_buckets=4,
        **kw,
    )


@pytest.fixture(scope="module")
def pyref_run(fixtures):
    ref = PyRefCrawl(
        fixtures["pages"],
        fixtures["seeds"],
        fixtures["robots"],
        fixtures["budget"],
        use_sitemaps=True,
    )
    ref.run(max_rounds=50)
    return ref


def test_sitemap_reaches_orphans_pyref(pyref_run):
    # at least one host's orphans are robots-allowed and must be fetched
    fetched = {u for _, _, u in pyref_run.crawl_order}
    orphans = {
        synth.orphan_url(synth.DEFAULT_SEED, i, n)
        for i in range(N_HOSTS)
        for n in range(synth.n_orphans(synth.DEFAULT_SEED, i))
    }
    assert fetched & orphans, "no orphan reached despite sitemaps"
    # the sitemaps themselves were fetched for the allow-all hosts
    assert any(u.endswith("/sitemap.xml") for u in fetched)


def test_sitemap_opt_out_never_sees_orphans(fixtures):
    ref = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], fixtures["robots"], fixtures["budget"]
    )
    ref.run(max_rounds=50)
    fetched = {u for _, _, u in ref.crawl_order}
    assert not any("/sitemap.xml" in u or "/p/o" in u for u in fetched)


def test_sitemap_golden_engine_matches_pyref(
    spark, fixtures, pyref_run, tmp_path_factory
):
    eng = _mk_engine(
        spark, fixtures, tmp_path_factory.mktemp("sm"), use_sitemaps=True
    )
    eng.run(max_rounds=50)
    assert eng.crawl_order() == pyref_run.crawl_order
    assert set(eng.seen_urls()) == set(pyref_run.seen_urls())
    ext = read_all_rounds(eng.spark, eng.io, "extracted")
    got = {
        r["url"]: hashlib.sha256(r["text_extracted"].encode("utf-8")).hexdigest()
        for r in ext.collect()
    }
    assert got == pyref_run.extracted_sha()
    # orphan coverage survives the Spark path too
    orphans = {
        synth.orphan_url(synth.DEFAULT_SEED, i, n)
        for i in range(N_HOSTS)
        for n in range(synth.n_orphans(synth.DEFAULT_SEED, i))
    }
    assert {u for _, _, u in eng.crawl_order()} & orphans


# ---------------------------------------------------------------------------
# sitemap INDEX recursion (<sitemapindex> -> child /sm_{c}.xml -> orphans)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def idx_fixtures():
    return {
        "pages": synth.gen_pages(N_PAGES, N_HOSTS, sitemap_index=True),
        "seeds": synth.gen_seeds(N_HOSTS),
        "robots": synth.gen_robots(N_HOSTS),
        "budget": synth.gen_hostbudget(N_HOSTS),
    }


def test_sitemap_index_recursion_golden(spark, idx_fixtures, tmp_path_factory):
    """/sitemap.xml is an INDEX naming child /sm_{0,1}.xml files (which a
    <loc> admits as fetchable pages — the .xml rule lives in the sitemap
    channel only); orphans are now TWO sitemap hops from the seed and
    must still be reached, in exact pyref order."""
    ref = PyRefCrawl(
        idx_fixtures["pages"], idx_fixtures["seeds"], idx_fixtures["robots"],
        idx_fixtures["budget"], use_sitemaps=True,
    )
    ref.run(max_rounds=50)
    fetched = {u for _, _, u in ref.crawl_order}
    assert any("/sm_0.xml" in u for u in fetched), "child sitemap not fetched"
    orphans = {
        synth.orphan_url(synth.DEFAULT_SEED, i, n)
        for i in range(N_HOSTS)
        for n in range(synth.n_orphans(synth.DEFAULT_SEED, i))
    }
    assert fetched & orphans, "no orphan reached through the index"

    eng = _mk_engine(
        spark, idx_fixtures, tmp_path_factory.mktemp("smi"), use_sitemaps=True
    )
    eng.run(max_rounds=50)
    assert eng.crawl_order() == ref.crawl_order
    assert set(eng.seen_urls()) == set(ref.seen_urls())


# ---------------------------------------------------------------------------
# robots Sitemap: directive (non-conventional path -> /p/r{n} orphans)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def rsm_fixtures():
    return {
        "pages": synth.gen_pages(N_PAGES, N_HOSTS, robots_sitemaps=True),
        "seeds": synth.gen_seeds(N_HOSTS),
        "robots": synth.gen_robots(N_HOSTS, sitemaps=True),
        "budget": synth.gen_hostbudget(N_HOSTS),
    }


def _rs_orphans():
    return {
        synth.rs_orphan_url(synth.DEFAULT_SEED, i, n)
        for i in range(N_HOSTS)
        if synth.has_robots_sitemap(synth.DEFAULT_SEED, i)
        for n in range(synth.n_rs_orphans(synth.DEFAULT_SEED, i))
    }


def test_robots_sitemap_directive_golden(spark, rsm_fixtures, tmp_path_factory):
    """Hosts declaring a Sitemap: directive (optional `sitemaps` robots
    column) get their NON-conventional /smdir/extra.xml fetched the
    round after the host is first touched; the /p/r{n} orphans it alone
    lists must be crawled — in exact pyref order — while the
    conventional-probe-only channel never finds them."""
    ref = PyRefCrawl(
        rsm_fixtures["pages"], rsm_fixtures["seeds"], rsm_fixtures["robots"],
        rsm_fixtures["budget"], use_sitemaps=True,
    )
    ref.run(max_rounds=50)
    fetched = {u for _, _, u in ref.crawl_order}
    assert any("/smdir/extra.xml" in u for u in fetched), "directive sitemap not fetched"
    assert fetched & _rs_orphans(), "no robots-sitemap orphan reached"

    eng = CrawlEngine(
        spark,
        pages=spark.createDataFrame(
            rsm_fixtures["pages"],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ),
        seeds=spark.createDataFrame(rsm_fixtures["seeds"]),
        robots=spark.createDataFrame(
            rsm_fixtures["robots"],
            "host string, disallow array<string>, allow array<string>, "
            "sitemaps array<string>",
        ),
        hostbudget=spark.createDataFrame(rsm_fixtures["budget"]),
        base_dir=str(tmp_path_factory.mktemp("rsm")),
        salt=4, n_buckets=4,
        use_sitemaps=True,
    )
    eng.run(max_rounds=50)
    assert eng.crawl_order() == ref.crawl_order
    assert set(eng.seen_urls()) == set(ref.seen_urls())


def test_robots_sitemap_ignored_without_optin(spark, rsm_fixtures):
    """The `sitemaps` robots column is inert when use_sitemaps is off —
    and inert in pyref too (parity of the OPT-OUT pair on the same
    fixtures)."""
    ref = PyRefCrawl(
        rsm_fixtures["pages"], rsm_fixtures["seeds"], rsm_fixtures["robots"],
        rsm_fixtures["budget"],
    )
    ref.run(max_rounds=50)
    fetched = {u for _, _, u in ref.crawl_order}
    assert not any(".xml" in u or "/p/r" in u or "/p/o" in u for u in fetched)


# ---------------------------------------------------------------------------
# sitemap <lastmod> freshness (sitemapmeta -> stale_by_sitemap -> refresh)
# ---------------------------------------------------------------------------

def test_sitemap_lastmod_staleness_golden(spark, tmp_path_factory):
    """The protocol-native freshness loop: the flat sitemaps advertise a
    <lastmod> per loc (warc_ts +/- 2 days); stale_by_sitemap() must
    return exactly the fetched urls whose advertised change is NEWER
    than the held snapshot — identical on both sides — and feeding it to
    refresh() re-queues the identical count, with the continued run
    byte-identical (ordering + counters) to the pyref replay."""
    fx = {
        "pages": synth.gen_pages(N_PAGES, N_HOSTS, lastmod=True),
        "seeds": synth.gen_seeds(N_HOSTS),
        "robots": synth.gen_robots(N_HOSTS),
        "budget": synth.gen_hostbudget(N_HOSTS),
    }
    ref = PyRefCrawl(
        fx["pages"], fx["seeds"], fx["robots"], fx["budget"], use_sitemaps=True
    )
    ref.run(max_rounds=50)
    eng = _mk_engine(
        spark, fx, tmp_path_factory.mktemp("lm"), use_sitemaps=True
    )
    eng.run(max_rounds=50)
    assert eng.crawl_order() == ref.crawl_order

    ref_stale = ref.stale_by_sitemap()
    eng_stale = sorted(r["url"] for r in eng.stale_by_sitemap().collect())
    assert eng_stale == ref_stale
    assert len(ref_stale) > 0
    # staleness is a strict subset: sitemaps also list fresh urls
    fetched = {u for _, _, u in ref.crawl_order}
    listed_fetched = set(ref.sitemap_lastmod) & fetched
    assert set(ref_stale) < listed_fetched

    n_ref = ref.refresh(ref_stale)
    n_eng = eng.refresh(
        spark.createDataFrame([(u,) for u in ref_stale], "url string")
    )
    assert n_eng == n_ref == len(ref_stale)
    r_commit = eng.io.latest_round()
    eng_log = eng.run(max_rounds=30)
    ref_log, r = [], r_commit + 1
    while True:
        res = ref.run_round(r)
        if res is None:
            break
        ref_log.append({"round": r, **res})
        r += 1
    assert [e["round"] for e in eng_log] == [e["round"] for e in ref_log]
    assert eng.crawl_order() == sorted(
        (row["fetch_round"], row["fetch_seq"], u)
        for u, row in ref.frontier.items()
        if row["status"] == "fetched"
    )
    # after the re-fetch, nothing is stale anymore on either side: the
    # advertised lastmod is unchanged while the held snapshot is
    # re-recorded at the same warc_ts -> lastmod > warc_ts still holds?
    # No: the snapshot did not change (no set_pages), so the SAME urls
    # remain stale — the selector is idempotent w.r.t. unchanged content
    assert sorted(r["url"] for r in eng.stale_by_sitemap().collect()) == (
        ref.stale_by_sitemap()
    )
