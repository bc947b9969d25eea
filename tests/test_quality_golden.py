"""Quality-feedback prioritization golden (CrawlEngine quality_rank):
discoveries are priority-stamped by their host's cumulative mean
EXTRACTED-text length through the previous round — the tier-crawl
feedback loop closed on the crawl's own content (host_quality_rollup's
signal driving the scheduler), where host_rank closes it on the link
graph.  Asserted exactly equal to the pyref twin: crawl ordering, seen
set, per-round counters — alone, and composed with every other opt-in
(compaction + link log + adaptive budgets) through refresh and
kill/resume, where every feedback table is read at its latest committed
version across commits that did not write it.
"""

import pytest

from geocrawl_spark import synth
from geocrawl_spark.frontier import COUNTER_KEYS, CrawlEngine
from geocrawl_spark.pyref import PyRefCrawl

N_PAGES, N_HOSTS = 80, 6


@pytest.fixture(scope="module")
def fixtures():
    return {
        # lastmod=True (implies sitemaps) plants per-host sitemap.xml +
        # orphan pages with advertised <lastmod> stamps; the non-sitemap
        # tests never admit them (parity unaffected), the composed test
        # opts in, must reach the orphans, and exercises the freshness
        # selector alongside every other opt-in
        "pages": synth.gen_pages(N_PAGES, N_HOSTS, lastmod=True),
        "seeds": synth.gen_seeds(N_HOSTS),
        "robots": synth.gen_robots(N_HOSTS),
        "budget": synth.gen_hostbudget(N_HOSTS),
    }


def _mk_engine(spark, fixtures, base_dir, **kw):
    return CrawlEngine(
        spark,
        pages=spark.createDataFrame(
            fixtures["pages"],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ),
        seeds=spark.createDataFrame(fixtures["seeds"]),
        robots=spark.createDataFrame(
            fixtures["robots"],
            "host string, disallow array<string>, allow array<string>",
        ),
        hostbudget=spark.createDataFrame(fixtures["budget"]),
        base_dir=str(base_dir),
        quality_rank=True,
        **kw,
    )


def test_quality_rank_matches_pyref(spark, fixtures, tmp_path):
    ref = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], fixtures["robots"],
        fixtures["budget"], quality_rank=True,
    )
    ref.run(max_rounds=50)
    eng = _mk_engine(spark, fixtures, tmp_path, salt=4, n_buckets=4)
    log = eng.run(max_rounds=50)
    assert eng.crawl_order() == ref.crawl_order
    assert eng.seen_urls() == ref.seen_urls()
    got = [{k: e[k] for k in COUNTER_KEYS} for e in log]
    want = [
        {k: e[k] for k in COUNTER_KEYS}
        for e in ref.counters_log
        if e["round"] > 0
    ]
    assert got == want

    # non-triviality: the quality signal actually reordered the crawl
    # relative to pure BFS (identical ordering would make this golden
    # vacuous) while fetching the same page set
    bfs = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], fixtures["robots"],
        fixtures["budget"],
    )
    bfs.run(max_rounds=50)
    assert sorted(u for _, _, u in bfs.crawl_order) == sorted(
        u for _, _, u in ref.crawl_order
    )
    assert bfs.crawl_order != ref.crawl_order


def test_quality_rank_mutually_exclusive_with_host_rank(spark, fixtures, tmp_path):
    with pytest.raises(ValueError, match="mutually exclusive"):
        _mk_engine(
            spark, fixtures, tmp_path,
            host_rank=spark.createDataFrame(
                [("h", 1)], "host string, rank long"
            ),
        )
    with pytest.raises(ValueError, match="mutually exclusive"):
        PyRefCrawl(
            fixtures["pages"], fixtures["seeds"], fixtures["robots"],
            fixtures["budget"], quality_rank=True, host_rank={"h": 1},
        )


def test_quality_rank_composed_optins_refresh_resume(
    spark, fixtures, tmp_path_factory
):
    """quality_rank + compaction + link log + adaptive budgets
    + trap guard + mirror guard + sitemap discovery through crawl ->
    refresh -> kill/resume -> post-refresh recrawl (every per-host
    feedback input — host_log, hostqual, hosttrap, hostdup — is read at
    its latest version from before the refresh commit, also after the
    resume; the post-refresh re-fetches serve unchanged content, so
    they count as dups on BOTH sides — the mirror stats double as a
    change-rate signal)."""
    kw = dict(
        salt=4, n_buckets=4,
        compact_seen_every=2, log_links=True, adaptive_budget=True,
        trap_guard=True, mirror_guard=True, use_sitemaps=True,
    )
    ref = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], fixtures["robots"],
        fixtures["budget"], quality_rank=True, adaptive_budget=True,
        trap_guard=True, mirror_guard=True, use_sitemaps=True,
    )
    ref.run(max_rounds=50)

    d = tmp_path_factory.mktemp("qualopt")
    eng = _mk_engine(spark, fixtures, d, **kw)
    eng.run(max_rounds=50)
    assert eng.crawl_order() == ref.crawl_order
    assert eng.seen_urls() == ref.seen_urls()
    # sitemap discovery is live in the composition: some orphan page
    # (reachable only through a <loc> entry) was actually fetched
    assert any("/p/o" in u for _, _, u in ref.crawl_order)

    fetched = sorted({u for _, _, u in ref.crawl_order})
    sel = fetched[::3]
    n_ref = ref.refresh(sel)
    n_eng = eng.refresh(spark.createDataFrame([(u,) for u in sel], "url string"))
    assert n_eng == n_ref > 0
    r_commit = eng.io.latest_round()

    # kill/resume: a brand-new engine continues from the manifest alone —
    # including the hostqual version from before the refresh commit
    eng2 = _mk_engine(spark, fixtures, d, **kw)
    eng2_log = eng2.run(max_rounds=30)
    assert len(eng2_log) >= 1

    ref_log, r = [], r_commit + 1
    while True:
        res = ref.run_round(r)
        if res is None:
            break
        ref_log.append({"round": r, **res})
        r += 1
    got = [{"round": e["round"], **{k: e[k] for k in COUNTER_KEYS}} for e in eng2_log]
    want = [{"round": e["round"], **{k: e[k] for k in COUNTER_KEYS}} for e in ref_log]
    assert got == want
    assert eng2.seen_urls() == ref.seen_urls()
    # final frontier fetch metadata (round, seq) per url agrees exactly
    ref_order = sorted(
        (row["fetch_round"], row["fetch_seq"], u)
        for u, row in ref.frontier.items()
        if row["status"] == "fetched"
    )
    assert eng2.crawl_order() == ref_order
    # the freshness selector composes too: sitemapmeta accumulated
    # through crawl + refresh + resume, and the resumed engine's stale
    # set matches the twin's
    ref_stale = ref.stale_by_sitemap()
    assert ref_stale
    assert sorted(
        r["url"] for r in eng2.stale_by_sitemap().collect()
    ) == ref_stale
