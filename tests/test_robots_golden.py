"""robots.txt fetch-and-parse golden parity (robots.bootstrap_robots).

Three layers: (1) the vectorized REP parser agrees with its serial twin
on handcrafted bodies covering every grammar corner; (2) serializing a
hand-built robots dimension into robots.txt bodies, planting them in the
pages corpus, and bootstrapping recovers the SAME crawl (the
serialize -> fetch -> parse -> crawl loop is semantics-preserving);
(3) a host whose robots.txt is missing from the corpus bootstraps to
allow-all (RFC 9309 unreachable semantics) and static_robots rows
survive for unprobed hosts.
"""

import pandas as pd
import pytest

from geocrawl_spark import synth
from geocrawl_spark.frontier import CrawlEngine
from geocrawl_spark.robots import (
    bootstrap_robots,
    parse_robots_py,
    parse_robots_txt,
)

N_PAGES, N_HOSTS = 100, 6

# handcrafted parser fixtures: group merge, exact-beats-star, consecutive
# UA lines sharing a group, rules before any UA ignored, unknown
# directives inert mid-group, empty Disallow dropped, comments, CRLF,
# fractional Crawl-delay ceiling, non-numeric delay ignored, Sitemap
# file-global (collected even from non-matching groups)
PARSER_BODIES = {
    "plain": "User-agent: *\nDisallow: /private/\nAllow: /private/open/\n"
    "Crawl-delay: 2.5\nSitemap: http://a/sm.xml",
    "exact_beats_star": "# hi\nUser-Agent: GeoCrawl\nUser-agent: other\n"
    "Disallow: /g/\nUser-agent: *\nDisallow: /x/\nCrawl-delay: 9\n",
    "orphan_rules": "Disallow: /ignored/\nSitemap: http://c/sm.xml\n"
    "User-agent: zzz\nDisallow: /zz/\n",
    "empty": "",
    "none": None,
    "merge_two_star_groups": "User-agent: *\nDisallow:\nCrawl-delay: soon\n"
    "Unknown: x\nDisallow: /q/\r\nUser-agent: *\nDisallow: /r/\n"
    "Crawl-delay: 4\nCrawl-delay: 2.2\n",
    "sitemap_splits_ua_run": "User-agent: *\nSitemap: http://g/sm.xml\n"
    "User-agent: geocrawl\nDisallow: /h/\n",
    "case_and_space": "USER-AGENT :  *  \nDISALLOW:/caps/\n"
    "allow:\t/caps/sub/\ncrawl-DELAY: 03\n",
}


def test_parser_matches_serial_twin(spark):
    df = spark.createDataFrame(
        list(PARSER_BODIES.items()), "host string, body string"
    )
    got = {r["host"]: r.asDict() for r in parse_robots_txt(df).collect()}
    assert set(got) == set(PARSER_BODIES)
    for h, b in PARSER_BODIES.items():
        exp = parse_robots_py(b)
        g = got[h]
        assert (
            g["disallow"], g["allow"], g["crawl_delay"], g["sitemaps"]
        ) == (
            exp["disallow"], exp["allow"], exp["crawl_delay"], exp["sitemaps"]
        ), h


def test_parser_semantics_spot_checks(spark):
    # independent of the twin: assert the REP outcomes themselves
    df = spark.createDataFrame(
        list(PARSER_BODIES.items()), "host string, body string"
    )
    got = {r["host"]: r.asDict() for r in parse_robots_txt(df).collect()}
    assert got["plain"]["crawl_delay"] == 3  # ceil(2.5)
    assert got["exact_beats_star"]["disallow"] == ["/g/"]
    assert got["exact_beats_star"]["crawl_delay"] is None  # delay in * group
    assert got["orphan_rules"]["disallow"] == []  # no matching group
    assert got["orphan_rules"]["sitemaps"] == ["http://c/sm.xml"]
    assert got["merge_two_star_groups"]["disallow"] == ["/q/", "/r/"]
    assert got["merge_two_star_groups"]["crawl_delay"] == 3  # ceil(min(4,2.2))
    assert got["sitemap_splits_ua_run"]["disallow"] == ["/h/"]
    assert got["case_and_space"]["disallow"] == ["/caps/"]
    assert got["case_and_space"]["allow"] == ["/caps/sub/"]
    assert got["case_and_space"]["crawl_delay"] == 3


# ---------------------------------------------------------------------------
# serialize -> plant in corpus -> bootstrap -> crawl parity
# ---------------------------------------------------------------------------

def _serialize_robots(row) -> str:
    lines = ["# generated fixture", "User-agent: *"]
    if not row["disallow"]:
        lines.append("Disallow:")  # empty = allow-all (still a valid group)
    lines += [f"Disallow: {d}" for d in row["disallow"]]
    lines += [f"Allow: {a}" for a in row["allow"]]
    return "\n".join(lines) + "\n"


@pytest.fixture(scope="module")
def boot_fixtures():
    pages = synth.gen_pages(N_PAGES, N_HOSTS)
    robots_pd = synth.gen_robots(N_HOSTS)
    # pick a host WITH rules to leave robots.txt-less (missing -> allow-all
    # must actually change behavior vs its gen_robots rules)
    missing = next(
        i for i in range(N_HOSTS)
        if list(robots_pd.iloc[i]["disallow"])
    )
    extra = []
    for i in range(N_HOSTS):
        if i == missing:
            continue
        body = _serialize_robots(robots_pd.iloc[i])
        url = f"http://{synth.host_name(i)}/robots.txt"
        # alternate text-column vs html-decode delivery paths
        extra.append(
            {
                "url": url,
                "warc_ts": synth.page_ts(synth.DEFAULT_SEED, url),
                "html": b"" if i % 2 == 0 else body.encode("utf-8"),
                "text": body if i % 2 == 0 else None,
                "lang": "en",
            }
        )
    pages_with_robots = pd.concat(
        [pages, pd.DataFrame(extra)], ignore_index=True
    )
    expected = robots_pd.copy()
    expected.at[missing, "disallow"] = []
    expected.at[missing, "allow"] = []
    return {
        "pages": pages_with_robots,
        "seeds": synth.gen_seeds(N_HOSTS),
        "budget": synth.gen_hostbudget(N_HOSTS),
        "expected_robots": expected,
        "missing": missing,
    }


def _pages_df(spark, pages_pd):
    return spark.createDataFrame(
        pages_pd,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def _crawl(spark, fx, robots_df, tmpdir):
    eng = CrawlEngine(
        spark,
        pages=_pages_df(spark, fx["pages"]),
        seeds=spark.createDataFrame(fx["seeds"]),
        robots=robots_df,
        hostbudget=spark.createDataFrame(fx["budget"]),
        base_dir=str(tmpdir),
        salt=4, n_buckets=4,
    )
    eng.run(max_rounds=50)
    return eng


def test_bootstrap_dimension_matches_expected(spark, boot_fixtures):
    fx = boot_fixtures
    boot = bootstrap_robots(
        spark, _pages_df(spark, fx["pages"]), spark.createDataFrame(fx["seeds"])
    )
    got = {r["host"]: r.asDict() for r in boot.collect()}
    assert len(got) == N_HOSTS  # one row per seed host, always
    for i in range(N_HOSTS):
        h = synth.host_name(i)
        exp = fx["expected_robots"].iloc[i]
        assert got[h]["disallow"] == sorted(exp["disallow"]), h
        assert got[h]["allow"] == sorted(exp["allow"]), h
    # the missing host bootstrapped to allow-all despite gen_robots rules
    mh = synth.host_name(fx["missing"])
    assert got[mh]["disallow"] == [] and got[mh]["allow"] == []


def test_bootstrap_crawl_matches_hand_table(
    spark, boot_fixtures, tmp_path_factory
):
    fx = boot_fixtures
    boot = bootstrap_robots(
        spark, _pages_df(spark, fx["pages"]), spark.createDataFrame(fx["seeds"])
    )
    eng_a = _crawl(spark, fx, boot, tmp_path_factory.mktemp("boot"))
    hand = spark.createDataFrame(
        fx["expected_robots"][["host", "disallow", "allow"]],
        "host string, disallow array<string>, allow array<string>",
    )
    eng_b = _crawl(spark, fx, hand, tmp_path_factory.mktemp("hand"))
    assert eng_a.crawl_order() == eng_b.crawl_order()
    assert set(eng_a.seen_urls()) == set(eng_b.seen_urls())
    # the missing host's allow-all must differ from honoring its
    # gen_robots rules: the raw table crawls strictly less on that host
    raw = spark.createDataFrame(
        synth.gen_robots(N_HOSTS),
        "host string, disallow array<string>, allow array<string>",
    )
    eng_c = _crawl(spark, fx, raw, tmp_path_factory.mktemp("raw"))
    mh = synth.host_name(fx["missing"])
    a_urls = {u for _, _, u in eng_a.crawl_order() if mh in u}
    c_urls = {u for _, _, u in eng_c.crawl_order() if mh in u}
    assert c_urls <= a_urls and a_urls != c_urls


def test_bootstrap_static_merge(spark, boot_fixtures):
    fx = boot_fixtures
    static = spark.createDataFrame(
        [
            ("unprobed.example.org", ["/keep/"], []),
            (synth.host_name(0), ["/stale-should-lose/"], []),
        ],
        "host string, disallow array<string>, allow array<string>",
    )
    boot = bootstrap_robots(
        spark,
        _pages_df(spark, fx["pages"]),
        spark.createDataFrame(fx["seeds"]),
        static_robots=static,
    )
    got = {r["host"]: r.asDict() for r in boot.collect()}
    assert got["unprobed.example.org"]["disallow"] == ["/keep/"]
    # fetched row wins over the static one for a probed host
    assert got[synth.host_name(0)]["disallow"] == sorted(
        fx["expected_robots"].iloc[0]["disallow"]
    )
    assert len(got) == N_HOSTS + 1


def test_origin_urls_plan_quickly_over_parquet(spark, tmp_path):
    """bootstrap_robots and init_state(use_sitemaps=True) build
    ``origin + "/robots.txt"`` / ``"/sitemap.xml"`` urls from canonical
    seed origins.  With pages and seeds read from parquet, canonicalizing
    those urls a second time kept the optimizer busy for minutes; both
    calls must finish well inside 120 s at this tiny size."""
    import time

    from geocrawl_spark.streaming import PAGES_SCHEMA

    spark.createDataFrame(synth.gen_pages(40, 4), PAGES_SCHEMA).write.parquet(
        str(tmp_path / "pages")
    )
    spark.createDataFrame(synth.gen_seeds(4)).write.parquet(str(tmp_path / "seeds"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    seeds = spark.read.parquet(str(tmp_path / "seeds"))

    t0 = time.time()
    hosts = [r["host"] for r in bootstrap_robots(spark, pages, seeds).collect()]
    assert time.time() - t0 < 120
    assert len(hosts) == 4

    eng = CrawlEngine(
        spark, pages, seeds,
        robots=spark.createDataFrame(
            synth.gen_robots(4),
            "host string, disallow array<string>, allow array<string>",
        ),
        hostbudget=spark.createDataFrame(synth.gen_hostbudget(4)),
        base_dir=str(tmp_path / "crawl"),
        n_buckets=2,
        use_sitemaps=True,
    )
    t0 = time.time()
    counters = eng.init_state()
    assert time.time() - t0 < 120
    assert counters["discovered"] + counters["robots_denied"] > 4  # seeds + sitemaps
