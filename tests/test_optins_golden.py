"""Composed opt-ins golden: EVERY engine opt-in at once —
compact_seen_every + log_links + adaptive_budget + host_rank — through a
full crawl, a refresh (recrawl) commit, a kill/resume, and the post-
refresh recrawl, asserted exactly equal to a pyref twin configured the
same way.  Each opt-in has its own golden; this one exists to catch
interaction bugs between them — e.g. a refresh commit followed by the
first post-refresh round of an adaptive-budget engine, which must read
the per-host feedback at its latest version from before the refresh.
"""

import pytest

from geocrawl_spark import synth
from geocrawl_spark.frontier import COUNTER_KEYS, CrawlEngine, read_all_rounds
from geocrawl_spark.pyref import PyRefCrawl
from geocrawl_spark.synth import host_name

N_PAGES, N_HOSTS = 80, 6


@pytest.fixture(scope="module")
def fixtures():
    return {
        "pages": synth.gen_pages(N_PAGES, N_HOSTS),
        "seeds": synth.gen_seeds(N_HOSTS),
        "robots": synth.gen_robots(N_HOSTS),
        "budget": synth.gen_hostbudget(N_HOSTS),
        # deterministic skewed ranks (PageRank-shaped, integer millionths)
        "rank": {host_name(i): ((i * 619) % 7) * 140_000 for i in range(N_HOSTS)},
    }


def _mk_engine(spark, fixtures, base_dir):
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
        salt=4,
        n_buckets=4,
        compact_seen_every=2,
        log_links=True,
        adaptive_budget=True,
        host_rank=spark.createDataFrame(
            [(h, r) for h, r in sorted(fixtures["rank"].items())],
            "host string, rank long",
        ),
    )


def _frontier_order(ref):
    return sorted(
        (row["fetch_round"], row["fetch_seq"], u)
        for u, row in ref.frontier.items()
        if row["status"] == "fetched"
    )


def test_all_optins_with_refresh_and_resume(spark, fixtures, tmp_path_factory):
    ref = PyRefCrawl(
        fixtures["pages"],
        fixtures["seeds"],
        fixtures["robots"],
        fixtures["budget"],
        adaptive_budget=True,
        host_rank=fixtures["rank"],
    )
    ref.run(max_rounds=50)

    d = tmp_path_factory.mktemp("optins")
    eng = _mk_engine(spark, fixtures, d)
    eng_log = eng.run(max_rounds=50)
    assert eng.crawl_order() == ref.crawl_order
    assert eng.seen_urls() == ref.seen_urls()
    # compaction actually ran (interval 2 over a multi-round crawl) and
    # the link log wrote real edges
    assert len(eng_log) >= 4
    assert eng.io.get_meta("seen_compaction") is not None
    links = read_all_rounds(spark, eng.io, "links")
    assert links is not None and links.count() > 0

    # --- refresh (recrawl) on both sides --------------------------------
    fetched = sorted({u for _, _, u in ref.crawl_order})
    sel = fetched[::3] + ["http://nowhere.example.org/x.html"]
    n_ref = ref.refresh(sel)
    n_eng = eng.refresh(spark.createDataFrame([(u,) for u in sel], "url string"))
    assert n_eng == n_ref > 0
    r_commit = eng.io.latest_round()

    # --- kill/resume: brand-new engine, same opt-ins, manifest only -----
    eng2 = _mk_engine(spark, fixtures, d)
    eng2_log = eng2.run(max_rounds=30)
    assert len(eng2_log) >= 1  # the post-refresh recrawl actually popped

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
    assert eng2.crawl_order() == _frontier_order(ref)
    assert eng2.seen_urls() == ref.seen_urls()
    # refresh re-fetches, it never re-admits
    assert sum(e["discovered"] for e in eng2_log) == 0
