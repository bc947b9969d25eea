"""End-to-end golden crawl replay (SURVEY.md §5.2 item 2, north_rule).

Runs the Spark engine and the single-threaded pyref oracle on the same
deterministic synthetic page graph, same seed list, same politeness
budgets, and asserts EXACT equality of:
  (a) crawl ordering (round, seq, url),
  (b) final URL-seen set,
  (c) per-round counters,
  (d) extracted text per url (byte-identity via sha256),
  (e) metadata rows (full parse stage output),
and (f) kill-at-round-k + resume reproduces the identical ordering (H4).
"""

import hashlib

import pytest

import pyspark.sql.functions as F

from geocrawl_spark import synth
from geocrawl_spark.frontier import COUNTER_KEYS, CrawlEngine, read_all_rounds
from geocrawl_spark.pyref import PyRefCrawl

N_PAGES, N_HOSTS = 120, 8


@pytest.fixture(scope="module")
def fixtures():
    return {
        "pages": synth.gen_pages(N_PAGES, N_HOSTS),
        "seeds": synth.gen_seeds(N_HOSTS),
        "robots": synth.gen_robots(N_HOSTS),
        "budget": synth.gen_hostbudget(N_HOSTS),
    }


@pytest.fixture(scope="module")
def pyref_run(fixtures):
    ref = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], fixtures["robots"], fixtures["budget"]
    )
    ref.run(max_rounds=50)
    return ref


def _mk_engine(spark, fixtures, tmpdir, mode="exact"):
    return CrawlEngine(
        spark,
        pages=spark.createDataFrame(
            fixtures["pages"], "url string, warc_ts timestamp, html binary, text string, lang string"
        ),
        seeds=spark.createDataFrame(fixtures["seeds"]),
        robots=spark.createDataFrame(fixtures["robots"], "host string, disallow array<string>, allow array<string>"),
        hostbudget=spark.createDataFrame(fixtures["budget"]),
        base_dir=str(tmpdir),
        mode=mode,
        n_shards=4,
        salt=4,
        m_bits=1 << 18,
        k=7,
        n_buckets=4,
    )


@pytest.fixture(scope="module")
def spark_run(spark, fixtures, tmp_path_factory):
    eng = _mk_engine(spark, fixtures, tmp_path_factory.mktemp("crawl"))
    log = eng.run(max_rounds=50)
    return eng, log


def test_crawl_order_identical(spark_run, pyref_run):
    eng, _ = spark_run
    assert eng.crawl_order() == pyref_run.crawl_order
    assert len(pyref_run.crawl_order) > 50  # the crawl actually went deep


def test_seen_set_identical(spark_run, pyref_run):
    eng, _ = spark_run
    assert eng.seen_urls() == pyref_run.seen_urls()


def test_counters_identical(spark_run, pyref_run):
    eng, _ = spark_run
    log = read_all_rounds(eng.spark, eng.io, "crawl_log")
    got = {
        r["round"]: {k: r[k] for k in COUNTER_KEYS}
        for r in log.collect()
    }
    want = {
        c["round"]: {k: c[k] for k in COUNTER_KEYS}
        for c in pyref_run.counters_log
    }
    assert got == want
    # politeness + robots actually exercised
    assert sum(c["deferred_politeness"] for c in pyref_run.counters_log) > 0
    assert sum(c["robots_denied"] for c in pyref_run.counters_log) > 0
    assert sum(c["deduped"] for c in pyref_run.counters_log) > 0


def test_host_lineage_identical(spark_run, pyref_run):
    eng, _ = spark_run
    df = read_all_rounds(eng.spark, eng.io, "host_log")
    got = sorted(
        (r["round"], r["host"], r["fetched"], r["missing"], r["deferred_politeness"])
        for r in df.collect()
    )
    want = sorted(
        (h["round"], h["host"], h["fetched"], h["missing"], h["deferred_politeness"])
        for h in pyref_run.host_log
    )
    assert got == want and len(got) > 0


def test_extracted_text_byte_identical(spark_run, pyref_run):
    eng, _ = spark_run
    df = read_all_rounds(eng.spark, eng.io, "extracted")
    got = {
        r["url"]: hashlib.sha256(r["text_extracted"].encode("utf-8")).hexdigest()
        for r in df.collect()
    }
    assert got == pyref_run.extracted_sha()
    # and the extracted text equals the pages table's text column (input_hint)
    pages_text = {r.url: r.text for r in spark_run[0].pages.toLocalIterator()}
    for u, t in pyref_run.extracted.items():
        assert pages_text[u] == t


def _meta_key(d):
    return (d["asset_url"], d["ds_name"], d["round"])


def test_metadata_rows_identical(spark_run, pyref_run):
    eng, _ = spark_run
    df = read_all_rounds(eng.spark, eng.io, "metadata")
    # Go zero time (0001-01-01, kept for reference parity) predates what
    # PySpark's row converter can hand to Python, so compare timestamps as
    # RFC3339 strings computed JVM-side.
    df = df.withColumn(
        "timestamps",
        F.transform(
            "timestamps", lambda t: F.date_format(t, "yyyy-MM-dd'T'HH:mm:ss'Z'")
        ),
    )
    got = sorted(
        (
            {
                "asset_url": r["asset_url"],
                "round": r["round"],
                "pattern": r["pattern"],
                "filename_fields": dict(r["filename_fields"]),
                "file_type": r["file_type"],
                "ds_name": r["ds_name"],
                "raster_count": r["raster_count"],
                "array_type": r["array_type"],
                "x_size": r["x_size"],
                "y_size": r["y_size"],
                "proj_wkt": r["proj_wkt"],
                "geotransform": list(r["geotransform"]),
                "proj4": r["proj4"],
                "polygon": r["polygon"],
                "timestamps": list(r["timestamps"]),
            }
            for r in df.collect()
        ),
        key=_meta_key,
    )
    want = sorted(
        (
            # isoformat (not strftime) so year 1 pads to '0001'
            {**m, "timestamps": [t.replace(tzinfo=None).isoformat() + "Z" for t in m["timestamps"]]}
            for m in pyref_run.metadata
        ),
        key=_meta_key,
    )
    assert len(got) == len(want) > 10
    for g, w in zip(got, want):
        assert g == w, (g["asset_url"], g["ds_name"])


def test_dead_letters_identical(spark_run, pyref_run):
    eng, _ = spark_run
    df = read_all_rounds(eng.spark, eng.io, "dead_letters")
    got = sorted((r["asset_url"], r["round"]) for r in df.collect())
    assert got == sorted(pyref_run.dead_letters)
    assert len(got) > 0  # B4 dead-letter path exercised


@pytest.mark.parametrize("mode", ["bloom", "cuckoo", "anti", "bitword", "abucket"])
def test_seen_modes_match_exact(spark, fixtures, tmp_path_factory, pyref_run, mode):
    """Same crawl under every alternative seen-filter strategy — identical
    ordering, seen set, AND per-round counters.  bloom/bitword FPs would
    be deterministic in both implementations (none at this m_bits)."""
    eng = _mk_engine(spark, fixtures, tmp_path_factory.mktemp(f"crawl_{mode}"), mode=mode)
    log = eng.run(max_rounds=50)
    assert eng.crawl_order() == pyref_run.crawl_order
    assert eng.seen_urls() == pyref_run.seen_urls()
    want = {
        c["round"]: {k: c[k] for k in COUNTER_KEYS} for c in pyref_run.counters_log
    }
    got = {e["round"]: {k: e[k] for k in COUNTER_KEYS} for e in log}
    assert all(got[r] == want[r] for r in got) and len(got) > 3


def test_round_cap_matches_pyref(spark, fixtures, tmp_path_factory, pyref_run):
    """E3 global per-round batch ceiling: engine == pyref under the same
    cap, the cap actually binds (more deferrals, more rounds), and the
    final coverage is unchanged."""
    cap = 7
    ref = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], fixtures["robots"], fixtures["budget"],
        round_cap=cap,
    )
    ref.run(max_rounds=60)
    eng = CrawlEngine(
        spark,
        pages=spark.createDataFrame(
            fixtures["pages"],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ),
        seeds=spark.createDataFrame(fixtures["seeds"]),
        robots=spark.createDataFrame(fixtures["robots"], "host string, disallow array<string>, allow array<string>"),
        hostbudget=spark.createDataFrame(fixtures["budget"]),
        base_dir=str(tmp_path_factory.mktemp("crawl_cap")),
        n_shards=4, salt=4, m_bits=1 << 18, k=7, round_cap=cap,
    )
    eng.run(max_rounds=60)
    assert eng.crawl_order() == ref.crawl_order
    assert eng.seen_urls() == pyref_run.seen_urls()  # same coverage
    assert len(ref.counters_log) > len(pyref_run.counters_log)  # cap binds


def test_budget_carryover_changes_ordering(fixtures, pyref_run):
    """H1 residual-budget carryover is LIVE: disabling it in the oracle
    produces a different crawl ordering on this fixture (a host that
    under-used its budget in round k pops more in round k+1), while the
    engine (always carryover) matches the carryover oracle exactly via
    the golden tests above."""
    ref_nocarry = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], fixtures["robots"], fixtures["budget"],
        carryover=False,
    )
    ref_nocarry.run(max_rounds=50)
    assert ref_nocarry.crawl_order != pyref_run.crawl_order
    # same final coverage, different schedule
    assert ref_nocarry.seen_urls() == pyref_run.seen_urls()


def test_kill_resume_identical(spark, fixtures, tmp_path_factory, spark_run, pyref_run):
    """Kill after round 2, resume — identical final ordering (H4)."""
    eng = _mk_engine(spark, fixtures, tmp_path_factory.mktemp("crawlr"))
    eng.init_state()
    eng.run_round(1)
    eng.run_round(2)
    # simulate a crash: some post-round-2 garbage exists but is uncommitted
    eng.io.rollback_to(2)
    # a brand-new engine resumes from the last committed snapshot
    eng2 = _mk_engine(spark, fixtures, str(eng.io.base), )
    eng2.run(max_rounds=50)
    assert eng2.crawl_order() == pyref_run.crawl_order
    assert eng2.seen_urls() == pyref_run.seen_urls()


def test_kill_resume_identical_abucket(spark, fixtures, tmp_path_factory, pyref_run):
    """Kill/resume under mode='abucket': round-3 appends to the seen store
    happen BEFORE the manifest commit, so a crash between them must leave
    the store readable as of round 2 — the round partition column + the
    reader's ``round <= committed`` filter guarantee it without cleanup,
    and the re-run's dynamic partition overwrite replaces the stale
    partition idempotently."""
    import os

    eng = _mk_engine(spark, fixtures, tmp_path_factory.mktemp("crawlab"), mode="abucket")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    eng.init_state()
    eng.run_round(1)
    n_cached = persistent().size()
    eng.run_round(2)
    eng.run_round(3)  # round 3 fully ran: its seen-store partition exists...
    # every round drops what it cached before the store append
    assert persistent().size() <= n_cached
    # the store append hashes the round's written `admitted` table: each
    # round's partition is exactly xxhash64 over that round's admissions
    for r in range(4):
        part = os.path.join(str(eng.io.base), "seen_store", f"round={r}")
        got = sorted(row[0] for row in spark.read.parquet(part).collect())
        admitted = eng.io.read_table(spark, "admitted", r)
        want = sorted(row[0] for row in admitted.select(F.xxhash64("url")).collect())
        assert got == want and want, r
    eng.io.rollback_to(2)  # ...but the crash voided the commit
    # the uncommitted partition is really there (the hazard is real)
    assert os.path.exists(os.path.join(str(eng.io.base), "seen_store", "round=3"))
    # a brand-new engine resumes from the last committed snapshot and must
    # reproduce the oracle exactly despite the stale partition
    eng2 = _mk_engine(spark, fixtures, str(eng.io.base), mode="abucket")
    eng2.run(max_rounds=50)
    assert eng2.crawl_order() == pyref_run.crawl_order
    assert eng2.seen_urls() == pyref_run.seen_urls()


def test_crawl_delay_caps_budget(spark, fixtures, tmp_path_factory, pyref_run):
    """Robots crawl-delay (opt-in column): a host advertising delay d gets
    at most max(1, floor(round_seconds/d)) fetches per round.  Engine ==
    pyref under the delay, and the cap actually BINDS (the schedule
    differs from the no-delay run) while final coverage is unchanged."""
    import pandas as pd

    robots = fixtures["robots"].copy()
    # throttle the two largest hosts hard: 60s round / 40s delay -> 1/round
    robots["crawl_delay"] = pd.array(
        [40 if i < 2 else None for i in range(len(robots))], dtype="Int64"
    )
    ref = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], robots, fixtures["budget"],
        round_seconds=60,
    )
    ref.run(max_rounds=80)
    assert ref.crawl_order != pyref_run.crawl_order  # the cap binds
    assert ref.seen_urls() == pyref_run.seen_urls()  # same coverage
    eng = CrawlEngine(
        spark,
        pages=spark.createDataFrame(
            fixtures["pages"],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ),
        seeds=spark.createDataFrame(fixtures["seeds"]),
        robots=spark.createDataFrame(
            robots,
            "host string, disallow array<string>, allow array<string>, "
            "crawl_delay long",
        ),
        hostbudget=spark.createDataFrame(fixtures["budget"]),
        base_dir=str(tmp_path_factory.mktemp("crawl_delay")),
        n_shards=4, salt=4, m_bits=1 << 18, k=7, n_buckets=4,
        round_seconds=60,
    )
    eng.run(max_rounds=80)
    assert eng.crawl_order() == ref.crawl_order
    assert eng.seen_urls() == ref.seen_urls()


def test_host_rank_priority_golden(spark, fixtures, tmp_path_factory, pyref_run):
    """Opt-in host-rank prioritization (politeness.PRIO_* formula): the
    Spark engine and pyref produce the IDENTICAL reordered crawl, the
    ordering genuinely differs from pure BFS, and coverage (seen set) is
    unchanged — prioritization reorders work, it never changes what gets
    crawled."""
    from geocrawl_spark.synth import host_name

    # deterministic skewed ranks in integer millionths (PageRank-shaped)
    rank = {host_name(i): ((i * 619) % 7) * 140_000 for i in range(N_HOSTS)}
    ref = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], fixtures["robots"],
        fixtures["budget"], host_rank=rank,
    )
    ref.run(max_rounds=50)
    assert ref.crawl_order != pyref_run.crawl_order  # the signal binds
    assert ref.seen_urls() == pyref_run.seen_urls()  # same coverage
    eng = CrawlEngine(
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
        base_dir=str(tmp_path_factory.mktemp("hostrank")),
        n_shards=4, salt=4, m_bits=1 << 18, k=7, n_buckets=4,
        host_rank=spark.createDataFrame(
            [(h, r) for h, r in sorted(rank.items())], "host string, rank long"
        ),
    )
    eng.run(max_rounds=50)
    assert eng.crawl_order() == ref.crawl_order
    assert eng.seen_urls() == ref.seen_urls()


def test_adaptive_budget_golden(spark, tmp_path_factory):
    """Opt-in error-rate budget feedback: a host whose popped batch was
    majority-missing gets its base budget halved next round (floor,
    min 1).  Engine == pyref exactly under the rule, including across a
    kill/resume (the hosterr feedback table must persist); the feedback
    BINDS (schedule differs from the non-adaptive run) while final
    coverage is unchanged."""
    import datetime as dt

    import pandas as pd

    from geocrawl_spark.assets import extract_text_py

    host = "hosta.example.org"

    def page(url, hrefs):
        html = (
            "<html><body>"
            + "".join(f'<a href="{h}">x</a>' for h in hrefs)
            + "</body></html>"
        ).encode()
        return {
            "url": url,
            "warc_ts": dt.datetime(2020, 1, 1),
            "html": html,
            "text": extract_text_py(html),
            "lang": "en",
        }

    seed_url = f"http://{host}/p/seed.html"
    dangling = [f"http://{host}/p/a{k}.html" for k in range(6)]  # 404s
    real = [f"http://{host}/p/z{k}.html" for k in range(6)]
    pages = pd.DataFrame(
        [page(seed_url, dangling + real)] + [page(u, []) for u in real]
    )
    seeds = pd.DataFrame([{"url": seed_url, "priority": 0}])
    robots = pd.DataFrame([{"host": host, "disallow": [], "allow": []}])
    budget = pd.DataFrame([{"host": host, "budget": 4}])

    ref_on = PyRefCrawl(pages, seeds, robots, budget, adaptive_budget=True)
    ref_on.run(max_rounds=50)
    ref_off = PyRefCrawl(pages, seeds, robots, budget)
    ref_off.run(max_rounds=50)
    assert ref_on.crawl_order != ref_off.crawl_order  # the halving binds
    assert sorted(u for _, _, u in ref_on.crawl_order) == sorted(
        u for _, _, u in ref_off.crawl_order
    )  # same coverage, different schedule

    def mk(tmpdir):
        return CrawlEngine(
            spark,
            pages=spark.createDataFrame(
                pages,
                "url string, warc_ts timestamp, html binary, text string, lang string",
            ),
            seeds=spark.createDataFrame(seeds),
            robots=spark.createDataFrame(
                robots, "host string, disallow array<string>, allow array<string>"
            ),
            hostbudget=spark.createDataFrame(budget),
            base_dir=str(tmpdir),
            n_shards=4, salt=4, m_bits=1 << 18, k=7, n_buckets=4,
            adaptive_budget=True,
        )

    eng = mk(tmp_path_factory.mktemp("adaptive"))
    # kill after round 2 (the round whose majority-missing stats trigger
    # the round-3 halving) — resume must read hosterr@2 from disk
    eng.init_state()
    eng.run_round(1)
    eng.run_round(2)
    eng.io.rollback_to(2)
    eng2 = mk(str(eng.io.base))
    eng2.run(max_rounds=50)
    assert eng2.crawl_order() == ref_on.crawl_order
    assert eng2.seen_urls() == ref_on.seen_urls()


def test_trap_guard_golden(spark, tmp_path_factory):
    """Opt-in spider-trap quarantine: a host whose cumulative discovery
    stats look auto-generated (n_disc >= trap_fanout * n_fetched AND a
    discovery at depth >= trap_depth) has its effective budget forced to
    1/round — quarantine, not exclusion, so final coverage is unchanged
    while the trap stops monopolizing the schedule.  The synthetic trap
    host is a 3-level fan-out tree (1 seed -> 3 -> 9 -> 18 leaves); the
    rule trips once depth-3 discoveries land, and — because leaves add no
    new discoveries — LIFTS again when fetches catch up, exercising both
    transitions.  Engine == pyref exactly, including across a
    kill/resume at the quarantine-trigger round (hosttrap must persist).
    """
    import datetime as dt

    import pandas as pd

    from geocrawl_spark.assets import extract_text_py

    trap, good = "trap.example.org", "good.example.org"

    def page(host, name, hrefs):
        html = (
            "<html><body>"
            + "".join(f'<a href="{h}">x</a>' for h in hrefs)
            + "</body></html>"
        ).encode()
        return {
            "url": f"http://{host}/p/{name}.html",
            "warc_ts": dt.datetime(2020, 1, 1),
            "html": html,
            "text": extract_text_py(html),
            "lang": "en",
        }

    rows = []
    # trap host: seed -> t{i} -> t{i}_{j} -> two leaf children each
    d1 = [f"t{i}" for i in range(3)]
    rows.append(page(trap, "seed", [f"/p/{n}.html" for n in d1]))
    for a in d1:
        kids = [f"{a}_{j}" for j in range(3)]
        rows.append(page(trap, a, [f"/p/{k}.html" for k in kids]))
        for b in kids:
            leaves = [f"{b}_{m}" for m in range(2)]
            rows.append(page(trap, b, [f"/p/{le}.html" for le in leaves]))
            rows.extend(page(trap, le, []) for le in leaves)
    # well-behaved control host: tiny linear chain
    rows.append(page(good, "seed", ["/p/g1.html"]))
    rows.append(page(good, "g1", ["/p/g2.html"]))
    rows.append(page(good, "g2", []))
    pages = pd.DataFrame(rows)
    seeds = pd.DataFrame(
        [
            {"url": f"http://{trap}/p/seed.html", "priority": 0},
            {"url": f"http://{good}/p/seed.html", "priority": 0},
        ]
    )
    robots = pd.DataFrame(
        [{"host": h, "disallow": [], "allow": []} for h in (trap, good)]
    )
    budget = pd.DataFrame(
        [{"host": trap, "budget": 4}, {"host": good, "budget": 2}]
    )

    ref_on = PyRefCrawl(pages, seeds, robots, budget, trap_guard=True)
    ref_on.run(max_rounds=50)
    ref_off = PyRefCrawl(pages, seeds, robots, budget)
    ref_off.run(max_rounds=50)
    assert ref_on.crawl_order != ref_off.crawl_order  # the quarantine binds
    assert sorted(u for _, _, u in ref_on.crawl_order) == sorted(
        u for _, _, u in ref_off.crawl_order
    )  # quarantine, not exclusion: identical final coverage
    assert ref_on.seen_urls() == ref_off.seen_urls()
    # both transitions exercised: trapped mid-crawl, lifted by the end
    probe = PyRefCrawl(pages, seeds, robots, budget, trap_guard=True)
    probe.init_state()
    flags, r = [], 1
    while probe.run_round(r) is not None:
        flags.append(probe._trapped(trap))
        r += 1
    assert True in flags and flags[-1] is False

    def mk(tmpdir):
        return CrawlEngine(
            spark,
            pages=spark.createDataFrame(
                pages,
                "url string, warc_ts timestamp, html binary, text string, lang string",
            ),
            seeds=spark.createDataFrame(seeds),
            robots=spark.createDataFrame(
                robots, "host string, disallow array<string>, allow array<string>"
            ),
            hostbudget=spark.createDataFrame(budget),
            base_dir=str(tmpdir),
            n_shards=4, salt=4, m_bits=1 << 18, k=7, n_buckets=4,
            trap_guard=True,
        )

    eng = mk(tmp_path_factory.mktemp("trapguard"))
    # kill after round 3 (the round whose depth-3 discoveries trip the
    # quarantine) — resume must read hosttrap@3 from disk
    eng.init_state()
    for r in (1, 2, 3):
        eng.run_round(r)
    eng.io.rollback_to(3)
    eng2 = mk(str(eng.io.base))
    eng2.run(max_rounds=50)
    assert eng2.crawl_order() == ref_on.crawl_order
    assert eng2.seen_urls() == ref_on.seen_urls()
