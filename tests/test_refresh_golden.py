"""Golden tests for CrawlEngine.refresh (recrawl): after a drained
crawl, re-queue a deterministic url selection on BOTH the engine and the
pyref oracle, run the refresh rounds, and assert exact equality of the
continued ordering, per-round counters, host lineage, and the (unchanged)
seen set.  Also covers: the no-op contract (unknown/pending urls commit
nothing); refresh needs no seen-store write at all.

The default crawl is run to drain ONCE per module (``drained``, asserted
equal to pyref there); each test then opens a brand-new engine on its
own copy of that directory, so every refresh here also starts from a
resumed engine.  Refresh on the engine instance that ran the crawl stays
covered by the mirror-refresh, composed opt-ins and quality goldens.
"""

import shutil

import pytest

from geocrawl_spark import synth
from geocrawl_spark.frontier import COUNTER_KEYS, CrawlEngine
from geocrawl_spark.pyref import PyRefCrawl

N_PAGES, N_HOSTS = 80, 6


@pytest.fixture(scope="module")
def fixtures():
    return {
        "pages": synth.gen_pages(N_PAGES, N_HOSTS),
        "seeds": synth.gen_seeds(N_HOSTS),
        "robots": synth.gen_robots(N_HOSTS),
        "budget": synth.gen_hostbudget(N_HOSTS),
    }


def _mk_engine(spark, fixtures, tmpdir):
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
    )


def _drained_ref(fixtures):
    ref = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], fixtures["robots"], fixtures["budget"]
    )
    ref.run(max_rounds=50)
    return ref


@pytest.fixture(scope="module")
def drained(spark, fixtures, tmp_path_factory):
    """Directory of the default crawl, run to drain once."""
    d = tmp_path_factory.mktemp("drained")
    eng = _mk_engine(spark, fixtures, d)
    eng.run(max_rounds=50)
    assert eng.crawl_order() == _drained_ref(fixtures).crawl_order
    return d


def _engine_on_copy(spark, fixtures, drained, tmp_path_factory, name):
    """A fresh engine over a private copy of the drained crawl (a new
    path gets its own seen-store catalog name, whose partitions are
    recovered from the copied files)."""
    d = tmp_path_factory.mktemp(name) / "crawl"
    shutil.copytree(drained, d)
    return _mk_engine(spark, fixtures, d)


def _refresh_selection(ref):
    """Deterministic refresh set: every 3rd fetched url, one missing url,
    plus an unknown url (must be ignored by both sides)."""
    fetched = sorted({u for _, _, u in ref.crawl_order})
    missing = sorted(
        u for u, row in ref.frontier.items() if row["status"] == "missing"
    )
    return fetched[::3] + missing[:1] + ["http://nowhere.example.org/x.html"]


def _frontier_order(ref):
    return sorted(
        (
            (row["fetch_round"], row["fetch_seq"], u)
            for u, row in ref.frontier.items()
            if row["status"] == "fetched"
        ),
    )


def _run_pair(spark, eng, fixtures):
    ref = _drained_ref(fixtures)
    sel = _refresh_selection(ref)
    n_ref = ref.refresh(sel)
    n_eng = eng.refresh(spark.createDataFrame([(u,) for u in sel], "url string"))
    assert n_eng == n_ref > 0

    r_commit = eng.io.latest_round()
    eng_log = eng.run(max_rounds=30)
    ref_log, r = [], r_commit + 1
    while True:
        res = ref.run_round(r)
        if res is None:
            break
        ref_log.append({"round": r, **res})
        r += 1
    return ref, eng, eng_log, ref_log


def test_refresh_golden(spark, fixtures, drained, tmp_path_factory):
    eng = _engine_on_copy(spark, fixtures, drained, tmp_path_factory, "refresh")
    ref, eng, eng_log, ref_log = _run_pair(spark, eng, fixtures)
    # the refresh actually took multiple rounds (politeness budgets bind)
    assert len(eng_log) >= 2
    got = [{"round": e["round"], **{k: e[k] for k in COUNTER_KEYS}} for e in eng_log]
    want = [{"round": e["round"], **{k: e[k] for k in COUNTER_KEYS}} for e in ref_log]
    assert got == want
    # refreshed pages' re-extracted links all dedupe against the seen set
    assert sum(e["deduped"] for e in eng_log) > 0
    # no new discoveries: refresh re-fetches, it does not re-admit
    assert sum(e["discovered"] for e in eng_log) == 0
    # final ordering: refreshed urls carry their NEW (round, seq); the
    # rest keep the original crawl's
    assert eng.crawl_order() == _frontier_order(ref)
    # seen set untouched by the whole refresh cycle
    assert eng.seen_urls() == ref.seen_urls()
    # engine-native stale selector matches the oracle twin: with the
    # cutoff at the refresh commit, exactly the NON-refreshed originals
    # are stale (refreshed urls carry recent fetch rounds)
    latest = eng.io.latest_round()
    age = latest - (min(e["round"] for e in eng_log) - 1)
    got_stale = sorted(r["url"] for r in eng.stale_urls(age).collect())
    want_stale = ref.stale_urls(age, latest)
    assert got_stale == want_stale
    assert 0 < len(got_stale) < len(ref.crawl_order)


def test_refresh_noop_commits_nothing(spark, fixtures, drained, tmp_path_factory):
    eng = _engine_on_copy(spark, fixtures, drained, tmp_path_factory, "refresh_noop")
    before = eng.io.latest_round()
    # unknown url and a still-pending-impossible case: nothing matches
    n = eng.refresh(
        spark.createDataFrame([("http://nowhere.example.org/x.html",)], "url string")
    )
    assert n == 0
    assert eng.io.latest_round() == before  # no round committed


def test_refresh_observes_changed_content(
    spark, fixtures, drained, tmp_path_factory
):
    """The complete freshness loop (VERDICT r4 missing #1): crawl corpus
    v1 to drain, swap in a v2 snapshot via set_pages() where a handful of
    fetched pages' html changed, refresh() those urls, run — the
    re-fetched rounds must record the NEW extracted text (engine == pyref
    exactly) while every pre-swap round keeps the bytes it actually saw:
    the byte-identity invariant holds per (url, fetch_round), not per
    url."""
    import hashlib

    from geocrawl_spark.assets import extract_text_py
    from geocrawl_spark.frontier import read_all_rounds

    ref = _drained_ref(fixtures)
    eng = _engine_on_copy(
        spark, fixtures, drained, tmp_path_factory, "refresh_content"
    )

    fetched = sorted({u for _, _, u in ref.crawl_order})
    sel = fetched[::4][:5]
    v1_text = {u: ref.extracted[u] for u in sel}

    # v2 snapshot: same urls, changed body content (no new links — the
    # content change, not re-discovery, is under test here)
    v2 = fixtures["pages"].copy(deep=True)
    mask = v2["url"].isin(sel)
    v2.loc[mask, "html"] = v2.loc[mask, "html"].map(
        lambda b: b.decode("utf-8")
        .replace("</body>", "<p>updated rev2 content</p>\n</body>")
        .encode("utf-8")
    )
    v2.loc[mask, "text"] = v2.loc[mask, "html"].map(extract_text_py)
    v2_text = {r.url: r.text for r in v2[mask].itertuples()}
    assert all(v2_text[u] != v1_text[u] for u in sel)  # the change binds

    ref.set_pages(v2)
    eng.set_pages(
        spark.createDataFrame(
            v2, "url string, warc_ts timestamp, html binary, text string, lang string"
        )
    )
    n_ref = ref.refresh(sel)
    n_eng = eng.refresh(spark.createDataFrame([(u,) for u in sel], "url string"))
    assert n_eng == n_ref == len(sel)
    r_commit = eng.io.latest_round()

    eng_log = eng.run(max_rounds=30)
    ref_log, r = [], r_commit + 1
    while True:
        res = ref.run_round(r)
        if res is None:
            break
        ref_log.append({"round": r, **res})
        r += 1
    got = [{"round": e["round"], **{k: e[k] for k in COUNTER_KEYS}} for e in eng_log]
    want = [{"round": e["round"], **{k: e[k] for k in COUNTER_KEYS}} for e in ref_log]
    assert got == want
    assert sum(e["fetched"] for e in eng_log) == len(sel)
    assert sum(e["discovered"] for e in eng_log) == 0

    rows = read_all_rounds(spark, eng.io, "extracted").select(
        "url", "round", "text_extracted"
    ).collect()
    for row in rows:
        if row["url"] in sel:
            want_text = v2_text if row["round"] > r_commit else v1_text
            assert row["text_extracted"] == want_text[row["url"]], (
                row["url"], row["round"])
    # each refreshed url has BOTH generations on record (provenance), and
    # the latest generation matches the pyref oracle byte-for-byte
    gens = {}
    for row in rows:
        if row["url"] in sel:
            gens.setdefault(row["url"], set()).add(
                hashlib.sha256(row["text_extracted"].encode()).hexdigest()
            )
    assert all(len(g) == 2 for g in gens.values())
    latest = {}
    for row in rows:
        if row["url"] not in latest or row["round"] > latest[row["url"]][0]:
            latest[row["url"]] = (row["round"], row["text_extracted"])
    got_sha = {
        u: hashlib.sha256(t.encode()).hexdigest() for u, (_, t) in latest.items()
    }
    assert got_sha == ref.extracted_sha()
    assert eng.seen_urls() == ref.seen_urls()

    # the CDX capture index over the same crawl: refreshed urls carry
    # BOTH captures with the v2 digest winning; untouched urls have one
    import hashlib as _h

    from geocrawl_spark.corpus import capture_index

    idx = {r["url"]: r for r in capture_index(spark, eng.io).collect()}
    assert set(idx) == set(fetched)
    for u in fetched:
        r = idx[u]
        if u in sel:
            assert r["n_captures"] == 2 and r["last_round"] > r_commit
            assert r["last_digest"] == _h.md5(v2_text[u].encode()).hexdigest()
        else:
            assert r["n_captures"] == 1
            assert r["last_digest"] == _h.md5(v1_text.get(u, ref.extracted[u]).encode()).hexdigest()
        # SURT key: reversed host labels close with ')' + the url's path
        host, _, path = u.partition("//")[2].partition("/")
        assert r["surt"] == ",".join(reversed(host.split("."))) + ")/" + path


def test_refresh_resume_new_engine(spark, fixtures, drained, tmp_path_factory):
    """H4 x recrawl: after a refresh commit, a BRAND-NEW engine instance
    (fresh driver state, manifest only) continues the recrawl to the
    identical ordering — the kill-between-refresh-and-repop window."""
    ref = _drained_ref(fixtures)
    eng = _engine_on_copy(
        spark, fixtures, drained, tmp_path_factory, "refresh_resume"
    )
    d = eng.io.base
    sel = _refresh_selection(ref)
    n_ref = ref.refresh(sel)
    n_eng = eng.refresh(spark.createDataFrame([(u,) for u in sel], "url string"))
    assert n_eng == n_ref > 0
    r_commit = eng.io.latest_round()
    # "kill": abandon the first engine; a new one resumes from disk
    eng2 = _mk_engine(spark, fixtures, d)
    eng2.run(max_rounds=30)
    r = r_commit + 1
    while ref.run_round(r) is not None:
        r += 1
    assert eng2.crawl_order() == _frontier_order(ref)
    assert eng2.seen_urls() == ref.seen_urls()


def test_refresh_mirror_distinguishes_changed_content(
    spark, fixtures, tmp_path_factory
):
    """mirror_guard x set_pages x refresh: a re-fetch serving UNCHANGED
    content is a dup (its hash is already in the content store), while a
    page whose html actually changed hashes fresh — so the hostdup delta
    across the refresh rounds counts exactly the unchanged re-fetches,
    on both the engine and the pyref twin.  This is the change-rate
    reading of the mirror stats the docstrings promise."""
    from geocrawl_spark.assets import extract_text_py
    from geocrawl_spark.canon import host_of

    ref = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], fixtures["robots"],
        fixtures["budget"], mirror_guard=True,
    )
    ref.run(max_rounds=50)
    d = tmp_path_factory.mktemp("refresh_mirror")
    eng = CrawlEngine(
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
        base_dir=str(d),
        salt=4,
        n_buckets=4,
        mirror_guard=True,
    )
    eng.run(max_rounds=50)
    assert eng.crawl_order() == ref.crawl_order
    r_drain = eng.io.latest_round()
    base_dup = {
        r["host"]: (r["n_fetched"], r["n_dup"])
        for r in eng.io.read_latest(spark, "hostdup", r_drain).collect()
    }

    fetched = sorted({u for _, _, u in ref.crawl_order})
    sel = fetched[::4][:6]
    changed = sel[::2]   # every other refreshed url gets new content
    unchanged = [u for u in sel if u not in changed]

    v2 = fixtures["pages"].copy(deep=True)
    mask = v2["url"].isin(changed)
    v2.loc[mask, "html"] = v2.loc[mask, "html"].map(
        lambda b: b.decode("utf-8")
        .replace("</body>", "<p>rev2</p>\n</body>")
        .encode("utf-8")
    )
    v2.loc[mask, "text"] = v2.loc[mask, "html"].map(extract_text_py)
    ref.set_pages(v2)
    eng.set_pages(
        spark.createDataFrame(
            v2, "url string, warc_ts timestamp, html binary, text string, lang string"
        )
    )
    n_ref = ref.refresh(sel)
    n_eng = eng.refresh(spark.createDataFrame([(u,) for u in sel], "url string"))
    assert n_eng == n_ref == len(sel)

    r_commit = eng.io.latest_round()
    eng.run(max_rounds=30)
    r = eng.io.latest_round()
    rr = r_commit + 1
    while ref.run_round(rr) is not None:
        rr += 1
    final = {
        row["host"]: (row["n_fetched"], row["n_dup"])
        for row in eng.io.read_latest(spark, "hostdup", r).collect()
    }
    # engine == twin on the cumulative stats
    assert final == {h: tuple(v) for h, v in ref.mirror.items()}
    # the delta across the refresh: every re-fetch counts as fetched,
    # but ONLY the unchanged ones count as dups
    want_delta: dict = {}
    for u in sel:
        h = host_of(u)
        df_, dd_ = want_delta.get(h, (0, 0))
        want_delta[h] = (df_ + 1, dd_ + (1 if u in unchanged else 0))
    got_delta = {
        h: (nf - base_dup.get(h, (0, 0))[0], nd - base_dup.get(h, (0, 0))[1])
        for h, (nf, nd) in final.items()
        if (nf, nd) != base_dup.get(h, (0, 0))
    }
    assert got_delta == want_delta
    assert sum(d for _, d in got_delta.values()) == len(unchanged)
