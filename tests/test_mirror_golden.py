"""Mirror-quarantine golden: a hand-built corpus where host01 mirrors
host00's content — the engine must (1) fire the quarantine once host01's
cumulative fetches turn majority-duplicate, (2) LIFT it once enough
unique pages dilute the ratio, and (3) stay exactly equal to the pyref
twin throughout (ordering, seen set, counters, cumulative dup stats).

Corpus shape (budgets: host00=4, host01=2, mirror_min=4 default):
  host00: a0 (seed) -> links a01..a04; a01..a04 unique leaf content.
  host01: b0 (seed) -> links p01..p11; p01..p04 are BYTE-IDENTICAL
          copies of host00's leaves (the mirror), p05..p11 unique.
Round 2 fetches host00's originals at earlier fetch_seq (host00 sorts
first), so host01's copies are dups whether fetched the same round or
later.  After p04, host01 sits at n_fetched=5, n_dup=4 -> quarantined
to 1 fetch/round; unique pages then drain one per round until the
cumulative ratio drops below half (9 fetched / 4 dup) -> lifted ->
the last pages pop 2 per round again.
"""

import datetime as dt

import pytest

from geocrawl_spark.assets import extract_text_py
from geocrawl_spark.frontier import COUNTER_KEYS, CrawlEngine
from geocrawl_spark.pyref import PyRefCrawl

import pandas as pd

HOST_A = "host00.example.org"
HOST_B = "host01.example.org"
TS = dt.datetime(2020, 1, 1)


def _page(host: str, name: str, body: str) -> dict:
    html = (
        "<html><head><title>x</title></head><body>%s</body></html>" % body
    ).encode()
    return {
        "url": f"http://{host}/p/{name}.html",
        "warc_ts": TS,
        "html": html,
        "text": extract_text_py(html),
        "lang": "en",
    }


def _links(host: str, names: list[str]) -> str:
    return "\n".join(
        '<a href="http://%s/p/%s.html">l</a>' % (host, n) for n in names
    )


@pytest.fixture(scope="module")
def fixtures():
    pages = [
        _page(HOST_A, "a0", "<p>seed of host00</p>" + _links(
            HOST_A, ["a01", "a02", "a03", "a04"])),
        _page(HOST_B, "b0", "<p>seed of host01</p>" + _links(
            HOST_B, [f"p{i:02d}" for i in range(1, 12)])),
    ]
    for i in range(1, 5):
        pages.append(_page(HOST_A, f"a{i:02d}", f"<p>mirrored content {i}</p>"))
        # the mirror: identical body -> identical extracted text
        pages.append(_page(HOST_B, f"p{i:02d}", f"<p>mirrored content {i}</p>"))
    for i in range(5, 12):
        pages.append(_page(HOST_B, f"p{i:02d}", f"<p>unique host01 page {i}</p>"))
    return {
        "pages": pd.DataFrame(pages),
        "seeds": pd.DataFrame(
            [{"url": p, "priority": 0}
             for p in (f"http://{HOST_A}/p/a0.html", f"http://{HOST_B}/p/b0.html")]
        ),
        "robots": pd.DataFrame(
            [{"host": HOST_A, "disallow": [], "allow": []},
             {"host": HOST_B, "disallow": [], "allow": []}]
        ),
        "budget": pd.DataFrame(
            [{"host": HOST_A, "budget": 4}, {"host": HOST_B, "budget": 2}]
        ),
    }


def test_mirror_quarantine_golden(spark, fixtures, tmp_path):
    ref = PyRefCrawl(
        fixtures["pages"], fixtures["seeds"], fixtures["robots"],
        fixtures["budget"], mirror_guard=True,
    )
    ref.run(max_rounds=30)

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
        base_dir=str(tmp_path),
        n_buckets=4,
        mirror_guard=True,
    )
    eng_log = eng.run(max_rounds=30)

    # exact parity with the serial twin
    assert eng.crawl_order() == ref.crawl_order
    assert eng.seen_urls() == ref.seen_urls()
    got = [{"round": e["round"], **{k: e[k] for k in COUNTER_KEYS}}
           for e in eng_log]
    want = [{"round": e["round"], **{k: e[k] for k in COUNTER_KEYS}}
            for e in ref.counters_log if e["round"] >= 1]
    assert got == want

    # cumulative dup stats: engine's final hostdup == pyref's fold
    last = eng.io.latest_round()
    final = {
        r["host"]: (r["n_fetched"], r["n_dup"])
        for r in eng.io.read_latest(spark, "hostdup", last).collect()
    }
    assert final == {h: tuple(v) for h, v in ref.mirror.items()}
    # host01 mirrored exactly the 4 copied leaves; host00 is clean
    assert final[HOST_B] == (12, 4)
    assert final[HOST_B][0] > 2 * final[HOST_B][1]  # lifted at the end
    assert final[HOST_A][1] == 0

    # the quarantine actually BIT (some round popped exactly 1 for
    # host01 while it was majority-dup) and later LIFTED (a post-lift
    # round popped 2 again)
    popped_b = []
    for r in range(1, last + 1):
        rows = eng.io.read_table(spark, "host_log", r).collect()
        for row in rows:
            if row["host"] == HOST_B:
                popped_b.append(row["fetched"] + row["missing"])
    assert 1 in popped_b
    assert popped_b.index(1) < len(popped_b) - 1  # not only the tail
    assert any(p == 2 for p in popped_b[popped_b.index(1):])

    # per-round hostdup trajectory shows the fire -> lift transition
    # (the version current after each round; none before round 1)
    quarantined = []
    for r in range(0, last):
        cur = eng.io.read_latest(spark, "hostdup", r)
        rows = {
            row["host"]: row
            for row in (cur.collect() if cur is not None else [])
        }
        b = rows.get(HOST_B)
        quarantined.append(
            b is not None
            and b["n_fetched"] >= 4
            and 2 * b["n_dup"] >= b["n_fetched"]
        )
    assert any(quarantined)
    assert not quarantined[-1]
