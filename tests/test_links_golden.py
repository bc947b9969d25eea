"""Golden tests for the opt-in link-graph log (log_links=True) and the
crawl -> link graph -> integer PageRank -> host_rank loop over REAL
edges: the engine's per-round `links` table must equal the pyref twin's
edge list exactly (every occurrence, pre-admission-dedup), and
pagerank_integer over host_link_graph must be deterministic with the
teleport mass invariant holding despite dangling hosts."""

import pytest

from geocrawl_spark import synth
from geocrawl_spark.frontier import CrawlEngine, host_link_graph, read_all_rounds
from geocrawl_spark.pyref import PyRefCrawl
from geocrawl_spark.queries_pipeline import _PR_SCALE, pagerank_integer

N_PAGES, N_HOSTS = 80, 6


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    fx = {
        "pages": synth.gen_pages(N_PAGES, N_HOSTS),
        "seeds": synth.gen_seeds(N_HOSTS),
        "robots": synth.gen_robots(N_HOSTS),
        "budget": synth.gen_hostbudget(N_HOSTS),
    }
    ref = PyRefCrawl(fx["pages"], fx["seeds"], fx["robots"], fx["budget"])
    ref.run(max_rounds=50)
    eng = CrawlEngine(
        spark,
        pages=spark.createDataFrame(
            fx["pages"],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ),
        seeds=spark.createDataFrame(fx["seeds"]),
        robots=spark.createDataFrame(
            fx["robots"], "host string, disallow array<string>, allow array<string>"
        ),
        hostbudget=spark.createDataFrame(fx["budget"]),
        base_dir=str(tmp_path_factory.mktemp("links")),
        salt=4,
        n_buckets=4,
        log_links=True,
    )
    eng.run(max_rounds=50)
    return eng, ref


def test_links_log_identical(runs):
    eng, ref = runs
    assert eng.crawl_order() == ref.crawl_order  # link logging is a no-op
    df = read_all_rounds(eng.spark, eng.io, "links")
    got = sorted(
        (r["src_url"], r["dst_url"], r["kind"], r["anchor"])
        for r in df.collect()
    )
    want = sorted(ref.links)
    assert got == want and len(got) > 100
    # anchors carry real text (synth pages label their links)
    assert any(a for _, _, _, a in got)
    # duplicates preserved: the log is every occurrence, not a set
    # (project out the anchor — distinct labels on repeated edges)
    assert len(got) > len({(s, d, k) for s, d, k, _ in got})


def test_anchor_snippet_href_parity():
    """The _ANCHOR_SNIPPET_RE contract: the href sequence extracted with
    anchors must equal extract_links_py's exactly — including on a page
    truncated mid-tag (the optional-tail case) — or link admission would
    differ between logging and non-logging engines."""
    from geocrawl_spark.assets import extract_link_anchors_py, extract_links_py

    for i, p in enumerate(synth.gen_pages(120, 7).itertuples()):
        html = p.html if isinstance(p.html, bytes) else bytes(p.html)
        pairs = extract_link_anchors_py(html)
        assert [h for h, _ in pairs] == extract_links_py(html), p.url
    truncated = b'<html><a href="/x.html">text</a>\n<a href="/y.html"'
    pairs = extract_link_anchors_py(truncated)
    assert [h for h, _ in pairs] == extract_links_py(truncated)
    assert pairs == [("/x.html", "text"), ("/y.html", "")]
    messy = b'<a  href="/a/">  spaced \n anchor </a><link href="/c.css"/>'
    assert extract_link_anchors_py(messy) == [
        ("/a/", "spaced anchor"),
        ("/c.css", ""),
    ]


def test_anchor_terms_rollup(runs):
    """anchor_terms == a serial recount over the pyref twin's edge log:
    per-dst-host lowercased whitespace terms, top-5 by (count desc,
    term)."""
    from collections import Counter

    from geocrawl_spark.canon import host_of
    from geocrawl_spark.frontier import anchor_terms

    eng, ref = runs
    counts: dict = {}
    for _, dst, _, anchor in ref.links:
        h = host_of(dst)
        for term in anchor.lower().split(" "):
            if term:
                counts.setdefault(h, Counter())[term] += 1
    want = []
    for h in sorted(counts):
        top = sorted(counts[h].items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        want += [
            (h, t, n, i + 1) for i, (t, n) in enumerate(top)
        ]
    got = [
        (r["host"], r["term"], r["n"], r["rank"])
        for r in anchor_terms(eng.spark, eng.io, k=5).collect()
    ]
    assert got == want and len(got) > 0


def test_real_edge_pagerank(runs):
    eng, _ = runs
    g = host_link_graph(eng.spark, eng.io)
    hosts = (
        g.select("u").union(g.select("v")).distinct().withColumnRenamed("u", "host")
    )
    pr = pagerank_integer(hosts, g)
    rows = {r["host"]: r["pagerank"] for r in pr.collect()}
    assert len(rows) > 0 and all(v > 0 for v in rows.values())
    # mass invariant: floor + dangling leakage only ever loses mass
    assert sum(rows.values()) <= 1.0 + 1e-9
    # deterministic: a second evaluation is bit-identical
    again = {r["host"]: r["pagerank"] for r in pagerank_integer(hosts, g).collect()}
    assert rows == again


def test_real_edge_hits(runs):
    """hits_integer over the engine's REAL logged link graph: L1 mass
    invariants (each score vector sums to <= 1.0, floor leakage only),
    positivity where expected, and bit-identical re-evaluation."""
    from geocrawl_spark.queries_pipeline import hits_integer

    eng, _ = runs
    g = host_link_graph(eng.spark, eng.io)
    hosts = (
        g.select("u").union(g.select("v")).distinct().withColumnRenamed("u", "host")
    )
    rows = {r["host"]: r for r in hits_integer(hosts, g).collect()}
    assert len(rows) > 0
    assert sum(r["authority"] for r in rows.values()) <= 1.0 + 1e-9
    assert sum(r["hub"] for r in rows.values()) <= 1.0 + 1e-9
    assert any(r["authority"] > 0 for r in rows.values())
    assert any(r["hub"] > 0 for r in rows.values())
    again = {r["host"]: r for r in hits_integer(hosts, g).collect()}
    assert {h: (r["authority"], r["hub"]) for h, r in rows.items()} == {
        h: (r["authority"], r["hub"]) for h, r in again.items()
    }


def test_anchor_snippet_href_parity_adversarial():
    """Pages where a later href occurrence sits INSIDE the previous
    tag's remainder or visible text (duplicated attribute, href embedded
    in another attribute's value, literal href=\"...\" in anchor text):
    the tempered snippet tail must stop before it so the href sequence —
    i.e. link admission — still equals extract_links_py's exactly."""
    from geocrawl_spark.assets import extract_link_anchors_py, extract_links_py

    cases = [
        b'<a href="a.html" data-x=\'href="b.html"\'>text</a>',
        b'<a href="a.html">see href="b.html" here</a>',
        b'<a href="a.html" href="c.html">dup</a>',
        b'x href="" y <a href="r.html">ok</a>',
        b'<a href="a.html" title="x>y">odd</a>',
        b'<a href="a.html">t1</a><a href="b.html">t2</a> href="tail',
    ]
    for html in cases:
        pairs = extract_link_anchors_py(html)
        assert [h for h, _ in pairs] == extract_links_py(html), html


def test_anchor_fields_jvm_matches_py(spark):
    """anchor_fields (JVM regexp parse of an exploded snippet) must
    produce the same (href, anchor) as the pyref twin's pure-Python
    parse — including Unicode whitespace in anchor text (U+00A0/U+2009:
    Java \\s is ASCII-only without (?U) while Python \\s is not)."""
    import re

    from pyspark.sql import functions as F

    from geocrawl_spark import assets as A

    htmls = [
        "<a href=\"/x\">a b</a>".encode(),
        "<a href=\"/x\">  lead и trail  </a>".encode(),
        b'<a href="a.html" data-x=\'href="b.html"\'>text</a>',
        b'<a href="a.html">see href="b.html" here</a>',
        b'<a  href="/a/">  spaced \n anchor </a><link href="/c.css"/>',
    ]
    expected = [p for h in htmls for p in A.extract_link_anchors_py(h)]
    snippets = [
        s
        for h in htmls
        for s in re.findall(A._ANCHOR_SNIPPET_RE, h.decode("utf-8"))
    ]
    df = spark.createDataFrame([(s,) for s in snippets], "s string")
    href_c, anchor_c = A.anchor_fields(F.col("s"))
    got = [
        (r["h"], r["a"])
        for r in df.select(href_c.alias("h"), anchor_c.alias("a")).collect()
    ]
    assert got == expected
