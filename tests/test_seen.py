"""The bucketed seen store: admission fresh sets and stats against a
plain-set oracle, round-partition semantics, the executed admission plan,
compaction, and compaction inside a full engine crawl."""

import os

import pandas as pd
import pyspark.sql.functions as F
import pytest

from geocrawl_spark.seen import (
    _store_partitions,
    compact_seen_store,
    ensure_seen_store,
    filter_and_update_abucket_flagged,
)


def _urls(n, prefix="http://h.org/p/"):
    return [f"{prefix}{i}.html" for i in range(n)]


class _SetOracle:
    """The seen set as a plain Python set: a batch's fresh urls are the
    distinct ones not seen before the batch."""

    def __init__(self):
        self.seen: set[str] = set()

    def add_batch(self, urls):
        fresh = sorted(set(urls) - self.seen)
        self.seen.update(fresh)
        return fresh


def _cand(spark, urls, depths):
    if isinstance(depths, int):
        depths = [depths] * len(urls)
    return spark.createDataFrame(
        pd.DataFrame({"url": urls, "depth": depths}), "url string, depth long"
    )


def _admit(spark, table, cand, n_buckets, upto_round, round_no):
    """One engine-shaped admission round: flag, read fresh rows and stats
    from the one persisted pass, unpersist, then append the fresh urls
    from driver-side values (the engine appends from its written
    ``admitted`` table, never from the cache).  Returns
    ({url: depth} of fresh rows, {kind: (n_cand, n_fresh)})."""
    flagged, stats, append = filter_and_update_abucket_flagged(
        cand, spark, table, n_buckets, upto_round=upto_round, round_no=round_no
    )
    fresh = {
        r["url"]: r["depth"]
        for r in flagged.filter(F.col("_seen").isNull()).collect()
    }
    st = {r["kind"]: (r["n_cand"], r["n_fresh"]) for r in stats.collect()}
    flagged.unpersist()
    append(spark.createDataFrame([(u,) for u in sorted(fresh)], "url string"))
    return fresh, st


def test_abucket_engine_store_round_semantics(spark, tmp_path):
    """filter_and_update_abucket_flagged across rounds: fresh sets equal
    the set oracle, stats count candidates and fresh rows, each round's
    append lands in its own partition, rows of a later round are
    invisible to an earlier reader (round <= upto), and a re-run of a
    round replaces its partition (dynamic overwrite) instead of
    duplicating hashes."""
    base = str(tmp_path / "crawl")
    table = ensure_seen_store(spark, base, n_buckets=4, fresh=True)

    first, second = _urls(300), _urls(500)
    oracle = _SetOracle()
    f1, f2 = oracle.add_batch(first), oracle.add_batch(second)

    fresh1, s1 = _admit(spark, table, _cand(spark, first, 1), 4, -1, 0)
    assert sorted(fresh1) == f1
    assert s1 == {"page": (300, 300)}

    c2 = _cand(spark, second, 2)
    fresh2, s2 = _admit(spark, table, c2, 4, 0, 1)
    assert sorted(fresh2) == f2
    assert s2 == {"page": (500, 200)}

    # per-round partitions on disk; round-1 rows invisible to an
    # upto_round=0 reader (this is what makes crashed rounds harmless)
    assert os.path.exists(os.path.join(base, "seen_store", "round=0"))
    assert os.path.exists(os.path.join(base, "seen_store", "round=1"))
    assert spark.table(table).where("round <= 0").count() == 300
    assert spark.table(table).count() == 500

    # idempotent re-run of round 1 (rollback + replay): dynamic overwrite
    # replaces the partition, no duplicate hashes
    fresh2b, s2b = _admit(spark, table, c2, 4, 0, 1)
    assert sorted(fresh2b) == f2 and s2b == s2
    assert spark.table(table).count() == 500
    spark.sql(f"drop table {table}")


def test_admission_plan_shuffles_only_candidates(spark, tmp_path):
    """The executed plan of the admission pass itself: exactly one
    Exchange (the candidate batch into the bucket layout), a bucketed
    seen-store scan and the round partition filter.  At production size
    the store is far beyond any broadcast threshold; broadcast is turned
    off here so the small test store plans the same way."""
    base = str(tmp_path / "plan")
    table = ensure_seen_store(spark, base, n_buckets=4, fresh=True)
    _admit(spark, table, _cand(spark, _urls(300), 1), 4, -1, 0)

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        flagged, _, _ = filter_and_update_abucket_flagged(
            _cand(spark, _urls(500), 2), spark, table, 4, upto_round=0, round_no=1
        )
        plan = flagged._jdf.queryExecution().executedPlan().toString()
        flagged.unpersist()
    finally:
        spark.conf.set(key, prev)
    assert plan.count("Exchange") == 1, plan  # candidates only
    assert "Bucketed: true" in plan, plan  # seen side read bucket-local
    filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "round" in filters and "<= 0" in filters, filters
    spark.sql(f"drop table {table}")


def test_compaction_bounds_files_and_preserves_membership(spark, tmp_path):
    """compact_seen_store: after many rounds with periodic compaction the
    store's file count stays bounded (vs linear growth in rounds), the
    fresh sets equal an uncompacted twin store's and the set oracle's at
    every step, the base partition id is negative (always visible to
    round <= upto readers) and strictly decreasing across compactions,
    and the manifest guard refuses rollback past the compaction point."""
    from geocrawl_spark.checkpoint import TableIO

    n_buckets, every = 4, 4
    base_c = str(tmp_path / "compacted")
    base_u = str(tmp_path / "uncompacted")
    io = TableIO(base_c)
    t_c = ensure_seen_store(spark, base_c, n_buckets, fresh=True)
    t_u = ensure_seen_store(spark, base_u, n_buckets, fresh=True)
    oracle = _SetOracle()

    def round_urls(r):
        # half repeats of the previous round, half fresh
        return _urls(150, f"http://h.org/r{r}/") + _urls(150, f"http://h.org/r{r-1}/")

    n_rounds = 12
    for r in range(n_rounds):
        cand = _cand(spark, round_urls(r), r)
        want = oracle.add_batch(round_urls(r))
        for tbl in (t_c, t_u):
            fresh, _ = _admit(spark, tbl, cand, n_buckets, r - 1, r)
            assert sorted(fresh) == want, f"membership diverged at round {r}"
        if r > 0 and r % every == 0:
            res = compact_seen_store(spark, base_c, n_buckets, r, io=io)
            assert res is not None and res["base"] < 0
            assert res["files_after"] <= n_buckets

    # file count: compacted store holds base + rounds since last
    # compaction; uncompacted holds one partition per round
    def files(bdir):
        return sum(
            sum(1 for f in os.listdir(p) if not f.startswith((".", "_")))
            for p in _store_partitions(bdir).values()
        )

    parts_c = _store_partitions(base_c)
    assert len(parts_c) <= every + 2  # base + rounds 9..11
    assert len(_store_partitions(base_u)) == n_rounds
    assert files(base_c) < files(base_u)
    # both stores agree on the full membership set
    assert (
        spark.table(t_c).select("h1").distinct().count()
        == spark.table(t_u).select("h1").distinct().count()
        == spark.table(t_u).count()  # uncompacted store has no dupes
    )
    hc = {r["h1"] for r in spark.table(t_c).select("h1").distinct().collect()}
    hu = {r["h1"] for r in spark.table(t_u).select("h1").collect()}
    assert hc == hu

    # second compaction produced a strictly lower base than the first
    res2 = compact_seen_store(spark, base_c, n_buckets, n_rounds - 1, io=io)
    assert res2 is not None and res2["base"] == min(parts_c) - 1
    assert len(_store_partitions(base_c)) == 1  # fully compacted

    # rollback past the compaction point refuses (expire_snapshots trade)
    io.set_meta("x", 1)  # manifest exists
    with pytest.raises(ValueError, match="compacted"):
        io.rollback_to(3)
    for t in (t_c, t_u):
        spark.sql(f"drop table {t}")


def test_engine_crawl_with_compaction_identical(spark, tmp_path):
    """A full CrawlEngine crawl with compact_seen_every=3 produces the
    IDENTICAL crawl ordering, seen set, and counters as one without
    compaction — compaction is invisible to crawl semantics, it only
    bounds the store's file count."""
    from geocrawl_spark import synth
    from geocrawl_spark.frontier import CrawlEngine

    def build(base, **kw):
        return CrawlEngine(
            spark,
            pages=spark.createDataFrame(
                synth.gen_pages(60, 4),
                "url string, warc_ts timestamp, html binary, text string, lang string",
            ),
            seeds=spark.createDataFrame(synth.gen_seeds(4)),
            robots=spark.createDataFrame(
                synth.gen_robots(4),
                "host string, disallow array<string>, allow array<string>",
            ),
            hostbudget=spark.createDataFrame(synth.gen_hostbudget(4)),
            base_dir=base,
            n_buckets=2,
            **kw,
        )

    e1 = build(str(tmp_path / "plain"))
    log1 = e1.run(max_rounds=12)
    e2 = build(str(tmp_path / "compacted"), compact_seen_every=3)
    log2 = e2.run(max_rounds=12)

    assert log1 == log2  # per-round counters identical
    assert e1.crawl_order() == e2.crawl_order()
    assert e1.seen_urls() == e2.seen_urls()
    # compaction actually ran: base partition present, fewer partitions
    parts = _store_partitions(str(tmp_path / "compacted"))
    assert min(parts) < 0
    assert len(parts) < len(_store_partitions(str(tmp_path / "plain")))
    assert e2.io.get_meta("seen_compaction")["base"] < 0


def test_within_batch_dedup(spark, tmp_path):
    table = ensure_seen_store(spark, str(tmp_path / "dedup"), 2, fresh=True)
    cand = _cand(spark, ["u1", "u1", "u2"], [5, 2, 1])
    fresh, st = _admit(spark, table, cand, 2, -1, 0)
    assert fresh == {"u1": 2, "u2": 1}  # min depth wins
    assert st == {"page": (2, 2)}  # candidates counted after the dedup
    spark.sql(f"drop table {table}")


def test_seen_store_monotone(spark, tmp_path):
    """Once seen, always seen (H2 monotonicity): urls admitted in round 0
    stay seen in every later round, next to fresh urls of those rounds."""
    table = ensure_seen_store(spark, str(tmp_path / "mono"), 2, fresh=True)
    urls = _urls(50)
    fresh0, _ = _admit(spark, table, _cand(spark, urls, 0), 2, -1, 0)
    assert sorted(fresh0) == sorted(urls)
    for r in (1, 2):
        more = _urls(10, f"http://h.org/r{r}/")
        fresh, _ = _admit(spark, table, _cand(spark, urls + more, r), 2, r - 1, r)
        assert sorted(fresh) == sorted(more)
    spark.sql(f"drop table {table}")


def test_engine_rejects_other_seen_modes():
    """The bucketed store is the engine's only seen path: any other
    ``mode`` is refused before the engine touches its inputs."""
    from geocrawl_spark.frontier import CrawlEngine

    with pytest.raises(ValueError, match="abucket"):
        CrawlEngine(None, None, None, None, None, "unused", mode="bloom")
