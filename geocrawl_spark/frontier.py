"""The crawl engine: batch-iterative frontier rounds (SURVEY.md §3.1, §7).

One crawl round (the Spark restatement of the reference's
producer/scheduler/worker loop, geocrawl/geocrawler.go:43-53) is a
sequence of named stage methods of :class:`CrawlEngine`:

  _pending          pending frontier count, per-host pending
  _budget           per-host budget from the latest per-host state
  _pop_fetch        pop_batch (per-host politeness top-k; ConcLimiter
                    analog) + fetch (join against the pages table;
                    GDALOpenEx analog)
  _extract          extract text (vectorized UDF; GetGDALMetadata analog)
  _fan_out          explode + resolve + canonicalize link candidates
                    (pages + assets, every discovery channel in one chain)
  _admission        ONE seen-filter pass against the bucketed seen store
                    (the walk's visit-once guarantee) + robots gate (the
                    -re regex gate analog)
  _assets           extract geo-asset metadata; parse stage
  _host_lineage     per-host log, carry and trap stats
  _frontier_merge   admit new pending rows (MERGE-style frontier delta)
                    + counters

There is ONE round-commit path: every stage submits its writes and
collects to the round's :class:`_Round`, which joins them, drops the
round's caches, appends the seen store and commits the snapshot (H4) —
or, on failure, forgets the round.  ``init_state`` is round 0 of the
_admission -> _frontier_merge stages, and ``refresh`` commits its
frontier delta through the same path.

Determinism contract (north_rule): every ordering below is a pure
function of table state — per-host pop by (priority, url), fetch_seq by
(priority, url) over the bounded per-round batch, admission dedup by
(url -> min depth) — never of task scheduling.  The pyref oracle
(pyref.py) implements the same contract single-threaded; golden tests
assert exact equality of ordering, seen-set, counters, extracted text
bytes, and metadata rows.

Page and asset candidates go through a SINGLE admission pass (their URL
classes are disjoint by construction — is_page vs is_asset predicates —
so this is equivalent to the oracle's sequential admission and halves
the admission work).

Scale notes (100 TB design point):
- the pages "fetch" join shuffles on url; on a real deployment the pages
  Iceberg table is bucketed by url so this becomes a storage-partitioned
  join (no shuffle of the big side);
- the frontier snapshot rewrite per round is an Iceberg MERGE in
  production (row-level); Parquet-rewrite here (same semantics);
- fetch_seq is a distributed rank (range partition + per-partition
  offsets, :func:`global_sequence`) — no single-partition stage even
  when the round batch is millions of rows;
- per-round driver-side actions are consolidated AND overlapped: one
  count on pending, one combined fetch agg (batch size + hits + touched
  BFS layers in a single job), one admission-stats agg read from the
  persisted seen-filter output — and every independent snapshot write /
  stats collect is submitted to the round context's driver thread pool
  so their Catalyst analysis + scheduling latencies (the engine's fixed
  per-round cost) overlap instead of summing; the manifest commit
  happens strictly after all writes return.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import assets as A
from . import gdalmeta as G
from . import parsers as P
from . import politeness as pol
from . import seen as S
from .canon import canonicalize_url_expr, host_expr
from .checkpoint import TableIO
from .geometry import polygon_wkt_expr

FRONTIER_SCHEMA = (
    "url string, host string, depth long, priority long, discovered_round long, "
    "status string, fetch_round long, fetch_seq long"
)

COUNTER_KEYS = [
    "fetched", "missing", "deferred_politeness", "deduped",
    "robots_denied", "discovered", "assets_extracted", "dead_letters",
]

def global_sequence(
    df: DataFrame, order_cols: list[str], scratch_path: str,
    seq_col: str = "fetch_seq", n_parts: int | None = None,
) -> DataFrame:
    """Distributed total-order rank by ``order_cols`` (assumed unique).

    Replaces the single-partition ``row_number().over(Window.orderBy(...))``
    anti-pattern: range-partition on the order columns and WRITE the
    result to parquet (one file per range partition, range order == file
    name order), then rank within each file and add per-file offsets from
    a tiny (<= n_parts rows) count collect.  No stage funnels the data
    through one task, and — because every downstream action reads the
    immutable files and keys the windows/offsets on input_file_name(),
    never on runtime partition identity — the assigned ranks cannot
    change under cache eviction, task retry, or recomputation.  (An
    earlier cache-based variant collected offsets keyed by
    spark_partition_id; a recompute between the two actions could
    reshuffle rows across pids and silently corrupt the sequence.)
    """
    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    # repartitionByRange computes its boundaries from a SAMPLING pass over
    # the input, then shuffles it — without a persist the input plan (the
    # full politeness pop over the pending set) executes twice (guide
    # §5: cache exactly the reuse the plan cannot see).  The cache is
    # dropped as soon as the range files are written: every downstream
    # read uses the immutable parquet, so nothing ever recomputes df.
    df = df.persist()
    try:
        df.repartitionByRange(n_parts, *order_cols).write.mode(
            "overwrite"
        ).parquet(scratch_path)
    finally:
        df.unpersist()
    b = spark.read.parquet(scratch_path).withColumn("_file", F.input_file_name())
    counts = {
        r["_file"]: r["n"]
        for r in b.groupBy("_file").agg(F.count("*").alias("n")).collect()
    }
    if not counts:
        return b.drop("_file").withColumn(seq_col, F.lit(None).cast("long"))
    offsets, acc = {}, 0
    for fname in sorted(counts):  # part-00000 < part-00001 == range order
        offsets[fname] = acc
        acc += counts[fname]
    off_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_file").orderBy(*order_cols)
    return b.withColumn(
        seq_col,
        (F.row_number().over(w) + F.element_at(off_map, F.col("_file"))).cast("long"),
    ).drop("_file")


def _cumulative(
    prev: DataFrame | None, now: DataFrame, sums: tuple, maxes: tuple = ()
) -> DataFrame:
    """The next version of a cumulative per-host table: this round's
    per-host rows ``now`` unioned with the previous version ``prev``
    (None before the first), re-aggregated per host — the ``sums``
    columns summed, the ``maxes`` columns maxed."""
    rows = now if prev is None else prev.unionByName(now)
    return rows.groupBy("host").agg(
        *[F.sum(c).cast("long").alias(c) for c in sums],
        *[F.max(c).cast("long").alias(c) for c in maxes],
    )


class _Round:
    """One round's commit path, opened as ``with _Round(io, spark, r)``.

    Every independent snapshot write and stats collect of the round is
    submitted to one driver thread pool: each Spark action pays Catalyst
    analysis + job scheduling on its calling thread, and that fixed
    latency — not dataflow — dominates a round at moderate batch sizes,
    so overlapping the ~10 independent actions is the single biggest
    round-latency lever.

    On a clean exit it joins every write (a failed write surfaces BEFORE
    the commit point), shuts the pool, unpersists every cache it holds,
    appends the seen store from the round's written ``admitted`` table,
    then commits the round; a round that wrote nothing (a drained
    frontier, an empty refresh) commits nothing.  On failure it cancels
    the queued work, unpersists, and makes TableIO forget the round's
    writes, so a later commit of the same round number declares none of
    them; the manifest stays untouched.
    """

    def __init__(self, io: TableIO, spark: SparkSession, round_no: int):
        self.io, self.spark, self.round_no = io, spark, round_no
        self._pool = ThreadPoolExecutor(max_workers=8)
        self._writes: list = []
        self._cached: list[DataFrame] = []
        #: the seen-store append the admission stage hands back
        #: (:func:`seen.filter_and_update_abucket_flagged`)
        self.seen_append = None

    def __enter__(self) -> "_Round":
        return self

    def __exit__(self, exc_type, *_) -> None:
        committed = False
        try:
            if exc_type is None:
                self._commit()
                committed = True
        finally:
            if not committed:
                self._pool.shutdown(wait=True, cancel_futures=True)
                self._release()
                self.io.forget_round(self.round_no)

    def submit(self, fn, *args):
        return self._pool.submit(fn, *args)

    def write(self, df: DataFrame, name: str) -> None:
        self._writes.append(self.submit(self.io.write_table, df, name, self.round_no))

    def write_delta(
        self, df: DataFrame, name: str, part_col: str, touched: list[int],
        base_round: int,
    ) -> None:
        self._writes.append(self.submit(
            self.io.write_table_delta, df, name, self.round_no, part_col,
            touched, base_round,
        ))

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` (if it is not already) until the round ends."""
        if not df.is_cached:
            df.persist()
        self._cached.append(df)
        return df

    def _release(self) -> None:
        while self._cached:
            self._cached.pop().unpersist()

    def _commit(self) -> None:
        for w in self._writes:
            w.result()  # propagate any write failure BEFORE the commit
        self._pool.shutdown(wait=True)
        self._release()
        if not self._writes:
            return
        # The seen-store append runs once every cache above is dropped: its
        # insertInto on the seen-store catalog table makes Spark re-plan
        # each cached plan that scans the store (the admission pass and
        # everything derived from it), seconds per plan, and a dropped
        # cache has nothing to re-plan.  Its source is the round's
        # just-written `admitted` (exactly the fresh rows), not the cache.
        if self.seen_append is not None:
            self.seen_append(self.io.read_table(self.spark, "admitted", self.round_no))
        self.io.commit_round(self.round_no)


class CrawlEngine:
    """The crawl engine over one snapshot directory (``base_dir``).

    Opt-in policies — each default off, which keeps every golden
    byte-identical to the reference-parity path:

    ``adaptive_budget`` — error-rate feedback on the per-host budget
    (crawl hygiene): a host whose PREVIOUS round's popped batch was
    majority-missing (2*missing >= popped, missing > 0) gets its base
    budget halved (floor, min 1) THIS round, before carry and
    crawl-delay caps.  Deterministic integer rule, twinned in
    pyref.PyRefCrawl(adaptive_budget=True); the rule reads the latest
    committed ``host_log`` (popped = fetched + missing), so a resumed
    engine continues identically.

    ``host_rank`` — crawl prioritization: (host, rank) dimension with
    rank in [0, pol.PRIO_RANK_MAX] integer millionths — e.g.
    queries_pipeline.host_pagerank scaled by 1e6.  None (default) keeps
    pure-BFS priority = depth: reference parity, goldens unchanged.  The
    dimension is one row per host — broadcast into admission, never a
    shuffle.

    ``quality_rank`` — QUALITY-FEEDBACK prioritization (the tier-crawl
    loop closed on the crawl's own content instead of its link graph):
    discoveries in round r are priority-stamped by their host's
    cumulative mean EXTRACTED-text length through round r-1 — score =
    min(PRIO_RANK_MAX, sum_chars div n_docs), priority = depth *
    PRIO_SCALE + (PRIO_RANK_MAX - score) (the same politeness.PRIO_*
    composition as host_rank, so depth stays the major key).  Integer
    floor math end-to-end; the cumulative (host, sum_chars, n_docs)
    persists as the ``hostqual`` table, so a resumed engine continues
    identically, and rows already stamped keep their priority (a host's
    later quality never rewrites history — matches the pyref twin).
    Mutually exclusive with the static host_rank dimension: one
    prioritization policy per engine.

    ``trap_guard`` — SPIDER-TRAP quarantine (crawl hygiene — the engine
    half of queries_pipeline.spider_trap_hosts' corpus-level heuristic):
    a host whose cumulative discoveries look auto-generated — n_disc >=
    trap_fanout * n_fetched AND a discovery was seen at depth >=
    trap_depth (calendars / faceted search / session-id url spaces fan
    out faster and deeper than hand-authored content) — has its
    effective budget QUARANTINED to 1 fetch per round from the next
    round on.  Quarantine, not exclusion: the crawl still drains every
    admitted url eventually (final seen set / fetched set are
    unchanged), the trap host just stops monopolizing its budget share.
    Deterministic integer rule, twinned in
    pyref.PyRefCrawl(trap_guard=True); the cumulative per-host
    (n_fetched, n_disc, max_depth) stats persist as the ``hosttrap``
    table, read at its latest committed version, so a resumed engine
    continues identically.

    ``mirror_guard`` — MIRROR quarantine (crawl hygiene — the engine half
    of queries_pipeline.source_overlap_matrix's corpus-level report):
    every fetched page's EXTRACTED text is xxhash64'd and tested against
    the cumulative content-hash set (prior rounds, plus earlier fetch_seq
    within the same round); a host whose cumulative fetches are
    majority-duplicate content (n_fetched >= mirror_min AND 2*n_dup >=
    n_fetched) has its effective budget quarantined to 1 fetch per round
    — mirrors / syndication farms stop monopolizing budget while the
    crawl still drains every admitted url (final seen set unchanged).
    The quarantine LIFTS if the ratio recovers.  Deterministic integer
    rule, twinned in pyref.PyRefCrawl(mirror_guard=True); cumulative
    (host, n_fetched, n_dup) persists as the ``hostdup`` table (read at
    its latest committed version), and each round's NEW hashes persist
    as a ``contenthash`` partition, so a resumed engine continues
    identically.  Composition note: refresh() re-fetches serve UNCHANGED
    content as dups by design — the dup ratio doubles as a change-rate
    signal — while set_pages() snapshots with real changes hash fresh.
    At the 10^10-URL design point the contenthash membership join rides
    the same bucketed-store layout as the URL seen filter (hash-range
    partitions, storage-partitioned anti-join); the per-round parquet
    partitions here are the sandbox analog, exactly like the URL
    layer's.

    ``log_links`` — link-graph logging: per round, persist every
    extracted (src_url, dst_url, kind) edge as a `links` table — the
    input to host_link_graph() -> queries_pipeline.pagerank_integer ->
    the host_rank prioritization dimension, closing the crawl -> link
    graph -> rank -> prioritized-crawl loop on REAL edges.  Default off:
    one extra per-round write, and goldens/bench measure the
    reference-parity path.

    ``use_sitemaps`` — SITEMAP DISCOVERY (sitemaps.org protocol): round 0
    additionally admits ``{origin}/sitemap.xml`` for every distinct seed
    origin (same depth-0 / robots / seen semantics as the seeds), and
    every fetched page contributes its ``<loc>`` URLs to the link
    fan-out alongside its hrefs (one extra vectorized findall; empty on
    non-sitemap pages).  This is how pages with NO inbound <a href>
    anywhere become crawlable — the only discovery channel real sites
    control directly.  Two further protocol pieces ride the same flag:
    SITEMAP INDEXES (a ``<loc>`` naming another ``.xml`` file is
    admitted as a fetchable page — but only via the sitemap channel,
    never via ``<a href>`` — so nested ``<sitemapindex>`` files recurse
    for free through the normal fetch loop), and robots ``Sitemap:``
    DIRECTIVES (an optional ``sitemaps array<string>`` column on the
    robots dimension; each fetched page fans out its host's declared
    sitemap URLs like links, so a non-conventional sitemap path is
    discovered the round after its host is first fetched).  Twinned in
    pyref.PyRefCrawl(use_sitemaps=True).
    """
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        seeds: DataFrame,
        robots: DataFrame,
        hostbudget: DataFrame,
        base_dir: str,
        salt: int = pol.DEFAULT_SALT,
        round_cap: int | None = None,
        n_buckets: int = 64,
        round_seconds: int = 60,
        compact_seen_every: int | None = None,
        host_rank: DataFrame | None = None,
        log_links: bool = False,
        adaptive_budget: bool = False,
        quality_rank: bool = False,
        trap_guard: bool = False,
        trap_fanout: int = 2,
        trap_depth: int = 3,
        mirror_guard: bool = False,
        mirror_min: int = 4,
        use_sitemaps: bool = False,
        *,
        mode: str = "abucket",
    ):
        # ``mode`` survives only as the name of the one seen-filter path
        # (the bucketed seen store), for callers that still pass it
        if mode != "abucket":
            raise ValueError(
                f"unknown seen mode {mode!r}: the bucketed seen store "
                "('abucket') is the only seen-filter path"
            )
        self.spark = spark
        #: The pages corpus is never cached: at the 100 TB design point the
        #: per-round fetch join relies on the pages Iceberg table being
        #: BUCKETED BY url (storage-partitioned join; see the module scale
        #: notes above), so the scan is left to the storage layout.
        self.pages = pages
        self.seeds = seeds
        # robots(host, disallow[, allow[, crawl_delay]]): REP longest-match
        # rules with wildcards and Allow-overrides-Disallow (politeness.py).
        # The pattern->regex conversion is precomputed HERE, on the one-row-
        # per-host broadcast dimension, so the admission hot path only
        # matches (plain prefixes via startswith, no per-URL regex build).
        if "allow" not in robots.columns:
            robots = robots.withColumn("allow", F.array().cast("array<string>"))
        if "crawl_delay" not in robots.columns:
            robots = robots.withColumn("crawl_delay", F.lit(None).cast("long"))
        self.robots = robots.withColumn(
            "_rules", pol.robots_rules_expr(F.col("disallow"), F.col("allow"))
        ).persist()
        self.hostbudget = hostbudget.persist()
        #: Crawl-delay mapping for a round-based engine: a host advertising
        #: ``crawl_delay`` seconds gets at most
        #: max(1, floor(round_seconds / crawl_delay)) fetches per round —
        #: the fetch rate a serial polite fetcher would sustain over one
        #: nominal round of ``round_seconds``.
        self.round_seconds = round_seconds
        self.io = TableIO(base_dir)
        self.salt = salt
        #: bucket count of the persistent seen store (the Iceberg
        #: ``bucket(N, h1)`` width on a real deployment)
        self.n_buckets = n_buckets
        #: compact the seen store every N committed rounds
        #: (seen.compact_seen_store — bounds the store's file count, which
        #: otherwise grows one partition x n_buckets files per round).
        #: None = never (callers may invoke compact_seen() themselves).
        self.compact_seen_every = compact_seen_every
        # opt-in policies: see the class docstring
        self.adaptive_budget = adaptive_budget
        self.host_rank = (
            host_rank.select(
                "host", F.col("rank").cast("long").alias("rank")
            ).persist()
            if host_rank is not None
            else None
        )
        if quality_rank and host_rank is not None:
            raise ValueError(
                "quality_rank and host_rank are mutually exclusive "
                "prioritization policies"
            )
        self.quality_rank = quality_rank
        self.trap_guard = trap_guard
        self.mirror_guard = mirror_guard
        if mirror_guard and mirror_min < 1:
            raise ValueError("mirror_min must be >= 1")
        self.mirror_min = mirror_min
        if trap_guard and (trap_fanout < 1 or trap_depth < 1):
            # trap_depth >= 1: hosts that were only ever fetched (never
            # discovered on) carry max_depth = 0 — a 0 threshold would
            # quarantine them the moment the fan-out test fires
            raise ValueError("trap_fanout and trap_depth must be >= 1")
        self.trap_fanout = trap_fanout
        self.trap_depth = trap_depth
        self.log_links = log_links
        self.use_sitemaps = use_sitemaps
        #: (host, href) broadcast dimension of robots-declared sitemap
        #: URLs — present only when the opt-in is on AND the robots input
        #: carries the optional ``sitemaps`` column.
        self.robots_sitemaps = None
        if use_sitemaps and "sitemaps" in robots.columns:
            self.robots_sitemaps = (
                self.robots.select(
                    "host", F.explode("sitemaps").alias("href")
                )
                .filter(F.col("href").isNotNull() & (F.col("href") != ""))
                .persist()
            )
        #: E3 global per-round batch ceiling (ORDER BY priority LIMIT n):
        #: per-host budgets alone let a frontier with 10M hosts fetch
        #: 10M x budget pages in one round; the cap bounds the round
        #: globally.  Applied as fetch_seq <= cap — the distributed rank
        #: makes the global LIMIT free.
        self.round_cap = round_cap

    # ------------------------------------------------------------------
    def _seen_table(self) -> str:
        """Register-on-demand handle to the persistent seen store (cheap
        when already registered; re-registers + recovers partitions when
        resuming in a fresh session)."""
        return S.ensure_seen_store(self.spark, self.io.base, self.n_buckets)

    @staticmethod
    def _stats_dict(stats_df: DataFrame) -> dict:
        return {
            r["kind"]: {
                "candidates": int(r["n_cand"]),
                "fresh": int(r["n_fresh"]),
                "deduped": int(r["n_cand"] - r["n_fresh"]),
                "denied": int(r["n_denied"]),
            }
            for r in stats_df.collect()
        }

    def _robots_cols(self, df: DataFrame) -> DataFrame:
        """Candidate rows decorated with their host and robots verdict."""
        return (
            df.withColumn("host", host_expr(F.col("url")))
            .join(
                F.broadcast(self.robots.select("host", "_rules")),
                "host",
                "left",
            )
            .withColumn(
                "denied",
                pol.robots_denied_rules_expr(F.col("url"), F.col("_rules")),
            )
            .drop("_rules")
        )

    def _effective_budget(
        self,
        carry: DataFrame | None,
        err: DataFrame | None = None,
        trap: DataFrame | None = None,
        mirror: DataFrame | None = None,
    ) -> DataFrame:
        """(host, budget) with residual carry applied (SURVEY H1: a host
        that under-used its budget in round k gets the leftover — capped
        at one base budget — as credit in round k+1), then capped by the
        robots crawl-delay rate max(1, floor(round_seconds / delay)).
        Every per-host input may be None (no state yet).

        ``err`` (adaptive mode): last round's (host, popped, missing)
        stats; a majority-missing host's base is halved (floor, min 1)
        BEFORE carry — the carry cap in :meth:`_new_carry` stays the
        ORIGINAL base, mirroring pyref exactly.

        ``trap`` (trap-guard mode): tiny (host, trapped) dimension of
        quarantined hosts; a trapped host's budget is forced to 1
        LAST — after halving, carry, and the crawl-delay cap — so the
        quarantine binds regardless of accumulated credit (pyref applies
        the same final override)."""
        base = self.hostbudget.select(
            "host", F.col("budget").alias("_base")
        )
        base0 = F.coalesce(F.col("_base"), F.lit(pol.DEFAULT_BUDGET))
        if err is not None:
            base0 = F.when(
                (F.col("missing") > 0)
                & (2 * F.col("missing") >= F.col("popped")),
                F.greatest(
                    F.lit(1),
                    F.expr(f"coalesce(_base, {pol.DEFAULT_BUDGET}) div 2"),
                ),
            ).otherwise(base0)
        uncapped = (
            base0 if carry is None
            else base0 + F.coalesce(F.col("carry"), F.lit(0))
        )
        delay_cap = pol.crawl_delay_cap_expr(
            F.col("crawl_delay"), self.round_seconds
        )
        budget = F.least(uncapped, F.coalesce(delay_cap, uncapped))
        if trap is not None:
            budget = F.when(
                F.coalesce(F.col("trapped"), F.lit(False)), F.lit(1)
            ).otherwise(budget)
        if mirror is not None:
            # mirror quarantine binds with the same finality as trap —
            # forced to 1 after halving, carry, and the crawl-delay cap
            budget = F.when(
                F.coalesce(F.col("mirrored"), F.lit(False)), F.lit(1)
            ).otherwise(budget)
        # FULL joins on every host dimension: a trapped host absent from
        # hostbudget/carry/robots must still surface, or pop_batch's
        # DEFAULT_BUDGET coalesce would bypass the quarantine (pyref
        # overrides every pending host)
        joined = base
        robots = self.robots.select("host", "crawl_delay")
        for dim in (carry, err, robots, trap, mirror):
            if dim is not None:
                joined = joined.join(dim, "host", "full")
        return joined.select("host", budget.cast("long").alias("budget"))

    def _new_carry(self, pend_h: DataFrame, done_h: DataFrame, eff: DataFrame) -> DataFrame:
        """carry' = min(effective_budget - popped, base_budget), kept only
        for hosts still visible in pending (others reset to 0)."""
        base = self.hostbudget.select("host", F.col("budget").alias("_base"))
        return (
            pend_h.join(done_h, "host", "left")
            .join(F.broadcast(eff.withColumnRenamed("budget", "_eff")), "host", "left")
            .join(F.broadcast(base), "host", "left")
            .select(
                "host",
                F.least(
                    F.coalesce(F.col("_eff"), F.lit(pol.DEFAULT_BUDGET))
                    - F.coalesce(F.col("n_batch"), F.lit(0)),
                    F.coalesce(F.col("_base"), F.lit(pol.DEFAULT_BUDGET)),
                ).cast("long").alias("carry"),
            )
            .filter(F.col("carry") > 0)
        )

    def _quality_rank_dim(self, prev_qual: DataFrame | None) -> DataFrame | None:
        """Per-round prioritization dimension from the crawl's own content
        quality: ``prev_qual`` (the latest hostqual through round-1, which
        run_round already holds) -> (host, rank) with rank =
        min(PRIO_RANK_MAX, sum_chars div n_docs).  One row per fetched
        host — broadcast into discovery stamping, never a shuffle.  None
        while no history exists (every host scores 0)."""
        if prev_qual is None:
            return None
        return prev_qual.select(
            "host",
            F.least(
                F.lit(pol.PRIO_RANK_MAX), F.expr("sum_chars div n_docs")
            ).cast("long").alias("rank"),
        )

    def _trap_dim(self, prev_trap: DataFrame | None) -> DataFrame | None:
        """(host, trapped=true) rows for hosts whose cumulative stats
        through the previous round trip the quarantine rule: at least one
        fetch, discoveries >= trap_fanout x fetches, and a discovery seen
        at depth >= trap_depth.  One row per trapped host, folded into
        the tiny per-host budget dimension; None without stats."""
        if prev_trap is None:
            return None
        return (
            prev_trap.filter(
                (F.col("n_fetched") >= 1)
                & (F.col("n_disc") >= F.lit(self.trap_fanout) * F.col("n_fetched"))
                & (F.col("max_depth") >= self.trap_depth)
            )
            .select("host", F.lit(True).alias("trapped"))
        )

    def _mirror_dim(self, prev_dup: DataFrame | None) -> DataFrame | None:
        """(host, mirrored=true) rows for hosts whose cumulative fetch
        history through the previous round is majority-duplicate content:
        n_fetched >= mirror_min (the small-sample guard) and
        2*n_dup >= n_fetched.  One row per quarantined host, folded into
        the tiny per-host budget dimension like :meth:`_trap_dim`."""
        if prev_dup is None:
            return None
        return (
            prev_dup.filter(
                (F.col("n_fetched") >= self.mirror_min)
                & (2 * F.col("n_dup") >= F.col("n_fetched"))
            )
            .select("host", F.lit(True).alias("mirrored"))
        )

    def _trap_update(
        self,
        prev_trap: DataFrame | None,
        flagged: DataFrame,
        done_h: DataFrame | None,
    ) -> DataFrame:
        """hosttrap' = hosttrap + this round's per-host contributions:
        fetched-page counts (``done_h``, hosts attributed by the FETCHED
        url) and fresh pending page discoveries (``flagged``, attributed
        by the DISCOVERED url's host — a trap fills its own url space).
        Tiny per-host aggregates over already-persisted inputs; the
        fast-path empty ``flagged`` / absent ``done_h`` degenerate to a
        carry-forward."""
        disc = (
            flagged.filter((F.col("kind") == "page") & ~F.col("denied"))
            .groupBy("host")
            .agg(
                F.count("*").alias("n_disc"),
                F.max("depth").alias("max_depth"),
            )
        )
        now = disc.select(
            "host",
            F.lit(0).cast("long").alias("n_fetched"),
            F.col("n_disc").cast("long"),
            F.col("max_depth").cast("long"),
        )
        if done_h is not None:
            now = now.unionByName(
                done_h.select(
                    "host",
                    F.col("n_fetched").cast("long"),
                    F.lit(0).cast("long").alias("n_disc"),
                    F.lit(0).cast("long").alias("max_depth"),
                )
            )
        return _cumulative(prev_trap, now, ("n_fetched", "n_disc"), ("max_depth",))

    def _frontier_rows(
        self, flagged: DataFrame, round_no: int, rank_dim: DataFrame | None = None
    ) -> DataFrame:
        rows = flagged.filter(F.col("kind") == "page")
        dim = self.host_rank if self.host_rank is not None else rank_dim
        if dim is None and not self.quality_rank:
            prio = F.col("depth")  # BFS priority = depth
        elif dim is None:
            # quality_rank round 0: no history — every score is 0, but the
            # PRIO formula must still apply or round-0 priorities would
            # live on a different scale than every later round's
            prio = (
                F.col("depth") * pol.PRIO_SCALE + F.lit(pol.PRIO_RANK_MAX)
            ).cast("long")
        else:
            rows = rows.join(
                F.broadcast(dim.withColumnRenamed("rank", "_rank")),
                "host",
                "left",
            )
            prio = (
                F.col("depth") * pol.PRIO_SCALE
                + (F.lit(pol.PRIO_RANK_MAX) - F.coalesce(F.col("_rank"), F.lit(0)))
            ).cast("long")
        return rows.select(
            "url",
            "host",
            "depth",
            prio.alias("priority"),
            F.lit(round_no).cast("long").alias("discovered_round"),
            F.when(F.col("denied"), F.lit("robots_denied"))
            .otherwise(F.lit("pending"))
            .alias("status"),
            F.lit(None).cast("long").alias("fetch_round"),
            F.lit(None).cast("long").alias("fetch_seq"),
        )

    # -- round stages ----------------------------------------------------
    # run_round runs _pending -> _budget -> _pop_fetch -> _extract ->
    # _fan_out -> _admission -> _assets -> _host_lineage -> _frontier_merge
    # inside one _Round; init_state is round 0 of the same _admission ->
    # _frontier_merge stages.  Stages submit their writes and collects to
    # the round in the order listed, which is the order the pool overlaps
    # them in.

    def _pending(self, rnd: _Round):
        """(previous frontier, cached per-host pending counts, n_pending)."""
        frontier = self.io.read_table(self.spark, "frontier", rnd.round_no - 1)
        # ONE pending scan serves both the round-entry count and the
        # per-host lineage: materialize the per-host pending counts first
        # and derive n_pending as their sum (_host_lineage reuses the
        # cached pend_h instead of re-scanning)
        pend_h = rnd.cache(
            frontier.filter(F.col("status") == "pending")
            .groupBy("host")
            .agg(F.count("*").alias("n_pending"))
        )
        n_pending = int(pend_h.agg(F.sum("n_pending")).collect()[0][0] or 0)
        return frontier, pend_h, n_pending

    def _budget(self, round_no: int):
        """(effective per-host budget, {name: previous feedback table}).

        Per-host state is read at its latest committed version through
        round-1 (a refresh or an empty-fetch round writes no new
        version); None means no state yet: zero carry, score 0, no
        quarantine.  Each feedback input is cumulative THROUGH round-1 —
        this round's fetches and discoveries update it for the NEXT
        round, the one-round lag the pyref twin mirrors."""
        def latest(name: str, on: bool = True) -> DataFrame | None:
            return self.io.read_latest(self.spark, name, round_no - 1) if on else None

        carry = latest("hostcarry")
        # adaptive budgets: last crawl round's (host, popped, missing) for
        # the hosts it actually popped, from its host_log
        err = latest("host_log", self.adaptive_budget)
        if err is not None:
            err = err.select(
                "host",
                (F.col("fetched") + F.col("missing")).alias("popped"),
                "missing",
            ).filter(F.col("popped") > 0)
        prev = {
            "hostqual": latest("hostqual", self.quality_rank),
            "hosttrap": latest("hosttrap", self.trap_guard),
            "hostdup": latest("hostdup", self.mirror_guard),
        }
        eff = self._effective_budget(
            carry,
            err,
            self._trap_dim(prev["hosttrap"]),
            self._mirror_dim(prev["hostdup"]),
        )
        return eff, prev

    def _pop_fetch(
        self, rnd: _Round, frontier: DataFrame, eff: DataFrame,
        n_pending: int, counters: dict,
    ):
        """Politeness pop of the bounded batch, then the fetch join:
        (cached fetched batch, sorted frontier layers it popped from)."""
        round_no = rnd.round_no
        # budget = base + residual carry from the previous round (H1);
        # fetch_seq: distributed total order by (priority, url) — range
        # partition + per-partition rank + offsets, NEVER a global
        # single-partition window (tests/test_politeness.py asserts the
        # plan has no SinglePartition exchange).
        # Project the pop input to the columns the batch actually carries
        # (guide §2.3: shuffle fewer bytes): every pending row has
        # status='pending' and NULL fetch_round/fetch_seq by definition,
        # and batch_done below re-derives all three — so they need not
        # ride through the politeness windows' shuffles.
        batch = global_sequence(
            pol.pop_batch(
                frontier.filter(F.col("status") == "pending").select(
                    "url", "host", "depth", "priority", "discovered_round"
                ),
                eff,
                self.salt,
            ),
            ["priority", "url"],
            self.io._table_path("batch", round_no),
        )
        # global_sequence wrote its range files outside TableIO — record
        # the write so commit_round can truthfully declare the table
        self.io.mark_written("batch", round_no)
        if self.round_cap is not None:
            batch = batch.filter(F.col("fetch_seq") <= self.round_cap)
        fetched = rnd.cache(
            batch.join(self.pages.select("url", "html", "warc_ts"), "url", "left")
        )
        # ONE combined job: batch size, fetch hits, AND the set of frontier
        # layers the batch popped from (the MERGE rewrite's `touched` used
        # to cost a separate distinct+collect job)
        n_batch, n_fetched, layer_set = fetched.agg(
            F.count("*"), F.count("html"), F.collect_set("discovered_round")
        ).collect()[0]
        counters["deferred_politeness"] = n_pending - n_batch
        counters["fetched"] = n_fetched
        counters["missing"] = n_batch - n_fetched
        return fetched, sorted(int(x) for x in layer_set)

    def _extract(self, rnd: _Round, got: DataFrame, prev: dict) -> None:
        """Extracted text (byte-identity invariant) + provenance, and the
        quality / content-dup feedback tables that read it."""
        round_no = rnd.round_no
        ext_cols = [
            F.col("url"),
            F.lit(round_no).alias("round"),
            A.extract_text_udf("html").alias("text_extracted"),
            F.length("html").alias("content_length"),
            F.col("warc_ts"),
        ]
        if self.quality_rank or self.mirror_guard:
            # the feedback aggregates (quality and/or content-dup)
            # and the extracted snapshot share one persisted
            # extraction pass (host/fetch_seq carried alongside,
            # dropped from the written table so its schema — and
            # the byte-identity goldens — are unchanged); the
            # pandas UDF runs once per page, not twice
            ext_src = rnd.cache(
                got.select(F.col("host"), F.col("fetch_seq"), *ext_cols)
            )
            extracted = ext_src.drop("host", "fetch_seq")
        else:
            extracted = got.select(*ext_cols)
        if self.quality_rank:
            qual_now = ext_src.groupBy("host").agg(
                F.sum(F.length("text_extracted")).cast("long").alias("sum_chars"),
                F.count("*").cast("long").alias("n_docs"),
            )
            rnd.write(
                _cumulative(prev["hostqual"], qual_now, ("sum_chars", "n_docs")),
                "hostqual",
            )
        if self.mirror_guard:
            # a page is a dup iff its extracted-text xxhash64 was
            # seen in a PRIOR committed round (contenthash union;
            # read_all_rounds sees exactly rounds <= r-1 here) or
            # on an earlier fetch_seq THIS round (window rank) —
            # the total order pyref replays serially
            ch = ext_src.select(
                "host",
                "fetch_seq",
                F.xxhash64("text_extracted").alias("chash"),
            )
            prior = read_all_rounds(self.spark, self.io, "contenthash")
            wch = Window.partitionBy("chash").orderBy("fetch_seq")
            ranked = ch.withColumn("rn", F.row_number().over(wch))
            if prior is not None:
                # each round writes only first-seen hashes, so the
                # union is unique on chash by construction — the
                # left join cannot multiply rows
                ranked = ranked.join(
                    prior.select("chash", F.lit(True).alias("_prior")),
                    "chash",
                    "left",
                )
            else:
                ranked = ranked.withColumn("_prior", F.lit(None).cast("boolean"))
            ch_marked = rnd.cache(
                ranked.withColumn(
                    "is_dup", (F.col("rn") > 1) | F.col("_prior").isNotNull()
                )
            )
            dup_now = ch_marked.groupBy("host").agg(
                F.count("*").cast("long").alias("n_fetched"),
                F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_dup"),
            )
            rnd.write(
                _cumulative(prev["hostdup"], dup_now, ("n_fetched", "n_dup")),
                "hostdup",
            )
            rnd.write(
                ch_marked.filter(~F.col("is_dup")).select("chash"), "contenthash"
            )
        rnd.write(extracted, "extracted")

    def _fan_out(self, rnd: _Round, got: DataFrame) -> DataFrame:
        """Link fan-out: the fetched pages' page + asset candidates
        (url, depth, kind) in one pass.  Every discovery channel yields
        (url, depth, href[, anchor]) rows; their union runs ONE resolve ->
        canonicalize -> classify chain."""
        if self.log_links:
            # anchor-logging variant: ONE findall over raw snippets
            # (the href sequence is contractually identical to
            # extract_links_udf's — _ANCHOR_SNIPPET_RE), href and
            # anchor text parsed JVM-side post-explode, so link
            # admission is byte-identical to the plain path while
            # the log gains the classic ranking signal
            snips = got.select(
                "url",
                "depth",
                F.explode(A.extract_anchor_snippets_udf("html")).alias("s"),
            )
            href_c, anchor_c = A.anchor_fields(F.col("s"))
            hrefs = snips.select(
                "url", "depth", href_c.alias("href"), anchor_c.alias("anchor")
            )
        else:
            hrefs = got.select(
                "url", "depth", F.explode(A.extract_links_udf("html")).alias("href")
            )
        is_page = A.is_page_expr(F.col("canon"))
        if self.use_sitemaps:
            # sitemap-CHANNEL candidates: <loc> URLs from every
            # fetched page (one extra vectorized findall, empty
            # on non-sitemap pages — no URL-conditional branch)
            # plus, when the robots dimension declares Sitemap:
            # directives, each page's host-declared sitemap URLs
            # (tiny broadcast join).  The channel carries its own
            # kind rule: a .xml target is a fetchable page HERE
            # (sitemap-index recursion) while staying
            # non-crawlable via <a href>.
            locs = got.select(
                "url", "depth", F.explode(A.extract_sitemap_locs_udf("html")).alias("href")
            )
            if self.robots_sitemaps is not None:
                rsm = (
                    got.select("url", "depth", host_expr(F.col("url")).alias("host"))
                    .join(F.broadcast(self.robots_sitemaps), "host")
                    .select("url", "depth", "href")
                )
                locs = locs.unionByName(rsm)
            if self.log_links:
                locs = locs.withColumn("anchor", F.lit(""))
            hrefs = hrefs.withColumn("_sitemap", F.lit(False)).unionByName(
                locs.withColumn("_sitemap", F.lit(True))
            )
            is_page = is_page | (F.col("_sitemap") & A.is_sitemap_expr(F.col("canon")))
            rnd.write(self._sitemap_meta(got), "sitemapmeta")
        kinded = (
            hrefs.withColumn("abs_url", A.resolve_href_expr(F.col("url"), F.col("href")))
            .withColumn("canon", canonicalize_url_expr(F.col("abs_url")))
            .withColumn(
                "kind",
                F.when(is_page, F.lit("page")).when(
                    A.is_asset_expr(F.col("canon")), F.lit("asset")
                ),
            )
            .filter(F.col("kind").isNotNull())
        )
        if self.log_links:
            # the links write and the admission pass both consume the
            # exploded/extracted edge set — persist it so the pandas
            # link-extraction UDF runs once per page, not twice
            kinded = rnd.cache(kinded)
            rnd.write(
                kinded.select(
                    F.col("url").alias("src_url"),
                    F.col("canon").alias("dst_url"),
                    "kind",
                    "anchor",
                ),
                "links",
            )
        return kinded.select(
            F.col("canon").alias("url"), (F.col("depth") + 1).alias("depth"), "kind"
        )

    @staticmethod
    def _sitemap_meta(got: DataFrame) -> DataFrame:
        """Freshness metadata: (canon loc, max advertised lastmod) from
        this round's <url> entries — the sitemapmeta table
        stale_by_sitemap() reads.  W3C datetime parse (full ISO second
        resolution, then date-only), unparseable lastmods dropped; one
        more vectorized findall pass + a tiny groupBy (sitemap pages are
        a sliver of any fetch batch)."""
        sme = got.select(
            "url",
            F.explode(A.extract_sitemap_entry_snippets_udf("html")).alias("s"),
        ).select(
            "url",
            F.regexp_extract("s", r"<loc>([^<]+)</loc>", 1).alias("loc"),
            F.regexp_extract("s", r"<lastmod>([^<]+)</lastmod>", 1).alias("lm"),
        ).filter((F.col("loc") != "") & (F.col("lm") != ""))
        return (
            sme.select(
                canonicalize_url_expr(
                    A.resolve_href_expr(F.col("url"), F.col("loc"))
                ).alias("url"),
                F.coalesce(
                    F.try_to_timestamp(F.col("lm"), F.lit("yyyy-MM-dd'T'HH:mm:ss")),
                    F.try_to_timestamp(F.col("lm"), F.lit("yyyy-MM-dd")),
                ).alias("lastmod"),
            )
            .filter(F.col("lastmod").isNotNull())
            .groupBy("url")
            .agg(F.max("lastmod").alias("lastmod"))
        )

    def _admission(self, rnd: _Round, cand: DataFrame, counters: dict):
        """Candidates (url, depth, kind) -> (fresh rows, fresh allowed
        asset count).

        One seen-filter pass against the bucketed seen store does
        within-batch dedup + seen-test + per-kind stats, and decorates
        every deduped candidate with its host and robots verdict.  The
        pass's one persisted parent is cached on the round, and its
        O(fresh) seen-store append is handed to the round, which runs it
        on the written ``admitted`` table after the caches are dropped
        (see :func:`seen.filter_and_update_abucket_flagged`)."""
        round_no = rnd.round_no
        # single-materialization admission (guide §5): the seen flag,
        # the robots decoration, the stats and the fresh rows all read
        # ONE persisted pass over the deduped candidates instead of
        # three chained persists
        flagged_all, _, rnd.seen_append = S.filter_and_update_abucket_flagged(
            cand, self.spark, self._seen_table(), self.n_buckets,
            upto_round=round_no - 1, round_no=round_no,
            decorate=self._robots_cols,
        )
        rnd.cache(flagged_all)
        # ONE combined stats action (guide §5): per-kind candidate /
        # fresh / denied counts in a single aggregate over the one
        # persisted admission pass.  The old form ran the kind stats
        # and the denied count as two CONCURRENT first-touch jobs
        # over the same not-yet-materialized cache — racing partitions
        # compute the 2M-row canon->hash->membership chain roughly
        # twice; a single job materializes the cache exactly once.
        stats_all = flagged_all.groupBy("kind").agg(
            F.count("*").alias("n_cand"),
            F.count(F.when(F.col("_seen").isNull(), True)).alias("n_fresh"),
            F.count(
                F.when(F.col("_seen").isNull() & F.col("denied"), True)
            ).alias("n_denied"),
        )
        stats = rnd.submit(self._stats_dict, stats_all).result()
        zero = {"candidates": 0, "fresh": 0, "deduped": 0, "denied": 0}
        p, a = stats.get("page", zero), stats.get("asset", zero)
        counters["deduped"] = p["deduped"] + a["deduped"]
        counters["robots_denied"] = p["denied"] + a["denied"]
        counters["discovered"] = p["fresh"] - p["denied"]
        flagged = flagged_all.filter(F.col("_seen").isNull()).select(
            "url", "host", "depth", "kind", "denied"
        )
        return flagged, a["fresh"] - a["denied"]

    def _assets(self, rnd: _Round, flagged: DataFrame, n_assets: int):
        """Stage-2 parse/enrich of the round's fresh allowed assets
        (geoparse/geoparser.go:160-218): the metadata and dead_letters
        writes, and the futures of their two counts (None when no asset
        was admitted — the parse stage is then empty)."""
        if n_assets <= 0:
            return None
        round_no = rnd.round_no
        parsed = rnd.cache(
            flagged.filter((F.col("kind") == "asset") & ~F.col("denied"))
            .select(F.col("url").alias("asset_url"))
            .withColumn("parse", P.parse_name_expr(F.col("asset_url")))
        )
        dead = parsed.filter(F.col("parse.pattern").isNull()).select(
            F.col("asset_url"), F.lit(round_no).alias("round")
        )
        ok = parsed.filter(F.col("parse.pattern").isNotNull())
        ds = G.extract_gdal_metadata(ok, "asset_url")
        # B3: drop unopened datasets (geoparser.go:184)
        ds = ds.filter(F.col("proj_wkt") != "")
        meta = ds.select(
            "asset_url",
            F.lit(round_no).alias("round"),
            F.col("parse.pattern").alias("pattern"),
            F.col("parse.fields").alias("filename_fields"),
            "file_type", "ds_name", "raster_count", "array_type",
            "x_size", "y_size", "proj_wkt", "geotransform",
            G.proj4_of_wkt_expr(F.col("proj_wkt")).alias("proj4"),
            polygon_wkt_expr(F.col("geotransform"), F.col("x_size"), F.col("y_size")).alias(
                "polygon"
            ),
            F.when(
                F.col("nc_times").isNotNull(),
                F.transform(
                    F.col("nc_times"),
                    lambda s: F.to_timestamp(s, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
                ),
            )
            .otherwise(F.array(F.col("parse.ts")))
            .alias("timestamps"),
        )
        rnd.write(meta, "metadata")
        rnd.write(dead, "dead_letters")
        # resolved just before the counters write — the two count
        # jobs overlap the host-lineage and frontier submissions
        return rnd.submit(meta.select("asset_url").distinct().count), rnd.submit(
            dead.count
        )

    def _host_lineage(
        self, rnd: _Round, prev: dict, flagged: DataFrame,
        fetched: DataFrame | None = None, pend_h: DataFrame | None = None,
        eff: DataFrame | None = None,
    ) -> None:
        """Per-host lineage (north_rule: per-partition lineage+metrics;
        the salted host partition is the politeness/parallelism unit):
        the round's host_log and carry update, and the cumulative trap
        stats.  Round 0 has no batch, so only the trap stats."""
        round_no = rnd.round_no
        done_h = None
        if fetched is not None:
            # pend_h was materialized at round entry (it priced n_pending);
            # done_h is tiny but derived from the full fetched batch —
            # persist so host_log and the carry update share one computation
            done_h = rnd.cache(
                fetched.groupBy("host").agg(
                    F.count("*").alias("n_batch"), F.count("html").alias("n_fetched")
                )
            )
            host_log = pend_h.join(done_h, "host", "left").select(
                F.lit(round_no).cast("long").alias("round"),
                "host",
                F.coalesce("n_fetched", F.lit(0)).cast("long").alias("fetched"),
                (F.coalesce("n_batch", F.lit(0)) - F.coalesce("n_fetched", F.lit(0)))
                .cast("long")
                .alias("missing"),
                (F.col("n_pending") - F.coalesce("n_batch", F.lit(0)))
                .cast("long")
                .alias("deferred_politeness"),
            )
            rnd.write(host_log, "host_log")
        if self.trap_guard:
            # cumulative trap stats for the next round's quarantine
            # decision (on the empty-fetch fast path flagged is empty
            # and done_h adds zero fetches)
            rnd.write(
                self._trap_update(prev.get("hosttrap"), flagged, done_h), "hosttrap"
            )
        if done_h is not None:
            rnd.write(self._new_carry(pend_h, done_h, eff), "hostcarry")

    def _frontier_merge(
        self, rnd: _Round, flagged: DataFrame, prev: dict, counters: dict,
        assets=None, frontier: DataFrame | None = None,
        fetched: DataFrame | None = None, touched: list[int] = [],
    ) -> None:
        """Frontier update as a MERGE-style partial rewrite, then the
        round's counters row.

        The frontier is partitioned by discovered_round (BFS layer).  A
        round touches only the layers its batch popped from (priority =
        depth, so typically the current layer) plus the brand-new layer
        of this round's admissions — every other layer's files are
        carried forward by manifest reference, never rewritten.  This is
        the Iceberg row-level MERGE shape: per-round write cost is
        O(batch + admissions), not O(frontier).  Round 0 has no batch:
        the seeds' layer is the whole frontier."""
        round_no = rnd.round_no
        rows = self._frontier_rows(
            flagged, round_no, self._quality_rank_dim(prev.get("hostqual"))
        )
        if fetched is not None:
            batch_done = fetched.select(
                "url", "host", "depth", "priority", "discovered_round",
                F.when(F.col("html").isNotNull(), F.lit("fetched"))
                .otherwise(F.lit("missing"))
                .alias("status"),
                F.lit(round_no).cast("long").alias("fetch_round"),
                "fetch_seq",
            )
            # `touched` came from the combined fetch agg — no extra job.
            # The anti-join's right side is the popped batch — bounded by
            # round_cap / per-host budgets and already counted (n_batch) —
            # so broadcast it (guide §3.1): the touched frontier layers
            # stream from parquet straight into the partitioned write with
            # NO shuffle, instead of a sort-merge join shuffling O(layer)
            # rows.  The 64 MB conservative cap (~1M urls) falls back to
            # the planner's choice for pathologically large batches.
            batch_urls = batch_done.select("url")
            n_batch = counters["fetched"] + counters["missing"]
            if n_batch * 64 < 64 * 1024 * 1024:
                batch_urls = F.broadcast(batch_urls)
            rows = (
                frontier.filter(F.col("discovered_round").isin(touched))
                .join(batch_urls, "url", "left_anti")
                .unionByName(batch_done)
                .unionByName(rows)
            )
        rnd.write_delta(
            rows, "frontier", "discovered_round", [*touched, round_no], round_no - 1
        )
        if assets is not None:
            counters["assets_extracted"], counters["dead_letters"] = (
                f.result() for f in assets
            )
        row = {"round": round_no, **{k: int(counters[k]) for k in COUNTER_KEYS}}
        schema = "round long, " + ", ".join(f"{k} long" for k in COUNTER_KEYS)
        rnd.write(self.spark.createDataFrame([row], schema), "crawl_log")

    # ------------------------------------------------------------------
    def init_state(self) -> dict:
        """Round 0: admit the seed list and commit the initial snapshot —
        the _admission -> _frontier_merge stages of a round with no
        pending rows and no batch."""
        self.io.set_meta("seen_config", {"n_buckets": self.n_buckets})
        S.ensure_seen_store(self.spark, self.io.base, self.n_buckets, fresh=True)
        seeds = self.seeds.select(
            canonicalize_url_expr("url").alias("url"),
            F.lit(0).cast("long").alias("depth"),
            F.lit("page").alias("kind"),
        )
        if self.use_sitemaps:
            # one /sitemap.xml candidate per DISTINCT seed origin —
            # depth 0, same robots/seen admission as the seeds (a
            # deny-all host keeps its sitemap out too, like a real
            # crawler honoring REP).  An origin cut from a canonical url
            # is canonical, and so is origin + "/sitemap.xml": a second
            # canonicalize_url_expr over it only nests the expression
            # tree, which Catalyst's constraint propagation then spends
            # minutes on when the seeds come from parquet.
            sitemaps = (
                seeds.select(
                    F.regexp_extract(
                        "url", r"^([a-z][a-z0-9+.\-]*://[^/?]*)", 1
                    ).alias("origin")
                )
                .filter(F.col("origin") != "")
                .distinct()
                .select(
                    F.concat(F.col("origin"), F.lit("/sitemap.xml")).alias("url"),
                    F.lit(0).cast("long").alias("depth"),
                    F.lit("page").alias("kind"),
                )
            )
            seeds = seeds.unionByName(sitemaps)
        counters = dict.fromkeys(COUNTER_KEYS, 0)
        # round 0 writes no per-host feedback table: run_round reads each
        # one at its latest committed version, and an absent table means
        # no state yet — except hosttrap, because round 0's admitted
        # seeds ARE discoveries (depth 0, no fetch source)
        with _Round(self.io, self.spark, 0) as rnd:
            flagged, _ = self._admission(rnd, seeds, counters)
            # the frontier delta, round 0's largest write, is submitted
            # first: the FIFO scheduler gives the first job the cores first
            self._frontier_merge(rnd, flagged, {}, counters)
            rnd.write(flagged.select("url", "kind"), "admitted")
            self._host_lineage(rnd, {}, flagged)
        return counters

    def run_round(self, round_no: int) -> dict:
        """One crawl round: the round stages in order, committed by one
        round context once every stage has returned."""
        counters = dict.fromkeys(COUNTER_KEYS, 0)
        with _Round(self.io, self.spark, round_no) as rnd:
            frontier, pend_h, n_pending = self._pending(rnd)
            if n_pending == 0:
                return {"done": True, **counters}
            eff, prev = self._budget(round_no)
            fetched, touched = self._pop_fetch(rnd, frontier, eff, n_pending, counters)
            assets = None
            if counters["fetched"] == 0:
                # Fast path (common at the crawl tail and after dead rounds):
                # nothing fetched means provably zero link candidates, so the
                # extract/admission/asset stages are identities.  Skipping them
                # avoids ~10 driver-blocking empty jobs (mostly Catalyst
                # analysis of the big parse expression trees) per round.  The
                # per-round tables they would have written empty are simply
                # absent — read_all_rounds unions only declared tables, and
                # the pyref oracle produces the same zero counters.  Nothing
                # fetched leaves the quality and dup histories unchanged,
                # so their latest versions stay current (no write), as
                # does the seen store (absent partition == no new hashes).
                flagged = rnd.cache(self.spark.createDataFrame(
                    [], "url string, host string, depth long, kind string, denied boolean"
                ))
            else:
                got = fetched.filter(F.col("html").isNotNull())
                self._extract(rnd, got, prev)
                flagged, n_assets = self._admission(rnd, self._fan_out(rnd, got), counters)
                assets = self._assets(rnd, flagged, n_assets)
                rnd.write(flagged.select("url", "kind"), "admitted")
            self._host_lineage(rnd, prev, flagged, fetched, pend_h, eff)
            self._frontier_merge(
                rnd, flagged, prev, counters, assets, frontier, fetched, touched
            )
        return {"done": False, **counters}

    # ------------------------------------------------------------------
    def run(self, max_rounds: int = 100, start_round: int | None = None) -> list[dict]:
        """Run until the frontier drains (H3 analog: Wait barrier)."""
        log = []
        if start_round is None:
            if self.io.latest_round() is None:
                self.init_state()
            else:
                # resuming: the seen store's bucket layout is fixed at
                # creation; an engine with another bucket count would read
                # it with a mismatched layout
                want = self.io.get_meta("seen_config")
                have = {"n_buckets": self.n_buckets}
                if want is not None and want != have:
                    raise ValueError(
                        f"resume config mismatch: snapshot has {want}, "
                        f"engine has {have}"
                    )
            start_round = self.io.latest_round() + 1
        r = start_round
        while r < start_round + max_rounds:
            res = self.run_round(r)
            if res.pop("done"):
                break
            log.append({"round": r, **res})
            if self.compact_seen_every and r % self.compact_seen_every == 0:
                self.compact_seen(r)
            r += 1
        return log

    def stale_urls(self, max_age_rounds: int) -> DataFrame:
        """Engine-native refresh selector: urls whose last fetch is more
        than ``max_age_rounds`` committed rounds old (fetched OR missing
        — a 404 is re-checked on the same schedule).  The crawl-log twin
        of the wall-clock freshness operators: corpus-level selectors
        (:func:`geocrawl_spark.queries_pipeline.recrawl_schedule`'s
        change-rate x age, ``crawl_tier_assign``'s rank tiers) decide
        policy; this reads the engine's own frontier state so
        ``eng.refresh(eng.stale_urls(k))`` is a complete recrawl loop
        with no external table.  Pure frontier scan — one filter, no
        shuffle; partition pruning applies via the manifest's layer
        map."""
        cutoff = self.io.latest_round() - max_age_rounds
        f = self.io.read_table(self.spark, "frontier")
        return (
            f.filter(F.col("status").isin("fetched", "missing"))
            .filter(F.col("fetch_round") <= cutoff)
            .select("url")
        )

    def stale_by_sitemap(self) -> DataFrame:
        """PROTOCOL-NATIVE refresh selector: fetched urls whose sitemap-
        advertised ``<lastmod>`` (max over every committed round's
        ``sitemapmeta`` — a url may appear in several sitemaps) is NEWER
        than the ``warc_ts`` of the snapshot we extracted on the LAST
        fetch — i.e. exactly what the site says changed since we read
        it.  Complements :meth:`stale_urls` (age policy when the site
        advertises nothing): ``eng.refresh(eng.stale_by_sitemap())`` is
        the freshness loop real crawlers run off sitemap pings.  Urls we
        never fetched (pending / robots-denied / missing) are not
        "stale" — admission or :meth:`stale_urls` owns those.  Plan:
        two bounded reads, two tiny per-url aggregates, one join — no
        corpus scan.  Twin: pyref ``stale_by_sitemap()``."""
        meta = read_all_rounds(self.spark, self.io, "sitemapmeta")
        if meta is None:
            return self.spark.createDataFrame([], "url string")
        latest = meta.groupBy("url").agg(F.max("lastmod").alias("lastmod"))
        ext = read_all_rounds(self.spark, self.io, "extracted")
        if ext is None:
            return self.spark.createDataFrame([], "url string")
        fetched = ext.groupBy("url").agg(
            F.expr("max_by(warc_ts, round)").alias("fetched_ts")
        )
        return (
            latest.join(fetched, "url")
            .filter(F.col("lastmod") > F.col("fetched_ts"))
            .select("url")
        )

    def set_pages(self, pages: DataFrame) -> None:
        """RECRAWL SEAM: swap in a NEW pages snapshot so subsequent rounds
        — in particular :meth:`refresh`-requeued fetches — observe changed
        content.  Without this the engine's single immutable ``pages``
        DataFrame makes a re-fetch provably a no-op (it re-reads identical
        html), so ``refresh()`` could re-queue but never actually observe
        freshness.  The reference analog: re-running geocrawler over a
        changed tree re-extracts the changed files
        (geolib/walkers.go:49-63 — the walk reads whatever is on disk NOW).

        Per-round state (frontier, seen set, budgets, counters) is
        untouched: only the fetch join's right side changes.  The
        byte-identity invariant is preserved per (url, fetch_round) —
        rounds already committed keep the bytes they saw; rounds after the
        swap record the new snapshot's bytes.  At the 100 TB design point
        this is "point the fetch join at the current WARC/Iceberg
        snapshot" — an O(1) metadata operation, which is exactly what it
        is here."""
        self.pages = pages

    def refresh(self, urls: DataFrame) -> int:
        """RECRAWL: re-queue already-crawled URLs for fetching — the
        engine half of the freshness operators (select WHAT to refresh
        with :func:`geocrawl_spark.queries_pipeline.recrawl_schedule` /
        ``crawl_tier_assign``; this method makes the frontier re-fetch
        it).  Frontier rows for the given urls whose status is
        ``fetched`` or ``missing`` are reset to ``pending`` (fetch_round
        / fetch_seq cleared); the next :meth:`run` pops them through the
        identical politeness / budget / ordering machinery as first-time
        discoveries.  Unknown or still-pending urls are ignored — the
        deterministic contract the pyref twin mirrors.

        No seen-filter retraction is needed: the seen filter gates NEW
        candidate admission, and a refreshed url is already IN the
        frontier — its re-extracted links simply dedupe against the seen
        set (counted, like any repeat observation).

        Commit shape: ONE write — a MERGE delta on the frontier touching
        ONLY the BFS layers containing refreshed rows (O(selected
        layers), never O(frontier)) — committed as a round of its own
        that declares only ``frontier``.  Every per-host state table
        (carry, feedback stats) and the seen store are untouched, so the
        next round reads their latest versions from before the refresh;
        no crawl_log / host_log rows are written.  A kill mid-refresh
        leaves the previous round intact (the manifest rename is the
        commit point, as everywhere).

        Returns the number of re-queued urls (0 commits nothing)."""
        r_prev = self.io.latest_round()
        if r_prev is None:
            raise ValueError("refresh() before init_state(): nothing crawled yet")
        frontier = self.io.read_table(self.spark, "frontier", r_prev)
        sel = urls.select(canonicalize_url_expr("url").alias("url")).distinct()
        refreshable = frontier.join(sel, "url", "left_semi").filter(
            F.col("status").isin("fetched", "missing")
        )
        # ONE bounded job: touched BFS layers + selected-row count
        layer_set, n_sel = refreshable.agg(
            F.collect_set("discovered_round"), F.count("*")
        ).collect()[0]
        if not n_sel:
            return 0
        touched = sorted(int(x) for x in layer_set)
        base = frontier.filter(F.col("discovered_round").isin(touched))
        marked = base.join(sel.withColumn("_sel", F.lit(True)), "url", "left")
        hit = F.coalesce(F.col("_sel"), F.lit(False)) & F.col("status").isin(
            "fetched", "missing"
        )
        rewritten = marked.select(
            "url",
            "host",
            "depth",
            "priority",
            "discovered_round",
            F.when(hit, F.lit("pending")).otherwise(F.col("status")).alias("status"),
            F.when(hit, F.lit(None).cast("long"))
            .otherwise(F.col("fetch_round"))
            .alias("fetch_round"),
            F.when(hit, F.lit(None).cast("long"))
            .otherwise(F.col("fetch_seq"))
            .alias("fetch_seq"),
        )
        with _Round(self.io, self.spark, r_prev + 1) as rnd:
            rnd.write_delta(rewritten, "frontier", "discovered_round", touched, r_prev)
        return int(n_sel)

    def compact_seen(self, upto_round: int) -> dict | None:
        """Compact the seen store's partitions ``<= upto_round`` into its
        base partition (manifest-gated).  Safe whenever ``upto_round`` is
        committed — in-flight rounds only ever read ``round <= committed``
        and the merged rows stay visible under the (negative) base
        partition id."""
        return S.compact_seen_store(
            self.spark, self.io.base, self.n_buckets, upto_round, io=self.io
        )

    # ------------------------------------------------------------------
    def crawl_order(self) -> list[tuple[int, int, str]]:
        f = self.io.read_table(self.spark, "frontier")
        rows = (
            f.filter(F.col("status") == "fetched")
            .select("fetch_round", "fetch_seq", "url")
            .orderBy("fetch_round", "fetch_seq")
            .collect()
        )
        return [(r["fetch_round"], r["fetch_seq"], r["url"]) for r in rows]

    def seen_urls(self) -> list[str]:
        """Test/debug helper — returns a driver-side list by design (golden
        equality checks need Python values); the union+distinct runs as ONE
        distributed job, only the final sorted result is collected."""
        df = read_all_rounds(self.spark, self.io, "admitted")
        if df is None:
            return []
        return [
            r["url"]
            for r in df.select("url").distinct().orderBy("url").collect()
        ]


def host_link_graph(spark: SparkSession, io: TableIO) -> DataFrame | None:
    """The crawl's REAL host graph from the opt-in ``links`` log
    (``CrawlEngine(log_links=True)``): distinct (src_host, dst_host)
    edges across all committed rounds — the input
    :func:`geocrawl_spark.queries_pipeline.pagerank_integer` ranks to
    produce the engine's ``host_rank`` prioritization dimension.
    Returns None when no round logged links."""
    links = read_all_rounds(spark, io, "links")
    if links is None:
        return None
    return links.select(
        host_expr(F.col("src_url")).alias("u"),
        host_expr(F.col("dst_url")).alias("v"),
    ).distinct()


def anchor_terms(
    spark: SparkSession, io: TableIO, k: int = 5
) -> DataFrame | None:
    """Top-k anchor-text terms per DESTINATION host from the opt-in
    ``links`` log — the classic off-page relevance signal (what OTHER
    pages call a host; the BM25F anchor field, Robertson et al.):
    ``(host, term, n, rank)`` with rank by (count desc, term) within
    host.  Deterministic integer counts; returns None when no round
    logged links.

    Scale shape: explode + one map-side-combined groupBy on
    (host, term) + a per-host top-k window — the host partition is the
    same politeness-sized unit as everywhere else in the engine, and the
    term dimension is Zipf-bounded."""
    links = read_all_rounds(spark, io, "links")
    if links is None or "anchor" not in links.columns:
        return None
    t = (
        links.select(
            host_expr(F.col("dst_url")).alias("host"),
            F.explode(F.split(F.lower("anchor"), " ")).alias("term"),
        )
        .filter(F.length("term") > 0)
        .groupBy("host", "term")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("host").orderBy(F.desc("n"), F.asc("term"))
    return (
        t.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("host", "rank")
    )


def read_all_rounds(spark: SparkSession, io: TableIO, name: str) -> DataFrame | None:
    """``name`` unioned over every committed round whose manifest entry
    declares it (the same rule as :meth:`TableIO.read_latest`: the
    directory of a crashed or uncommitted round is never read), or None
    when no round declares it."""
    m = io._read_manifest()
    paths = [
        io._table_path(name, r)
        for r in m["committed"]
        if name in m["tables"].get(str(r), ())
    ]
    return spark.read.parquet(*paths) if paths else None
