"""The two workloads.  Each is a closed loop with one client (this
driver): set up, then run operations back to back until the time is up,
check every result, and — in a traced run — time each layer's public
calls on what the last operation itself produced.

A workload returns a :class:`Outcome`; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geocrawl_spark import assets as A
from geocrawl_spark import gdalmeta as G
from geocrawl_spark import parsers as P
from geocrawl_spark import politeness as pol
from geocrawl_spark import seen as S
from geocrawl_spark.canon import canonicalize_url_expr
from geocrawl_spark.catalog import MetadataCatalog
from geocrawl_spark.frontier import CrawlEngine, read_all_rounds
from geocrawl_spark.pyref import PyRefCrawl
from geocrawl_spark.robots import bootstrap_robots

from . import gen
from .trace import Tracer

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
URL_SCHEMA = pa.schema([("url", pa.string())])
ROBOTS_ARROW = pa.schema(
    [("host", pa.string()), ("disallow", pa.list_(pa.string())), ("allow", pa.list_(pa.string()))]
)
BUDGET_ARROW = pa.schema([("host", pa.string()), ("budget", pa.int64())])
N_BUCKETS = 16
SEED_FILES = 8


@dataclass
class Scale:
    admit_urls: int  # logical URLs per burst (raw spellings: ~1.25x)
    admit_hosts: int
    crawl_pages: int
    crawl_hosts: int
    crawl_seeds_per_host: int
    crawl_max_budget: int
    crawl_rounds: int  # run_round calls per crawl pass
    catalog_params: int  # (ring, window) pairs the catalog probe queries
    setup_reps: int


SCALES = {
    "full": Scale(1_000_000, 1000, 3000, 40, 12, 10, 1, 3, 3),
    "tiny": Scale(2_000, 50, 200, 6, 3, 3, 1, 1, 2),
}


@dataclass
class Outcome:
    setup_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)  # every timed op
    items: int = 0  # items completed by the timed ops
    busy_s: float = 0.0  # wall time the items took
    attempted: int = 0
    failed: int = 0
    op_iv: list[tuple[float, float]] = field(default_factory=list)  # (start, end) per op
    rounds: list[tuple[float, float]] = field(default_factory=list)  # engine round spans
    query_iv: list[tuple[float, float]] = field(default_factory=list)  # catalog probe queries
    layer: dict[str, float] = field(default_factory=dict)  # per-layer values measured here

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr, flush=True)


def _dir_totals(paths: list[str]) -> tuple[int, int]:
    files = size = 0
    for p in paths:
        for root, _, names in os.walk(p):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class EngineWorkload:
    """Set-up, the timed loop and the traced probes shared by the
    workloads that drive :class:`CrawlEngine`.  Every probe reads what the
    last timed engine pass wrote (its extracted pages, admitted URLs,
    frontier and metadata), so a layer that starts or stops doing work in
    the engine shows as a nonzero or zero value here."""

    name = ""

    def __init__(self, spark, work: str, seed: int, scale: Scale, tracer: Tracer | None):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self.tracer = tracer or Tracer()
        self.out = Outcome()
        self.engine = None
        self.pages = None
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{tag}{self._n}")
        os.makedirs(d)
        return d

    def timed(self, name: str, fn, *args):
        t0 = time.time()
        res = self.tracer.call(name, fn, *args)
        return res, time.time() - t0

    def timed_op(self, name: str, fn, *args):
        t0 = time.time()
        res = self.tracer.call(name, fn, *args)
        t1 = time.time()
        self.out.op_s.append(t1 - t0)
        self.out.op_iv.append((t0, t1))
        return res

    def new_engine(self, seeds) -> CrawlEngine:
        if self.engine is not None:  # keep only the last pass on disk
            old = self.engine
            self.spark.sql(f"DROP TABLE IF EXISTS {S.seen_store_name(old.io.base)}")
            old.robots.unpersist()
            old.hostbudget.unpersist()
            shutil.rmtree(old.io.base, ignore_errors=True)
        self.engine = CrawlEngine(
            self.spark, pages=self.pages, seeds=seeds, robots=self.robots,
            hostbudget=self.budget, base_dir=self.fresh_dir("engine"),
            mode="abucket", n_buckets=N_BUCKETS,
        )
        return self.engine

    # subclasses: setup(), op(), candidates()
    def execute(self, seconds: float, traced: bool) -> Outcome:
        for _ in range(self.scale.setup_reps):
            _, dt = self.timed("bench.setup", self.setup)
            self.out.setup_s.append(dt)
        t_end = time.time() + seconds
        while not self.out.op_s or time.time() < t_end:
            self.op()
        files, size = _dir_totals([os.path.join(self.engine.io.base, "seen_store")])
        self.out.layer.update({"seen.store_files": files, "seen.store_bytes": size})
        if traced:
            self.probes()
        return self.out

    # --- traced probes -------------------------------------------------------

    def probes(self) -> None:
        sp, lay, io = self.spark, self.out.layer, self.engine.io
        top = os.path.join(io.base, "rounds")
        per_round = [os.path.join(top, r) for r in os.listdir(top)]
        n_rounds = max(len(per_round), 1)
        files, size = _dir_totals(per_round)
        lay["checkpoint.files_per_round"] = files / n_rounds
        lay["checkpoint.bytes_per_round"] = size / n_rounds
        self._assets_probe(read_all_rounds(sp, io, "extracted"))
        admitted = read_all_rounds(sp, io, "admitted")
        assets = None
        if admitted is not None:
            assets = admitted.filter(F.col("kind") == "asset").select(F.col("url").alias("asset_url"))
        self._parse_probe(assets)
        self._seen_probe()
        front = io.read_table(sp, "frontier")
        pending = front.filter(F.col("status") == "pending")
        popped, lay["politeness.pop_s"] = self.timed(
            "politeness",
            lambda: pol.pop_batch(
                pending.select("url", "host", "depth", "priority", "discovered_round"), self.budget
            ).count(),
        )
        n_pending = pending.count()
        lay["politeness.popped"] = popped
        lay["politeness.deferral_ratio"] = (n_pending - popped) / max(n_pending, 1)
        lay["politeness.robots_denied"] = front.filter(F.col("status") == "robots_denied").count()
        self._catalog_probe()

    def _assets_probe(self, extracted) -> None:
        """Re-run both extraction UDFs over the pages the engine extracted."""
        lay = self.out.layer
        n_pages = extracted.count() if extracted is not None else 0
        lay["assets.pages"], lay["assets.links"], lay["assets.extract_s"] = n_pages, 0, 0.0
        if not n_pages:
            return  # the engine extracted nothing: no extraction to time
        html = extracted.select("url").join(self.pages, "url").select(
            A.extract_text_udf("html").alias("t"), A.extract_links_udf("html").alias("l")
        )
        row, lay["assets.extract_s"] = self.timed(
            "assets", lambda: html.agg(F.sum(F.size("l")), F.sum(F.length("t"))).collect()[0]
        )
        lay["assets.links"] = row[0] or 0

    def _parse_probe(self, assets) -> None:
        """Name parse + GDAL metadata over the asset URLs the engine admitted."""
        lay = self.out.layer
        n_assets = assets.count() if assets is not None else 0
        lay["parse.assets"], lay["parse.ok_ratio"], lay["parse.s"] = n_assets, 0.0, 0.0
        if not n_assets:
            return  # no asset was admitted: nothing to parse

        def parse() -> int:
            parsed = assets.withColumn("parse", P.parse_name_expr(F.col("asset_url")))
            ok = G.extract_gdal_metadata(
                parsed.filter(F.col("parse.pattern").isNotNull()), "asset_url"
            ).filter(F.col("proj_wkt") != "")
            return ok.select("asset_url").distinct().count()

        n_ok, lay["parse.s"] = self.timed("parse", parse)
        lay["parse.ok_ratio"] = n_ok / n_assets

    def _seen_probe(self) -> None:
        """canon, then the abucket admission, over the workload's candidate
        URLs against a fresh seen store."""
        sp, lay = self.spark, self.out.layer
        raw = self.candidates()
        cand = raw.select(
            canonicalize_url_expr("url").alias("url"), F.lit(0).cast("long").alias("depth"), "kind"
        )
        _, lay["canon.s"] = self.timed(
            "canon", lambda: cand.write.format("noop").mode("overwrite").save()
        )
        table = S.ensure_seen_store(sp, self.fresh_dir("probe"), N_BUCKETS, fresh=True)

        def admit() -> int:
            flagged, stats, _ = S.filter_and_update_abucket_flagged(
                cand, sp, table, N_BUCKETS, upto_round=-1, round_no=0
            )
            n = sum(r["n_cand"] for r in stats.collect())
            flagged.unpersist()
            return n

        n_cand, lay["seen.admit_s"] = self.timed("seen", admit)
        sp.sql(f"DROP TABLE IF EXISTS {table}")
        n_in = raw.count()
        lay["seen.candidates"] = n_in
        lay["seen.dedup_ratio"] = 1.0 - n_cand / max(n_in, 1)

    def _catalog_probe(self) -> None:
        """The reference's three catalog queries over the metadata history
        the engine committed, each answer checked against DuckDB over the
        same parquet files.  Rings and windows come from the seed and the
        rows themselves, so each predicate keeps a nonzero share."""
        lay, o = self.out.layer, self.out
        for k in ("catalog.find_within_ms", "catalog.find_in_timerange_ms", "catalog.conj_ms",
                  "catalog.rows_returned", "checkpoint.files_read"):
            lay[k] = 0.0
        cat = MetadataCatalog(self.spark, self.engine.io)
        meta = cat.metadata()
        if meta is None:
            return  # the engine committed no metadata: nothing to query
        files = [f.removeprefix("file://") for f in meta.inputFiles()]
        lay["checkpoint.files_read"] = len(files)
        params = _catalog_params(files, self.seed, self.scale.catalog_params)
        if not params:
            return  # committed metadata tables, all empty
        calls = {
            "find_within": lambda ring, t0, t1: cat.find_within(ring),
            "find_in_timerange": lambda ring, t0, t1: cat.find_in_timerange(t0, t1),
            "conj": lambda ring, t0, t1: cat.find_within_and_timerange(t0, t1, ring),
        }
        wheres = {
            "find_within": lambda ring, t0, t1: _within_sql(ring),
            "find_in_timerange": lambda ring, t0, t1: _range_sql(t0, t1),
            "conj": lambda ring, t0, t1: f"({_within_sql(ring)}) AND ({_range_sql(t0, t1)})",
        }
        con = duckdb.connect()
        ms: dict[str, list[float]] = {k: [] for k in calls}
        rows = []
        for p in params:
            for kind, call in calls.items():
                exp = sorted(
                    u for (u,) in con.execute(
                        f"SELECT asset_url FROM read_parquet(?) WHERE {wheres[kind](*p)}", [files]
                    ).fetchall()
                )
                t0 = time.time()
                got = self.tracer.call(
                    f"catalog.{kind}",
                    lambda: sorted(r["asset_url"] for r in call(*p).select("asset_url").collect()),
                )
                t1 = time.time()
                o.query_iv.append((t0, t1))
                ms[kind].append((t1 - t0) * 1000.0)
                rows.append(len(got))
                o.check(got == exp, f"catalog {kind} {p} differs from duckdb")
        con.close()
        lay["catalog.find_within_ms"] = statistics.median(ms["find_within"])
        lay["catalog.find_in_timerange_ms"] = statistics.median(ms["find_in_timerange"])
        lay["catalog.conj_ms"] = statistics.median(ms["conj"])
        lay["catalog.rows_returned"] = statistics.mean(rows)


class AdmitBurst(EngineWorkload):
    """init_state + run_round(1) of a fresh abucket engine over a burst of
    seed URLs against an empty pages table: every fetch misses.  The burst
    runs cold, code generation included, as the first round of every crawl
    process does: a warm-up burst would cost more run time than the
    benchmark's budget allows."""

    name = "admit_burst"

    def __init__(self, *a):
        super().__init__(*a)
        s = self.scale
        self.inp = gen.admit_inputs(self.seed, s.admit_urls, s.admit_hosts)

    def setup(self) -> None:
        """Stage the generated inputs as parquet for the engine to read; the
        seed list as ``SEED_FILES`` files, so the engine's first scan gets
        that many partitions."""
        d = self.fresh_dir("inputs")
        for df, name, schema, parts in (
            (pd.DataFrame({"url": self.inp.urls}), "seeds", URL_SCHEMA, SEED_FILES),
            (self.inp.robots, "robots", ROBOTS_ARROW, 1),
            (self.inp.hostbudget, "budget", BUDGET_ARROW, 1),
        ):
            os.makedirs(f"{d}/{name}")
            step = -(-len(df) // parts)
            for i in range(parts):
                part = pa.Table.from_pandas(df.iloc[i * step:(i + 1) * step], schema, preserve_index=False)
                pq.write_table(part, f"{d}/{name}/part-{i:05d}.parquet")
        sp = self.spark
        self.seeds = sp.read.parquet(f"{d}/seeds")
        self.robots = sp.read.parquet(f"{d}/robots")
        self.budget = sp.read.parquet(f"{d}/budget")
        self.pages = sp.createDataFrame([], PAGES_SCHEMA)

    def op(self) -> None:
        eng = self.new_engine(self.seeds)
        t0 = time.time()
        c0 = self.tracer.call("frontier.init_state", eng.init_state)
        t1 = time.time()
        c1 = self.tracer.call("frontier.run_round", eng.run_round, 1)
        t2 = time.time()
        o, inp = self.out, self.inp
        o.op_s.append(t2 - t0)
        o.op_iv.append((t0, t2))
        o.rounds += [(t0, t1), (t1, t2)]
        o.items += len(inp.urls)
        o.busy_s += t2 - t0
        o.check(c0["discovered"] + c0["robots_denied"] == inp.distinct, f"distinct {c0}")
        o.check(c0["robots_denied"] == inp.denied, f"denied {c0['robots_denied']} != {inp.denied}")
        o.check(c1["missing"] == inp.popped and c1["fetched"] == 0, f"popped {c1} != {inp.popped}")
        allowed = inp.distinct - inp.denied
        o.check(c1["deferred_politeness"] == allowed - inp.popped, f"deferred {c1}")

    def candidates(self):
        return self.seeds.select("url", F.lit("page").alias("kind"))


class CrawlRounds(EngineWorkload):
    """A fixed number of engine rounds over a synth page graph, checked
    against the single-threaded reference crawl on the same inputs."""

    name = "crawl_rounds"

    def __init__(self, *a):
        super().__init__(*a)
        s = self.scale
        self.inp = gen.crawl_inputs(
            self.seed, s.crawl_pages, s.crawl_hosts, s.crawl_seeds_per_host, s.crawl_max_budget
        )
        ref = PyRefCrawl(self.inp.pages, self.inp.seeds, self.inp.robots, self.inp.hostbudget)
        ref.init_state()
        for r in range(1, s.crawl_rounds + 1):
            ref.run_round(r)
        self.ref = ref
        self.boot_s: list[float] = []
        d = self.fresh_dir("inputs")  # staged once: not part of the set-up the program does
        sp = self.spark
        sp.createDataFrame(self.inp.pages, PAGES_SCHEMA).write.parquet(f"{d}/pages")
        sp.createDataFrame(self.inp.seeds).write.parquet(f"{d}/seeds")
        sp.createDataFrame(self.inp.hostbudget).write.parquet(f"{d}/budget")
        self.pages = sp.read.parquet(f"{d}/pages")
        self.seeds = sp.read.parquet(f"{d}/seeds")
        self.budget = sp.read.parquet(f"{d}/budget")

    def setup(self) -> None:
        """Build the robots dimension from the robots.txt pages."""
        sp = self.spark
        # Seeds in memory: with pages and seeds both read from parquet the
        # bootstrap plan spends minutes in the optimizer.
        seeds = sp.createDataFrame(self.inp.seeds)
        d = self.fresh_dir("robots")
        boot, dt = self.timed("robots", bootstrap_robots, sp, self.pages, seeds)
        boot.write.parquet(d, mode="overwrite")
        self.robots = sp.read.parquet(d)
        self.boot_s.append(dt)
        self.out.layer["robots.bootstrap_s"] = statistics.median(self.boot_s)

    def op(self) -> None:
        """One pass: a fresh engine's init_state, then ``crawl_rounds``
        rounds, each round one timed op."""
        o = self.out
        eng = self.new_engine(self.seeds)
        t_pass = time.time()
        self.tracer.call("frontier.init_state", eng.init_state)
        o.rounds.append((t_pass, time.time()))
        fetched = 0
        for r in range(1, self.scale.crawl_rounds + 1):
            c = self.timed_op("frontier.run_round", eng.run_round, r)
            o.rounds.append(o.op_iv[-1])
            fetched += c["fetched"]
        o.items += fetched
        o.busy_s += time.time() - t_pass
        o.check(eng.crawl_order() == self.ref.crawl_order, "crawl order differs from pyref")
        o.check(eng.seen_urls() == self.ref.seen_urls(), "seen set differs from pyref")

    def candidates(self):
        return read_all_rounds(self.spark, self.engine.io, "admitted").select("url", "kind")


def _corners(g, xs, ys):
    """Footprint corners, in catalog.footprint_corners' operation order."""
    xs, ys = float(xs), float(ys)
    return [
        (g[0], g[3]),
        (g[0] + xs * g[1], g[3] + xs * g[4]),
        (g[0] + xs * g[1] + ys * g[2], g[3] + xs * g[4] + ys * g[5]),
        (g[0] + ys * g[2], g[3] + ys * g[5]),
    ]


def _within_sql(ring) -> str:
    """DuckDB twin of catalog.geo_within_expr for a convex ring."""
    g = [f"geotransform[{i + 1}]" for i in range(6)]
    xs, ys = "CAST(x_size AS DOUBLE)", "CAST(y_size AS DOUBLE)"
    corners = [
        (g[0], g[3]),
        (f"({g[0]} + {xs} * {g[1]})", f"({g[3]} + {xs} * {g[4]})"),
        (f"({g[0]} + {xs} * {g[1]} + {ys} * {g[2]})", f"({g[3]} + {xs} * {g[4]} + {ys} * {g[5]})"),
        (f"({g[0]} + {ys} * {g[2]})", f"({g[3]} + {ys} * {g[5]})"),
    ]
    conds = []
    for cx, cy in corners:
        cross = []
        for i in range(len(ring)):
            (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % len(ring)]
            cross.append(f"({x2 - x1!r} * ({cy} - {y1!r}) - {y2 - y1!r} * ({cx} - {x1!r}))")
        pos = " AND ".join(f"{c} >= 0" for c in cross)
        neg = " AND ".join(f"{c} <= 0" for c in cross)
        conds.append(f"(({pos}) OR ({neg}))")
    return " AND ".join(conds)


def _range_sql(t0: str, t1: str) -> str:
    return (
        f"len(list_filter(timestamps, t -> t >= TIMESTAMP '{t0}' AND t < TIMESTAMP '{t1}')) > 0"
    )


def _catalog_params(files: list[str], seed: int, n: int) -> list[tuple[list, str, str]]:
    """``n`` (ring, t0, t1) sets: a square around a random footprint that
    holds 15-35% of the footprints, and a window over 20-50% of the
    distinct timestamps."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT geotransform, x_size, y_size, timestamps FROM read_parquet(?)", [files]
    ).fetchall()
    con.close()
    if not rows:
        return []
    rnd = random.Random(seed)
    stamps = sorted({t for *_, ts in rows for t in (ts or []) if t is not None and t.year > 1})
    out = []
    for _ in range(n):
        g, xs, ys, _ = rows[rnd.randrange(len(rows))]
        cx, cy = [sum(v) / 4 for v in zip(*_corners(g, xs, ys))]
        reach = sorted(
            max(max(abs(x - cx), abs(y - cy)) for x, y in _corners(g2, xs2, ys2))
            for g2, xs2, ys2, _ in rows
        )
        k = int(len(reach) * rnd.uniform(0.15, 0.35))
        r = (reach[k] + reach[k + 1]) / 2  # midway: no footprint on the edge
        ring = [(cx - r, cy - r), (cx + r, cy - r), (cx + r, cy + r), (cx - r, cy + r)]
        i = rnd.randrange(len(stamps) // 2)
        j = min(len(stamps) - 1, i + int(len(stamps) * rnd.uniform(0.2, 0.5)))
        t0, t1 = stamps[i].strftime("%Y-%m-%d %H:%M:%S"), stamps[j].strftime("%Y-%m-%d %H:%M:%S")
        out.append((ring, t0, t1))
    return out


WORKLOADS = {w.name: w for w in (AdmitBurst, CrawlRounds)}
