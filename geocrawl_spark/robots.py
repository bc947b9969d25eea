"""robots.txt acquisition: fetch-and-parse bootstrap for the robots
dimension (REP, RFC 9309).

The engine consumes robots rules as a per-host DIMENSION table
``(host, disallow, allow[, crawl_delay[, sitemaps]])`` — reference
analog: the walk root given to geocrawler bounds what is visited
(`geolib/walkers.go:33-47`); the graft's robots table is that bound as
data.  This module answers where that table COMES FROM on a real crawl:
each seed origin's ``/robots.txt`` is fetched through the same pages
corpus the crawl reads, and the bodies are parsed VECTORIZED into the
dimension the engine (and :mod:`politeness`'s longest-match rule
matcher) already consumes.  The parse is one line-explode + two windows
+ three small groupBys over a per-host table — dimension-sized work, n
rows per robots file, never corpus-scale.

REP semantics implemented (RFC 9309 + the de-facto extensions):

- directives are case-insensitive; ``#`` comments and unrecognized
  lines are ignored (an unrecognized line does NOT split a group);
- a GROUP is a maximal run of consecutive ``User-agent`` lines followed
  by its rules; rules before the first group are ignored;
- group selection: case-insensitive EXACT product-token match beats the
  ``*`` group; ALL matching groups merge (RFC 9309 §2.2.1);
- ``Disallow`` / ``Allow`` values dedupe and sort (downstream matching
  is longest-match, order-independent); empty values drop (an empty
  ``Disallow:`` means allow-all and contributes no rule);
- ``Crawl-delay`` (non-RFC, honored by the engine's per-round rate
  cap): the MINIMUM numeric value across merged groups, rounded UP to
  whole seconds; non-numeric values are ignored;
- ``Sitemap`` is file-global (any group), deduped and sorted;
- a missing / empty / unreadable robots.txt means ALLOW-ALL (the 4xx
  semantics of RFC 9309 §2.3.1.3).

Serial twin :func:`parse_robots_py` mirrors the vectorized parser
line-for-line for golden parity tests (tests/test_robots_golden.py).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .canon import canonicalize_url_expr, host_expr

#: the crawler's product token (RFC 9309 §2.2.1) — what a specific
#: ``User-agent:`` line must equal (case-insensitively) to beat ``*``.
ROBOTS_AGENT = "geocrawl"

_DIRECTIVES = ("user-agent", "disallow", "allow", "crawl-delay", "sitemap")
_LINE_RE = r"^([A-Za-z][A-Za-z-]*)\s*:"
_VAL_RE = r"^[A-Za-z][A-Za-z-]*\s*:\s*(.*)$"


def parse_robots_txt(
    bodies: DataFrame, agent: str = ROBOTS_AGENT
) -> DataFrame:
    """(host, body) -> (host, disallow, allow, crawl_delay, sitemaps).

    One row per input host (null/empty body -> allow-all row with empty
    arrays and null crawl_delay).  Callers guarantee host uniqueness
    (:func:`bootstrap_robots` dedupes upstream).  Entirely JVM-side:
    split/posexplode the lines, regexp-classify directives, window-scan
    group ids (a ``User-agent`` line whose previous recognized line was
    not one starts a new group), rank groups by agent match, merge the
    matching groups' rules.  The line table is dimension-sized (hosts x
    ~dozens of lines); Catalyst recomputes it per consuming aggregate,
    which is the right trade at that size.
    """
    a = agent.lower()
    hosts = bodies.select("host").distinct()
    lines = bodies.select(
        "host",
        F.posexplode(
            F.split(F.coalesce(F.col("body"), F.lit("")), r"\r?\n")
        ).alias("pos", "raw"),
    )
    l_trim = F.trim(F.regexp_replace(F.col("raw"), "#.*", ""))
    d = lines.select(
        "host",
        "pos",
        F.lower(F.regexp_extract(l_trim, _LINE_RE, 1)).alias("dre"),
        F.trim(F.regexp_extract(l_trim, _VAL_RE, 1)).alias("val"),
    ).filter(F.col("dre").isin(*_DIRECTIVES))

    w = Window.partitionBy("host").orderBy("pos")
    d = (
        d.withColumn("_ua", (F.col("dre") == "user-agent").cast("int"))
        .withColumn(
            "gstart",
            (
                (F.col("_ua") == 1)
                & (F.lag("_ua", 1, 0).over(w) == 0)
            ).cast("int"),
        )
        .withColumn(
            "gid",
            F.sum("gstart").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )

    ua = (
        d.filter(F.col("dre") == "user-agent")
        .groupBy("host", "gid")
        .agg(
            F.max((F.lower(F.col("val")) == a).cast("int")).alias("m_exact"),
            F.max((F.col("val") == "*").cast("int")).alias("m_star"),
        )
    )
    has_exact = ua.groupBy("host").agg(F.max("m_exact").alias("hx"))
    chosen = (
        ua.join(has_exact, "host")
        .filter(
            ((F.col("hx") == 1) & (F.col("m_exact") == 1))
            | ((F.col("hx") == 0) & (F.col("m_star") == 1))
        )
        .select("host", "gid")
    )
    rules = (
        d.filter(
            F.col("dre").isin("disallow", "allow", "crawl-delay")
            & (F.col("gid") > 0)
        )
        .join(chosen, ["host", "gid"])
        .groupBy("host")
        .agg(
            F.sort_array(
                F.collect_set(
                    F.when(
                        (F.col("dre") == "disallow") & (F.col("val") != ""),
                        F.col("val"),
                    )
                )
            ).alias("disallow"),
            F.sort_array(
                F.collect_set(
                    F.when(
                        (F.col("dre") == "allow") & (F.col("val") != ""),
                        F.col("val"),
                    )
                )
            ).alias("allow"),
            F.ceil(
                F.min(
                    F.when(
                        F.col("dre") == "crawl-delay",
                        F.expr("try_cast(val as double)"),
                    )
                )
            )
            .cast("long")
            .alias("crawl_delay"),
        )
    )
    sm = (
        d.filter((F.col("dre") == "sitemap") & (F.col("val") != ""))
        .groupBy("host")
        .agg(F.sort_array(F.collect_set("val")).alias("sitemaps"))
    )
    empty = F.array().cast("array<string>")
    return (
        hosts.join(rules, "host", "left")
        .join(sm, "host", "left")
        .select(
            "host",
            F.coalesce("disallow", empty).alias("disallow"),
            F.coalesce("allow", empty).alias("allow"),
            F.col("crawl_delay").cast("long").alias("crawl_delay"),
            F.coalesce("sitemaps", empty).alias("sitemaps"),
        )
    )


def parse_robots_py(
    body: str | None, agent: str = ROBOTS_AGENT
) -> dict:
    """Serial reference twin of :func:`parse_robots_txt` for ONE body.

    Mirrors the vectorized parser exactly, including the group-boundary
    subtlety that any recognized non-User-agent line (a rule OR a
    Sitemap line) ends a User-agent run, so a later User-agent line
    starts a NEW group."""
    a = agent.lower()
    groups: list[dict] = []  # {"uas": set, "dis": [], "alw": [], "cd": []}
    sitemaps: set[str] = set()
    prev_ua = False
    cur: dict | None = None
    for raw in re.split(r"\r?\n", body or ""):
        line = re.sub("#.*", "", raw).strip()
        m = re.match(_VAL_RE, line)
        if not m:
            continue
        dre = re.match(_LINE_RE, line).group(1).lower()
        if dre not in _DIRECTIVES:
            continue
        val = m.group(1).strip()
        if dre == "user-agent":
            if not prev_ua:
                cur = {"uas": set(), "dis": [], "alw": [], "cd": []}
                groups.append(cur)
            cur["uas"].add(val.lower())
            prev_ua = True
            continue
        prev_ua = False
        if dre == "sitemap":
            if val:
                sitemaps.add(val)
        elif cur is not None:
            if dre == "disallow" and val:
                cur["dis"].append(val)
            elif dre == "allow" and val:
                cur["alw"].append(val)
            elif dre == "crawl-delay":
                try:
                    cur["cd"].append(float(val))
                except ValueError:
                    pass
    exact = [g for g in groups if a in g["uas"]]
    chosen = exact if exact else [g for g in groups if "*" in g["uas"]]
    dis = sorted({v for g in chosen for v in g["dis"]})
    alw = sorted({v for g in chosen for v in g["alw"]})
    cds = [c for g in chosen for c in g["cd"]]
    return {
        "disallow": dis,
        "allow": alw,
        "crawl_delay": int(math.ceil(min(cds))) if cds else None,
        "sitemaps": sorted(sitemaps),
    }


_ORIGIN_RE = r"^([a-z][a-z0-9+.\-]*://[^/?]*)"


def bootstrap_robots(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    agent: str = ROBOTS_AGENT,
    static_robots: DataFrame | None = None,
) -> DataFrame:
    """Build the engine's robots dimension from FETCHED robots.txt
    bodies — the pre-crawl step a real crawler runs before touching a
    host (fetch ``{origin}/robots.txt``, parse, cache).

    For every distinct canonical seed origin, ``/robots.txt`` is read
    from the pages corpus (latest snapshot by warc_ts when duplicated;
    body = ``text`` else the UTF-8 decode of ``html``, both JVM-side)
    and parsed by :func:`parse_robots_txt`.  A seed host whose
    robots.txt is NOT in the corpus gets an allow-all row (RFC 9309
    §2.3.1.3 unreachable-as-404 semantics) — it surfaces in the output
    so the caller can tell "fetched, allow-all" from "never probed".
    ``static_robots`` rows (any engine-accepted schema) are kept for
    hosts the bootstrap did NOT probe; a fetched row wins over a static
    one (live REP beats stale configuration).

    Scale shape: origins are a distinct projection of the seed list;
    the corpus touch is ONE equi-join of that dimension against the
    url-bucketed pages table (storage-partitioned, same layout as the
    engine's fetch join), and the parse runs on the joined per-host
    dimension.  Mid-crawl, newly discovered hosts can be probed by
    re-running this over the current pending-host set between
    :meth:`CrawlEngine.run` calls — the same seam refresh() uses.
    """
    s = seeds.select(canonicalize_url_expr(F.col("url")).alias("url"))
    org = (
        s.select(F.regexp_extract("url", _ORIGIN_RE, 1).alias("origin"))
        .filter(F.col("origin") != "")
        .distinct()
    )
    # an origin cut from a canonical url is canonical, and so is
    # origin + "/robots.txt": a second canonicalize_url_expr over it only
    # nests the expression tree, which Catalyst's constraint propagation
    # then spends minutes on when pages and seeds come from parquet
    rurls = org.select(
        F.concat(F.col("origin"), F.lit("/robots.txt")).alias("url")
    )
    latest = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    pg = (
        pages.withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .select(
            "url",
            F.coalesce(
                F.col("text"), F.decode(F.col("html"), "UTF-8")
            ).alias("body"),
        )
    )
    fetched = (
        rurls.join(pg, "url", "left")
        .select(host_expr(F.col("url")).alias("host"), "body")
    )
    out = parse_robots_txt(fetched, agent)
    if static_robots is None:
        return out
    st = static_robots
    empty = F.array().cast("array<string>")
    if "allow" not in st.columns:
        st = st.withColumn("allow", empty)
    if "crawl_delay" not in st.columns:
        st = st.withColumn("crawl_delay", F.lit(None).cast("long"))
    if "sitemaps" not in st.columns:
        st = st.withColumn("sitemaps", empty)
    keep = st.join(out.select("host"), "host", "left_anti").select(
        "host", "disallow", "allow", "crawl_delay", "sitemaps"
    )
    return out.unionByName(keep)
