"""Single-threaded pure-Python oracle crawler (SURVEY.md §5.1).

The reference ships zero tests, so golden behavior is reconstructed from
its source semantics: this module is a direct, sequential transcription
of the crawl contract the Spark engine implements (frontier.py).  Golden
tests assert EXACT equality between the two on: crawl ordering, final
URL-seen set, per-round counters, extracted text bytes, and metadata
rows.  Shared pure functions (canon/assets/parsers/gdalmeta/geometry,
plus bit-identical xxhash64) make byte-parity achievable; the crawl loop
itself is written twice on purpose — that is the point of the oracle.
"""

from __future__ import annotations

import datetime as _dt
import hashlib

import pandas as pd

from .assets import (
    extract_link_anchors_py,
    extract_sitemap_entries_py,
    extract_sitemap_locs_py,
    extract_text_py,
    is_asset_py,
    is_page_py,
    is_sitemap_py,
    resolve_href_py,
)
from .canon import canonicalize_url, host_of
from .gdalmeta import fake_gdal_file_py, proj4_of_wkt_py
from .hashing import url_hash, xxh64_signed
from .geometry import polygon_wkt_py
from .parsers import parse_name_py
from .politeness import (
    DEFAULT_BUDGET,
    PRIO_RANK_MAX,
    PRIO_SCALE,
    robots_denied_py,
)


def _parse_rfc3339(s: str):
    import datetime as dt

    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=dt.timezone.utc)


class PyRefCrawl:
    def __init__(
        self,
        pages: pd.DataFrame,
        seeds: pd.DataFrame,
        robots: pd.DataFrame,
        hostbudget: pd.DataFrame,
        carryover: bool = True,
        round_cap: int | None = None,
        round_seconds: int = 60,
        host_rank: dict[str, int] | None = None,
        adaptive_budget: bool = False,
        quality_rank: bool = False,
        trap_guard: bool = False,
        trap_fanout: int = 2,
        trap_depth: int = 3,
        mirror_guard: bool = False,
        mirror_min: int = 4,
        use_sitemaps: bool = False,
    ):
        self.pages = {r.url: r for r in pages.itertuples()}
        self.seeds = list(seeds.itertuples())
        # (disallow, allow) rule lists per host; 'allow' and 'crawl_delay'
        # columns optional
        self.robots = {
            r.host: (list(r.disallow), list(getattr(r, "allow", []) or []))
            for r in robots.itertuples()
        }
        self.delays: dict[str, int] = {}
        for r in robots.itertuples():
            d = getattr(r, "crawl_delay", None)
            if d is not None and not pd.isna(d) and d > 0:
                self.delays[r.host] = int(d)
        self.round_seconds = round_seconds
        self.budgets = {r.host: int(r.budget) for r in hostbudget.itertuples()}
        self.carryover = carryover
        self.carry: dict[str, int] = {}  # residual budget credit (H1)
        # opt-in error-rate budget feedback (CrawlEngine adaptive_budget
        # twin): last round's per-host (popped, missing)
        self.adaptive_budget = adaptive_budget
        self.prev_err: dict[str, tuple[int, int]] = {}
        self.round_cap = round_cap  # E3 global per-round batch ceiling
        # opt-in host-rank prioritization twin (politeness.PRIO_* formula)
        self.host_rank = host_rank
        # opt-in quality-feedback prioritization twin (CrawlEngine
        # quality_rank): cumulative per-host (sum extracted chars, docs);
        # discoveries in round r are scored by history THROUGH r-1, so the
        # fold into self.qual happens strictly AFTER the round's _admit
        if quality_rank and host_rank is not None:
            raise ValueError(
                "quality_rank and host_rank are mutually exclusive"
            )
        self.quality_rank = quality_rank
        self.qual: dict[str, tuple[int, int]] = {}
        # opt-in spider-trap quarantine twin (CrawlEngine trap_guard):
        # cumulative per-host [n_fetched, n_disc, max_depth]; the
        # quarantine decision for round r uses stats THROUGH r-1 (the
        # fold happens strictly AFTER the round's eff computation)
        self.trap_guard = trap_guard
        if trap_guard and (trap_fanout < 1 or trap_depth < 1):
            raise ValueError("trap_fanout and trap_depth must be >= 1")
        self.trap_fanout = trap_fanout
        self.trap_depth = trap_depth
        self.trap: dict[str, list[int]] = {}
        # opt-in mirror quarantine twin (CrawlEngine mirror_guard):
        # cumulative per-host [n_fetched, n_dup] plus the content-hash
        # set (xxhash64 of extracted text — bit-identical to Spark's);
        # the quarantine decision for round r uses stats THROUGH r-1
        # (the per-host fold happens after the round's eff computation),
        # while content_seen updates IN fetch_seq order during the loop —
        # the serial replay of the engine's prior-rounds-union + within-
        # round window rank
        self.mirror_guard = mirror_guard
        if mirror_guard and mirror_min < 1:
            raise ValueError("mirror_min must be >= 1")
        self.mirror_min = mirror_min
        self.mirror: dict[str, list[int]] = {}
        # opt-in sitemap discovery twin (CrawlEngine use_sitemaps):
        # round 0 adds {origin}/sitemap.xml per distinct seed origin;
        # every fetched page's <loc> URLs — and its host's
        # robots-declared Sitemap: URLs, when the robots input carries
        # the optional `sitemaps` column — join its href fan-out; .xml
        # targets recurse as pages through the sitemap channel only
        self.use_sitemaps = use_sitemaps
        self.robots_sitemaps: dict[str, list[str]] = {}
        if use_sitemaps:
            for r in robots.itertuples():
                sm = getattr(r, "sitemaps", None)
                if sm is not None and len(sm):
                    self.robots_sitemaps[r.host] = [u for u in sm if u]
        # freshness twins: max advertised <lastmod> per canon url (the
        # engine's sitemapmeta max-over-rounds) and the warc_ts of each
        # url's LAST fetch (the engine's max_by(warc_ts, round))
        self.sitemap_lastmod: dict[str, _dt.datetime] = {}
        self.fetched_ts: dict = {}
        self.content_seen: set[int] = set()
        # URL-seen set: url_hash(url) == the engine's h1 = xxhash64(url)
        self.seen: set[int] = set()
        self.frontier: dict[str, dict] = {}
        self.admitted: list[tuple[str, str]] = []
        self.crawl_order: list[tuple[int, int, str]] = []
        self.extracted: dict[str, str] = {}  # url -> extracted text
        # (src, dst, kind, anchor) edges — anchor twin of the engine's log
        self.links: list[tuple[str, str, str, str]] = []
        self.metadata: list[dict] = []
        self.dead_letters: list[tuple[str, int]] = []
        self.counters_log: list[dict] = []
        self.host_log: list[dict] = []  # per-(round, host) lineage

    # ------------------------------------------------------------------
    def _admit(self, cands: dict[str, tuple[int, str]], round_no: int):
        """Single-batch admission over page+asset candidates together,
        keyed like the engine's seen store: within-batch dedup per
        h1 = url_hash(url) to the min (depth, url), test every survivor
        against the seen set as it stood before the batch, then insert
        the fresh hashes.

        ``cands`` maps url -> (depth, kind).  Returns (rows, deduped,
        denied_by_kind) where rows carry the kind.
        """
        n_cand = len(cands)
        best: dict[int, str] = {}
        for u, (depth, _kind) in cands.items():
            h = url_hash(u)
            if h in self.seen:
                continue
            b = best.get(h)
            if b is None or (depth, u) < (cands[b][0], b):
                best[h] = u
        self.seen.update(best)
        fresh = sorted(best.values())
        rows = []
        denied_by_kind = {"page": 0, "asset": 0}
        for u in fresh:
            depth, kind = cands[u]
            host = host_of(u)
            dis, alw = self.robots.get(host, ([], []))
            is_denied = robots_denied_py(u, dis, alw)
            denied_by_kind[kind] += is_denied
            if self.quality_rank:
                sc, nd = self.qual.get(host, (0, 0))
                score = min(PRIO_RANK_MAX, sc // nd) if nd else 0
                prio = depth * PRIO_SCALE + (PRIO_RANK_MAX - score)
            elif self.host_rank is None:
                prio = depth
            else:
                prio = depth * PRIO_SCALE + (
                    PRIO_RANK_MAX - self.host_rank.get(host, 0)
                )
            rows.append(
                {
                    "url": u,
                    "host": host,
                    "depth": depth,
                    "priority": prio,
                    "discovered_round": round_no,
                    "status": "robots_denied" if is_denied else "pending",
                    "fetch_round": None,
                    "fetch_seq": None,
                    "kind": kind,
                }
            )
            self.admitted.append((u, kind))
        return rows, n_cand - len(fresh), denied_by_kind

    # ------------------------------------------------------------------
    def _trap_fold(self, rows, per_host=None):
        """Fold one round's contributions into the cumulative trap stats
        (CrawlEngine._trap_update twin): fresh non-denied PAGE rows count
        as discoveries attributed to the DISCOVERED url's host (a trap
        fills its own url space); ``per_host`` fetched counts attribute
        by the FETCHED url's host."""
        for r in rows:
            if r["kind"] != "page" or r["status"] != "pending":
                continue
            t = self.trap.setdefault(r["host"], [0, 0, 0])
            t[1] += 1
            t[2] = max(t[2], r["depth"])
        if per_host:
            for h, d in per_host.items():
                if d["fetched"]:
                    self.trap.setdefault(h, [0, 0, 0])[0] += d["fetched"]

    def _mirror_quarantined(self, host: str) -> bool:
        """CrawlEngine._mirror_dim twin: quarantine when the host's
        cumulative fetches through the previous round are majority-
        duplicate content (n_fetched >= mirror_min, 2*n_dup >=
        n_fetched)."""
        m = self.mirror.get(host)
        return (
            m is not None
            and m[0] >= self.mirror_min
            and 2 * m[1] >= m[0]
        )

    def _trapped(self, host: str) -> bool:
        """CrawlEngine._trap_dim twin: quarantine when the host has at
        least one fetch, discoveries >= trap_fanout x fetches, and a
        discovery was seen at depth >= trap_depth."""
        t = self.trap.get(host)
        return bool(
            t
            and t[0] >= 1
            and t[1] >= self.trap_fanout * t[0]
            and t[2] >= self.trap_depth
        )

    # ------------------------------------------------------------------
    def init_state(self) -> dict:
        cands: dict[str, tuple[int, str]] = {}
        for s in self.seeds:
            cands.setdefault(canonicalize_url(s.url), (0, "page"))
        if self.use_sitemaps:
            import re as _re

            for canon in list(cands):
                m = _re.match(r"^([a-z][a-z0-9+.\-]*://[^/?]*)", canon)
                if m:
                    cands.setdefault(
                        canonicalize_url(m.group(1) + "/sitemap.xml"),
                        (0, "page"),
                    )
        rows, deduped, denied = self._admit(cands, 0)
        if self.trap_guard:
            # round 0's admitted seeds ARE discoveries (depth 0, no
            # fetch source) — the engine writes them as hosttrap@0
            self._trap_fold(rows)
        for r in rows:
            self.frontier[r["url"]] = r
        counters = {
            "round": 0, "fetched": 0, "missing": 0, "deferred_politeness": 0,
            "deduped": deduped, "robots_denied": denied["page"],
            "discovered": len(rows) - denied["page"],
            "assets_extracted": 0, "dead_letters": 0,
        }
        self.counters_log.append(counters)
        return counters

    # ------------------------------------------------------------------
    def run_round(self, round_no: int) -> dict | None:
        pending = [r for r in self.frontier.values() if r["status"] == "pending"]
        if not pending:
            return None
        from .politeness import pop_batch_py

        per_host: dict[str, dict] = {}
        for r in pending:
            h = per_host.setdefault(
                r["host"], {"n_pending": 0, "fetched": 0, "missing": 0}
            )
            h["n_pending"] += 1

        # effective budget = base + residual carry (mirrors engine H1),
        # capped by the robots crawl-delay per-round rate (mirrors
        # CrawlEngine._effective_budget exactly)
        eff = {}
        for h in per_host:
            base = self.budgets.get(h, DEFAULT_BUDGET)
            if self.adaptive_budget:
                p, m = self.prev_err.get(h, (0, 0))
                if m > 0 and 2 * m >= p:  # majority-missing last round
                    base = max(1, base // 2)
            e = base + (
                self.carry.get(h, 0) if self.carryover else 0
            )
            d = self.delays.get(h)
            if d:
                e = min(e, max(1, self.round_seconds // d))
            if self.trap_guard and self._trapped(h):
                # quarantine binds LAST — after halving, carry, and the
                # crawl-delay cap (mirrors _effective_budget's override)
                e = 1
            if self.mirror_guard and self._mirror_quarantined(h):
                e = 1
            eff[h] = e
        batch = pop_batch_py(pending, eff)
        batch.sort(key=lambda r: (r["priority"], r["url"]))
        if self.round_cap is not None:
            batch = batch[: self.round_cap]
        counters = {k: 0 for k in (
            "fetched", "missing", "deferred_politeness", "deduped",
            "robots_denied", "discovered", "assets_extracted", "dead_letters",
        )}
        counters["deferred_politeness"] = len(pending) - len(batch)

        cands: dict[str, tuple[int, str]] = {}
        round_mirror: dict[str, list[int]] = {}  # mirror_guard: this round's
        round_qual: dict[str, list[int]] = {}  # quality_rank: this round's
        for seq, row in enumerate(batch, start=1):
            ph = per_host[row["host"]]
            row["fetch_round"] = round_no
            row["fetch_seq"] = seq
            page = self.pages.get(row["url"])
            if page is None:
                row["status"] = "missing"
                counters["missing"] += 1
                ph["missing"] += 1
                continue
            row["status"] = "fetched"
            counters["fetched"] += 1
            ph["fetched"] += 1
            self.crawl_order.append((round_no, seq, row["url"]))
            html = page.html if isinstance(page.html, bytes) else bytes(page.html)
            self.extracted[row["url"]] = extract_text_py(html)
            self.fetched_ts[row["url"]] = page.warc_ts
            if self.mirror_guard:
                # content_seen updates immediately (within-round ordering
                # by fetch_seq — this loop IS that order); per-host stats
                # fold after the round so the quarantine decision used
                # stats through r-1, like the engine's read of the latest
                # hostdup through r-1
                ch = xxh64_signed(self.extracted[row["url"]].encode())
                rm = round_mirror.setdefault(row["host"], [0, 0])
                rm[0] += 1
                if ch in self.content_seen:
                    rm[1] += 1
                else:
                    self.content_seen.add(ch)
            if self.quality_rank:
                rq = round_qual.setdefault(row["host"], [0, 0])
                rq[0] += len(self.extracted[row["url"]])
                rq[1] += 1
            for href, anchor in extract_link_anchors_py(html):
                canon = canonicalize_url(resolve_href_py(row["url"], href))
                d = row["depth"] + 1
                if is_page_py(canon):
                    kind = "page"
                elif is_asset_py(canon):
                    kind = "asset"
                else:
                    continue
                # twin of the engine's opt-in links log: every extracted
                # (src, dst, kind, anchor) edge occurrence, pre-
                # admission-dedup (href sequence == extract_links_py's
                # by the _ANCHOR_SNIPPET_RE contract, so admission is
                # unchanged)
                self.links.append((row["url"], canon, kind, anchor))
                if canon not in cands or d < cands[canon][0]:
                    cands[canon] = (d, kind)
            if self.use_sitemaps:
                # sitemap-channel fan-out: <loc> URLs plus the host's
                # robots-declared Sitemap: URLs, with the channel's own
                # kind rule — a .xml target is a fetchable page here
                # (sitemap-index recursion) though never via <a href>
                sm_hrefs = list(extract_sitemap_locs_py(html))
                sm_hrefs += self.robots_sitemaps.get(host_of(row["url"]), [])
                for loc in sm_hrefs:
                    canon = canonicalize_url(resolve_href_py(row["url"], loc))
                    d = row["depth"] + 1
                    if is_page_py(canon) or is_sitemap_py(canon):
                        kind = "page"
                    elif is_asset_py(canon):
                        kind = "asset"
                    else:
                        continue
                    self.links.append((row["url"], canon, kind, ""))
                    if canon not in cands or d < cands[canon][0]:
                        cands[canon] = (d, kind)
                # freshness metadata twin (engine sitemapmeta): max
                # advertised lastmod per canon loc; strict W3C formats
                # (full ISO seconds, then date-only) — unparseable drop
                for loc, lm in extract_sitemap_entries_py(html):
                    if not lm:
                        continue
                    ts = None
                    for fmt in ("%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
                        try:
                            # naive W3C timestamp read as UTC — the same
                            # reading Spark's try_to_timestamp gives it
                            # under the session's UTC timezone
                            ts = _dt.datetime.strptime(lm, fmt).replace(
                                tzinfo=_dt.timezone.utc
                            )
                            break
                        except ValueError:
                            pass
                    if ts is None:
                        continue
                    canon = canonicalize_url(resolve_href_py(row["url"], loc))
                    prev = self.sitemap_lastmod.get(canon)
                    if prev is None or ts > prev:
                        self.sitemap_lastmod[canon] = ts

        rows, deduped, denied = self._admit(cands, round_no)
        if self.trap_guard:
            # fold AFTER the round's eff was computed: the engine's
            # quarantine reads the latest hosttrap through round-1
            # (one-round feedback lag)
            self._trap_fold(rows, per_host)
        if self.quality_rank:
            # fold AFTER _admit: this round's fetches must not influence
            # this round's discovery priorities (the engine reads the
            # latest hostqual through r-1)
            for h, (sc, nd) in round_qual.items():
                psc, pnd = self.qual.get(h, (0, 0))
                self.qual[h] = (psc + sc, pnd + nd)
        if self.mirror_guard:
            # fold AFTER the round's eff was computed (one-round lag —
            # the engine reads the latest hostdup through round-1)
            for h, (nf, nd) in round_mirror.items():
                m = self.mirror.setdefault(h, [0, 0])
                m[0] += nf
                m[1] += nd
        counters["deduped"] = deduped
        counters["robots_denied"] = denied["page"] + denied["asset"]
        n_fresh_pages = sum(1 for r in rows if r["kind"] == "page")
        counters["discovered"] = n_fresh_pages - denied["page"]
        for r in rows:
            if r["kind"] == "page":
                self.frontier[r["url"]] = {k: v for k, v in r.items() if k != "kind"}

        for r in rows:
            if r["kind"] != "asset" or r["status"] != "pending":
                continue
            url = r["url"]
            pattern, fields, ts = parse_name_py(url)
            if pattern is None:
                self.dead_letters.append((url, round_no))
                counters["dead_letters"] += 1
                continue
            gfile = fake_gdal_file_py(url)
            emitted = False
            for ds in gfile["datasets"]:
                if ds["proj_wkt"] == "":  # B3 (geoparser.go:184)
                    continue
                emitted = True
                nc = ds["extra_metadata"].get("nc_times")
                times = [_parse_rfc3339(s) for s in nc] if nc else [ts]
                self.metadata.append(
                    {
                        "asset_url": url,
                        "round": round_no,
                        "pattern": pattern,
                        "filename_fields": fields,
                        "file_type": gfile["file_type"],
                        "ds_name": ds["ds_name"],
                        "raster_count": ds["raster_count"],
                        "array_type": ds["array_type"],
                        "x_size": ds["x_size"],
                        "y_size": ds["y_size"],
                        "proj_wkt": ds["proj_wkt"],
                        "geotransform": ds["geotransform"],
                        "proj4": proj4_of_wkt_py(ds["proj_wkt"]),
                        "polygon": polygon_wkt_py(
                            ds["geotransform"], ds["x_size"], ds["y_size"]
                        ),
                        "timestamps": times,
                    }
                )
            counters["assets_extracted"] += emitted

        if self.adaptive_budget:
            # the engine derives the same rows from its latest host_log
            self.prev_err = {
                h: (d["fetched"] + d["missing"], d["missing"])
                for h, d in per_host.items()
                if d["fetched"] + d["missing"] > 0
            }
        if self.carryover:
            new_carry = {}
            for host, h in per_host.items():
                base = self.budgets.get(host, DEFAULT_BUDGET)
                c = min(eff[host] - h["fetched"] - h["missing"], base)
                if c > 0:
                    new_carry[host] = c
            self.carry = new_carry

        for host, h in sorted(per_host.items()):
            self.host_log.append(
                {
                    "round": round_no,
                    "host": host,
                    "fetched": h["fetched"],
                    "missing": h["missing"],
                    "deferred_politeness": h["n_pending"] - h["fetched"] - h["missing"],
                }
            )
        self.counters_log.append({"round": round_no, **counters})
        return counters

    # ------------------------------------------------------------------
    def stale_urls(self, max_age_rounds: int, latest_round: int) -> list[str]:
        """Twin of CrawlEngine.stale_urls — urls last fetched (or found
        missing) more than ``max_age_rounds`` before ``latest_round``.
        The engine derives latest_round from its manifest; the oracle has
        no manifest, so the caller passes the matching round number."""
        cutoff = latest_round - max_age_rounds
        return sorted(
            u
            for u, row in self.frontier.items()
            if row["status"] in ("fetched", "missing")
            and row["fetch_round"] is not None
            and row["fetch_round"] <= cutoff
        )

    def stale_by_sitemap(self) -> list[str]:
        """Twin of CrawlEngine.stale_by_sitemap: fetched urls whose max
        advertised sitemap <lastmod> is newer than the warc_ts of their
        last-fetched snapshot."""
        return sorted(
            u
            for u, lm in self.sitemap_lastmod.items()
            if u in self.fetched_ts and lm > self.fetched_ts[u]
        )

    # ------------------------------------------------------------------
    def set_pages(self, pages: pd.DataFrame) -> None:
        """Twin of CrawlEngine.set_pages: swap the fetchable corpus for a
        new snapshot so refreshed urls observe changed content.  Frontier,
        seen set, and budget state are untouched."""
        self.pages = {r.url: r for r in pages.itertuples()}

    # ------------------------------------------------------------------
    def refresh(self, urls) -> int:
        """Twin of CrawlEngine.refresh: reset fetched/missing frontier
        rows of the given urls to pending (fetch bookkeeping cleared);
        unknown or still-pending urls are ignored.  The caller then runs
        more rounds — numbering note: the engine's refresh COMMITS a
        round of its own, so the next engine fetch round is
        latest+2; mirror by calling run_round with that number."""
        n = 0
        for u in sorted({canonicalize_url(u) for u in urls}):
            row = self.frontier.get(u)
            if row is not None and row["status"] in ("fetched", "missing"):
                row["status"] = "pending"
                row["fetch_round"] = None
                row["fetch_seq"] = None
                n += 1
        return n

    # ------------------------------------------------------------------
    def run(self, max_rounds: int = 100) -> None:
        self.init_state()
        r = 1
        while r <= max_rounds:
            if self.run_round(r) is None:
                break
            r += 1

    # ------------------------------------------------------------------
    def seen_urls(self) -> list[str]:
        return sorted(u for u, _ in self.admitted)

    def extracted_sha(self) -> dict[str, str]:
        return {
            u: hashlib.sha256(t.encode("utf-8")).hexdigest()
            for u, t in self.extracted.items()
        }
