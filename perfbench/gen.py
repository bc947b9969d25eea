"""Seeded load generators for the two workloads.

Every generator is a pure function of its ``seed`` (``random.Random`` and
``synth``'s blake2b keys — no wall clock, no global RNG), so the same seed
gives the same inputs.  The generators also return the values the
correctness checks compare against, derived from what they generated —
never from running the program under test.
"""

from __future__ import annotations

import itertools
import random
from collections import Counter
from dataclasses import dataclass

import pandas as pd

from geocrawl_spark import synth

# --- admit_burst ------------------------------------------------------------

#: share of logical URLs that get one extra, non-canonical spelling
DUP_SHARE = 0.25
#: share of logical URLs under /private/
PRIVATE_SHARE = 0.10
#: zipf exponent of the host mass (hot hosts force politeness salting)
ZIPF_S = 1.1


def _admit_host(seed: int, h: int) -> str:
    return f"h{h}.s{seed}.bench.example"


def _host_denies_private(h: int) -> bool:
    """Three hosts in four disallow /private/ in robots."""
    return h % 4 != 3


def _variant(rnd: random.Random, host: str, path: str, k: int) -> str:
    """A spelling of http://{host}{path} that canonicalizes back to it."""
    v = rnd.randrange(4)
    if v == 0:
        return f"HTTP://{host.upper()}:80{path}"
    if v == 1:
        return f"http://{host}{path}#s{k}"
    if v == 2:
        return f"http://{host}/x{k % 7}/..{path}"
    return f"  http://{host}/.{path}"


@dataclass
class AdmitInputs:
    urls: list[str]  # raw seed spellings, shuffled
    robots: pd.DataFrame  # host, disallow, allow
    hostbudget: pd.DataFrame  # host, budget
    distinct: int  # logical URLs == distinct canonical URLs
    denied: int  # logical URLs a robots rule denies
    popped: int  # round-1 batch size: sum over hosts of min(budget, allowed)


def admit_inputs(seed: int, n_logical: int, n_hosts: int) -> AdmitInputs:
    rnd = random.Random(seed)
    cum = list(itertools.accumulate(1.0 / (i + 1) ** ZIPF_S for i in range(n_hosts)))
    host_of = rnd.choices(range(n_hosts), cum_weights=cum, k=n_logical)
    urls: list[str] = []
    allowed: Counter = Counter()
    denied = 0
    for k, h in enumerate(host_of):
        host = _admit_host(seed, h)
        private = rnd.random() < PRIVATE_SHARE
        path = f"/private/{k}.html" if private else f"/p/{k}.html"
        urls.append(f"http://{host}{path}")
        if rnd.random() < DUP_SHARE:
            urls.append(_variant(rnd, host, path, k))
        if private and _host_denies_private(h):
            denied += 1
        else:
            allowed[host] += 1
    rnd.shuffle(urls)
    hosts = [_admit_host(seed, h) for h in range(n_hosts)]
    budgets = {host: 1 + rnd.randrange(16) for host in hosts}
    robots = pd.DataFrame(
        {
            "host": hosts,
            "disallow": [["/private/"] if _host_denies_private(h) else [] for h in range(n_hosts)],
            "allow": [[] for _ in hosts],
        }
    )
    hostbudget = pd.DataFrame({"host": hosts, "budget": [budgets[h] for h in hosts]})
    popped = sum(min(budgets[h], n) for h, n in allowed.items())
    return AdmitInputs(urls, robots, hostbudget, n_logical, denied, popped)


# --- crawl_rounds -----------------------------------------------------------


def _robots_txt(row) -> str:
    lines = ["User-agent: *"]
    if not len(row["disallow"]):
        lines.append("Disallow:")
    lines += [f"Disallow: {d}" for d in row["disallow"]]
    lines += [f"Allow: {a}" for a in row["allow"]]
    return "\n".join(lines) + "\n"


@dataclass
class CrawlInputs:
    pages: pd.DataFrame  # synth graph plus one robots.txt page per host
    seeds: pd.DataFrame  # url
    robots: pd.DataFrame  # the rules the robots.txt pages encode (oracle input)
    hostbudget: pd.DataFrame  # host, budget


def crawl_inputs(
    seed: int, n_pages: int, n_hosts: int, seeds_per_host: int, max_budget: int
) -> CrawlInputs:
    """A ``synth.gen_pages`` graph whose robots rules live in robots.txt
    pages (so the engine's robots dimension comes from
    ``robots.bootstrap_robots``), several seeds per host, and per-host
    budgets below the seed count so politeness defers work from round 1."""
    pages = synth.gen_pages(n_pages, n_hosts, seed=seed)
    robots = synth.gen_robots(n_hosts, seed=seed)
    extra = []
    for i in range(n_hosts):
        url = f"http://{synth.host_name(i)}/robots.txt"
        extra.append(
            {
                "url": url,
                "warc_ts": synth.page_ts(seed, url),
                "html": b"",
                "text": _robots_txt(robots.iloc[i]),
                "lang": "en",
            }
        )
    pages = pd.concat([pages, pd.DataFrame(extra)], ignore_index=True)
    counts = synth.page_counts(n_pages, n_hosts)
    seeds = pd.DataFrame(
        {
            "url": [
                synth.page_url(seed, i, j)
                for i in range(n_hosts)
                for j in range(min(seeds_per_host, counts[i]))
            ]
        }
    )
    # the same budgets for every seed, so every seed fetches about as much
    hostbudget = pd.DataFrame(
        {
            "host": [synth.host_name(i) for i in range(n_hosts)],
            "budget": [1 + i % max_budget for i in range(n_hosts)],
        }
    )
    return CrawlInputs(pages, seeds, robots, hostbudget)
