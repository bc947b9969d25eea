"""Sharded URL-seen filter — the graft's central dedup operator.

In the reference, uniqueness is a *property of the tree walk* (each file
visited exactly once, geolib/walkers.go:53-58); a web frontier has cycles,
so the graft makes the seen-set explicit (SURVEY.md C2/H2).

Design for 10^10 URLs: the seen-set is hash-range sharded into N blobs
(``seen_shards(shard_id, blob, n_items)``).  Candidates are routed to
shards by ``pmod(xxhash64(url), N)`` JVM-side, then each shard's
candidates are co-grouped with its blob via
``groupBy(shard).cogroup(...).applyInPandas`` — a single co-partitioned
pass, NOT a 10^10-row anti-join.  Membership math inside the UDF is pure
numpy over the two JVM-computed 64-bit hashes (no per-row Python).

Three blob codecs with one wire protocol:
- ``exact``  — sorted uint64 array of h1 values (test/golden mode; also a
  legitimate production mode at ~8 bytes/url);
- ``bloom``  — classic Bloom bitset, k probes by double hashing
  idx_i = (h1 + i*h2) mod m (Kirsch-Mitzenmacher).  Sizing at k=7:
  FPR = (1 - e^{-7/b})^7 for b bits/key — ~1.0% at b=9.6 (1.2 GB per
  10^9 urls/shard), ~0.1% at b=14.4 (1.8 GB).  A 1e-9 FPR target needs
  b≈43 and k≈30 (~5.4 GB per 10^9); for a crawl frontier ~0.1% is the
  right trade (an FP merely skips one URL, deterministically).  Sizing
  discussion follows Vacuum Filters (VLDB'19) notes in PAPERS.md.
- ``cuckoo`` — cuckoo filter (Fan et al., CoNEXT'14): buckets of 4
  16-bit fingerprints, two candidate buckets per key
  (i2 = i1 XOR hash(fp)), displacement ("kick") relocation on overflow.
  FPR ≈ 2*slots/2^16 ≈ 0.012% at ~16.8 bits/key (95% load) — between
  the bloom presets — and, unlike bloom, it supports DELETION, which is
  what earns it the slot next to Bloom in the north-star design: a
  politeness retraction (un-admit a URL whose fetch was withdrawn) is a
  fingerprint delete, not a filter rebuild.  Insertion order affects
  which bucket a fingerprint lands in, so :func:`_insert` sorts the
  batch by h1 first — the layout is then a pure function of (prior
  state, batch set) and the Spark/Python twins stay bit-identical.

A third, pure-JVM representation of the SAME bloom filter lives in
:func:`filter_and_update_bitmap` below — the bitset is stored as rows
(one 64-bit word per row) instead of a binary blob, so membership and
insert stay entirely in Tungsten (no Arrow crossing).  All three agree
bit-for-bit on probe positions when ``m_bits`` is a power of two.

The pure-Python twin (:class:`PySeenFilter`) uses the same hash values
(hashing.py == Spark's xxhash64 bit-for-bit), so pyref and Spark agree
exactly, including any (deterministic) bloom false positives.
"""

from __future__ import annotations

import struct
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import url_hash, url_hash2

_MASK = (1 << 64) - 1
H2_SUFFIX = "#h2"  # second-hash domain separator (same in JVM + Python)

EXACT_MAGIC = b"EXCT"
BLOOM_MAGIC = b"BLM1"
CUCKOO_MAGIC = b"CKF1"

#: cuckoo geometry: 4 fingerprints per bucket (the CoNEXT'14 sweet spot —
#: 95% achievable load), 16-bit fingerprints, partial-key displacement
#: i2 = i1 XOR (fp * odd_const mod B).  The multiplier decorrelates the
#: XOR offset from the fingerprint value (same role as the paper's
#: hash(fp)); B is a power of two so XOR never leaves the table.
_CK_SLOTS = 4
_CK_FP_MULT = np.uint64(0x5BD1E995)
_CK_MAX_KICKS = 500


# ---------------------------------------------------------------------------
# blob codecs (shared by Spark UDF and PySeenFilter)
# ---------------------------------------------------------------------------

def empty_blob(mode: str, m_bits: int, k: int) -> bytes:
    if mode == "exact":
        return EXACT_MAGIC
    if mode == "cuckoo":
        # m_bits = total table bits, same sizing knob as bloom:
        # n_buckets = m_bits / (16 bits/fp * 4 slots); capacity ~= 0.95 * m_bits/16
        n_buckets = m_bits // (16 * _CK_SLOTS)
        assert n_buckets and n_buckets & (n_buckets - 1) == 0, (
            "cuckoo m_bits must give a power-of-two bucket count"
        )
        return (
            CUCKOO_MAGIC
            + struct.pack("<QQ", n_buckets, _CK_SLOTS)
            + bytes(2 * n_buckets * _CK_SLOTS)
        )
    return BLOOM_MAGIC + struct.pack("<QQ", m_bits, k) + bytes((m_bits + 7) // 8)


def _decode(blob: bytes):
    if blob[:4] == EXACT_MAGIC:
        return "exact", np.frombuffer(blob[4:], dtype=np.uint64), None, None
    if blob[:4] == CUCKOO_MAGIC:
        n_buckets, slots = struct.unpack("<QQ", blob[4:20])
        return "cuckoo", np.frombuffer(blob[20:], dtype=np.uint16), n_buckets, slots
    m_bits, k = struct.unpack("<QQ", blob[4:20])
    bits = np.frombuffer(blob[20:], dtype=np.uint8)
    return "bloom", bits, m_bits, k


def _ck_fp(h1: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint from the TOP bits of h1 (the bucket
    index uses the low bits, so fp and index stay independent)."""
    f = (h1 >> np.uint64(48)) & np.uint64(0xFFFF)
    return np.where(f == 0, np.uint64(1), f).astype(np.uint16)


def _ck_i1(h1: np.ndarray, n_buckets: int) -> np.ndarray:
    """Bucket index from the MIDDLE bits: the shard router consumes the
    low bits (pmod(h1, n_shards)), so within one shard the low bits are
    constant — indexing on them would pile the whole shard into one
    bucket.  Bits 16..48 are untouched by both the router and the
    fingerprint (top 16)."""
    return ((h1 >> np.uint64(16)) & np.uint64(n_buckets - 1)).astype(np.int64)


def _ck_alt(i: np.ndarray, f: np.ndarray, n_buckets: int) -> np.ndarray:
    """Partner bucket: i XOR hash(fp) — an involution, so either bucket
    recovers the other from the stored fingerprint alone (what makes
    displacement and deletion possible without storing the key)."""
    mask = np.uint64(n_buckets - 1)
    return (
        i.astype(np.uint64) ^ ((f.astype(np.uint64) * _CK_FP_MULT) & mask)
    ).astype(np.int64)


def _ck_contains(tbl: np.ndarray, n_buckets: int, slots: int, h1: np.ndarray):
    t2 = tbl.reshape(n_buckets, slots)
    f = _ck_fp(h1)
    i1 = _ck_i1(h1, n_buckets)
    i2 = _ck_alt(i1, f, n_buckets)
    fcol = f[:, None]
    return (t2[i1] == fcol).any(axis=1) | (t2[i2] == fcol).any(axis=1)


def _ck_insert(t2: np.ndarray, n_buckets: int, slots: int, h1: np.ndarray) -> None:
    """Insert a batch into a WRITABLE (n_buckets, slots) table, in place.

    Vectorized two-phase placement (fill free slots of i1 buckets, then of
    i2 buckets) + a sequential displacement loop for the residue — at sane
    load the residue is empty, so the numpy phases do all the work.  The
    batch is processed in h1-sorted order, making the final layout a pure
    function of (prior table, batch set) regardless of caller ordering.
    Buckets keep fingerprints PACKED (occupied slots first) — insert fills
    the first free slot and delete back-swaps — so occupancy is a count.
    """
    order = np.argsort(h1, kind="stable")
    hs = h1[order]
    f_all = _ck_fp(hs)
    i1_all = _ck_i1(hs, n_buckets)
    occ = np.count_nonzero(t2, axis=1).astype(np.int64)

    def fill(idx_b: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Place as many (bucket, fp) pairs as the buckets have free
        slots; returns the placed mask (input order)."""
        o = np.argsort(idx_b, kind="stable")
        ib, fb = idx_b[o], fps[o]
        starts = np.flatnonzero(np.r_[True, ib[1:] != ib[:-1]])
        lens = np.diff(np.r_[starts, len(ib)])
        ranks = np.arange(len(ib)) - np.repeat(starts, lens)
        put = ranks < (slots - occ[ib])
        t2[ib[put], (occ[ib] + ranks)[put]] = fb[put]
        np.add.at(occ, ib[put], 1)
        placed = np.zeros(len(ib), dtype=bool)
        placed[o] = put
        return placed

    placed1 = fill(i1_all, f_all)
    rem = np.flatnonzero(~placed1)
    if not len(rem):
        return
    placed2 = fill(_ck_alt(i1_all[rem], f_all[rem], n_buckets), f_all[rem])
    for j in rem[~placed2]:
        # classic kick loop: both candidate buckets full — displace a
        # victim (slot chosen deterministically from fp + kick count) and
        # re-home it in ITS partner bucket, repeating up to the bound
        cur_f, i = f_all[j], int(i1_all[j])
        for kick in range(_CK_MAX_KICKS):
            if occ[i] < slots:
                t2[i, occ[i]] = cur_f
                occ[i] += 1
                break
            v = (int(cur_f) + kick) % slots
            victim = t2[i, v]
            t2[i, v] = cur_f
            cur_f = victim
            i = int(_ck_alt(np.array([i]), np.array([cur_f]), n_buckets)[0])
        else:
            raise RuntimeError(
                "cuckoo filter over capacity — size m_bits for the expected "
                "shard load (achievable load factor is ~0.95)"
            )


def _ck_delete(t2: np.ndarray, n_buckets: int, slots: int, h1: np.ndarray) -> np.ndarray:
    """Remove ONE stored fingerprint per key (the cuckoo differentiator —
    bloom cannot do this).  Per-item loop: retractions are rare events,
    not the hot path.  Returns the removed mask."""
    f = _ck_fp(h1)
    i1 = _ck_i1(h1, n_buckets)
    i2 = _ck_alt(i1, f, n_buckets)
    removed = np.zeros(len(h1), dtype=bool)
    for j in range(len(h1)):
        for b in (int(i1[j]), int(i2[j])):
            row = t2[b]
            hit = np.flatnonzero(row == f[j])
            if len(hit):
                last = np.count_nonzero(row) - 1
                row[hit[0]] = row[last]  # keep the bucket packed
                row[last] = 0
                removed[j] = True
                break
    return removed


def _contains(blob: bytes, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    mode, data, m_bits, k = _decode(blob)
    if mode == "cuckoo":
        return _ck_contains(data, m_bits, k, h1)  # (n_buckets, slots) ride the header slots
    if mode == "exact":
        # blob is kept sorted -> binary search beats np.isin's hashing
        if len(data) == 0:
            return np.zeros(len(h1), dtype=bool)
        idx = np.searchsorted(data, h1)
        # idx == len(data) means h1 > max(data), so it cannot match data[0]
        idx[idx == len(data)] = 0
        return data[idx] == h1
    seen = np.ones(len(h1), dtype=bool)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
        seen &= (data[(idx >> np.uint64(3)).astype(np.int64)] & (1 << (idx & np.uint64(7))).astype(np.uint8)) != 0
    return seen


def _insert(blob: bytes, h1: np.ndarray, h2: np.ndarray) -> bytes:
    mode, data, m_bits, k = _decode(blob)
    if mode == "cuckoo":
        t2 = data.reshape(m_bits, k).copy()  # header (n_buckets, slots)
        _ck_insert(t2, m_bits, k, h1)
        return blob[:20] + t2.tobytes()
    if mode == "exact":
        # data is already sorted — merge the (small) fresh batch in at
        # O(S + B log B) instead of re-sorting the whole blob
        add = np.sort(h1.astype(np.uint64))
        merged = np.insert(data, np.searchsorted(data, add), add)
        return EXACT_MAGIC + merged.tobytes()
    bits = data.copy()
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
        np.bitwise_or.at(
            bits,
            (idx >> np.uint64(3)).astype(np.int64),
            (1 << (idx & np.uint64(7))).astype(np.uint8),
        )
    return BLOOM_MAGIC + struct.pack("<QQ", m_bits, k) + bits.tobytes()


def delete_from_blob(blob: bytes, h1: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Retract keys from a deletable blob: (new_blob, removed_mask).

    ``cuckoo`` removes one matching fingerprint per key; ``exact``
    removes the hash from the sorted array.  ``bloom`` raises — a Bloom
    bitset cannot delete, which is precisely why the north-star design
    pairs it with cuckoo as the alternative codec.
    """
    mode, data, a, b = _decode(blob)
    if mode == "cuckoo":
        t2 = data.reshape(a, b).copy()
        removed = _ck_delete(t2, a, b, h1)
        return blob[:20] + t2.tobytes(), removed
    if mode == "exact":
        if len(data) == 0:
            return blob, np.zeros(len(h1), dtype=bool)
        # set semantics under duplicate keys in one batch: dedupe first —
        # np.delete with a repeated index removes ONE array element while
        # the naive mask would claim N removals, drifting any n_items
        # counter driven by it.  Only the first occurrence of each present
        # key is flagged, so removed.sum() == elements actually deleted.
        uniq, first_idx = np.unique(h1, return_index=True)
        pos = np.searchsorted(data, uniq)
        pos[pos == len(data)] = 0
        present = data[pos] == uniq
        removed = np.zeros(len(h1), dtype=bool)
        removed[first_idx[present]] = True
        return EXACT_MAGIC + np.delete(data, pos[present]).tobytes(), removed
    raise ValueError("bloom blobs do not support deletion — use mode='cuckoo'")


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

def with_hash_cols(df: DataFrame, url_col: str, n_shards: int) -> DataFrame:
    """JVM-side hash + shard routing columns (no Python)."""
    return (
        df.withColumn("h1", F.xxhash64(url_col))
        .withColumn("h2", F.xxhash64(F.concat(F.col(url_col), F.lit(H2_SUFFIX))))
        .withColumn("shard_id", F.pmod(F.col("h1"), F.lit(n_shards)))
    )


def init_shards(spark, mode: str, n_shards: int, m_bits: int, k: int) -> DataFrame:
    blob = empty_blob(mode, m_bits, k)
    pdf = pd.DataFrame(
        {"shard_id": range(n_shards), "blob": [blob] * n_shards, "n_items": [0] * n_shards}
    )
    return spark.createDataFrame(pdf, "shard_id long, blob binary, n_items long")


_OUT_SCHEMA = (
    "shard_id long, row_kind string, url string, depth long, kind string, "
    "blob binary, n_items long, n_cand long, n_fresh long"
)


def _make_cogroup_fn(mode: str, m_bits: int, k: int):
    def fn(key, cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        shard_id = int(key[0])
        blob = shard["blob"].iloc[0] if len(shard) else empty_blob(mode, m_bits, k)
        n_items = int(shard["n_items"].iloc[0]) if len(shard) else 0
        parts = []
        if len(cand):
            # dedupe within batch deterministically: sort by (h1, depth) and
            # keep the first per h1 — integer sort is far cheaper than a
            # string sort, and equals url-dedup-by-min-depth (64-bit hash
            # collisions are ~2^-64 per pair and deterministic anyway)
            cand = cand.sort_values(["h1", "depth"], kind="stable").drop_duplicates(
                "h1", keep="first"
            )
            h1 = cand["h1"].to_numpy(dtype=np.int64).view(np.uint64)
            h2 = cand["h2"].to_numpy(dtype=np.int64).view(np.uint64)
            seen = _contains(blob, h1, h2)
            fresh = cand[~seen]
            if len(fresh):
                f1 = fresh["h1"].to_numpy(dtype=np.int64).view(np.uint64)
                f2 = fresh["h2"].to_numpy(dtype=np.int64).view(np.uint64)
                blob = _insert(blob, f1, f2)
                n_items += len(fresh)
            parts.append(
                pd.DataFrame(
                    {
                        "shard_id": shard_id,
                        "row_kind": "url",
                        "url": fresh["url"],
                        "depth": fresh["depth"],
                        "kind": fresh["kind"],
                        "blob": None,
                        "n_items": 0,
                        "n_cand": 0,
                        "n_fresh": 0,
                    }
                )
            )
            # per-kind admission stats (saves the caller a distinct-count job)
            stats = (
                cand.assign(_f=~seen)
                .groupby("kind")
                .agg(n_cand=("url", "size"), n_fresh=("_f", "sum"))
                .reset_index()
            )
            parts.append(
                pd.DataFrame(
                    {
                        "shard_id": shard_id,
                        "row_kind": "stat",
                        "url": None,
                        "depth": 0,
                        "kind": stats["kind"],
                        "blob": None,
                        "n_items": 0,
                        "n_cand": stats["n_cand"].astype("int64"),
                        "n_fresh": stats["n_fresh"].astype("int64"),
                    }
                )
            )
        parts.append(
            pd.DataFrame(
                {
                    "shard_id": [shard_id],
                    "row_kind": ["blob"],
                    "url": [None],
                    "depth": [0],
                    "kind": [None],
                    "blob": [blob],
                    "n_items": [n_items],
                    "n_cand": [0],
                    "n_fresh": [0],
                }
            )
        )
        return pd.concat(parts, ignore_index=True)

    return fn


def filter_and_update(
    candidates: DataFrame,
    shards: DataFrame,
    mode: str = "exact",
    n_shards: int = 8,
    m_bits: int = 1 << 23,
    k: int = 7,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(fresh_candidates(url, depth, kind), updated_shards, persisted_parent)
    in ONE shuffle + ONE execution.

    ``candidates`` needs columns (url, depth) and optionally ``kind`` (a
    candidate-class passthrough, defaulted to 'page').  The cogroup output
    is persisted so the fresh/blob split does not recompute the filter;
    the caller unpersists the returned parent when done.
    """
    if "kind" not in candidates.columns:
        candidates = candidates.withColumn("kind", F.lit("page"))
    cand = with_hash_cols(candidates.select("url", "depth", "kind"), "url", n_shards)
    out = (
        cand.groupBy("shard_id")
        .cogroup(shards.groupBy("shard_id"))
        .applyInPandas(_make_cogroup_fn(mode, m_bits, k), _OUT_SCHEMA)
    ).persist()
    fresh = out.filter(F.col("row_kind") == "url").select("url", "depth", "kind")
    new_shards = out.filter(F.col("row_kind") == "blob").select(
        "shard_id", "blob", "n_items"
    )
    return fresh, new_shards, out


# ---------------------------------------------------------------------------
# JVM-only strategy: hash anti-join (no Python crossing)
# ---------------------------------------------------------------------------

def filter_and_update_anti(
    candidates: DataFrame, seen_hashes: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Exact seen-filter as a pure JVM anti-join against a table of
    xxhash64 values — zero Arrow/Python crossings, whole plan stays in
    Tungsten.  Same contract as :func:`filter_and_update`.

    Trade-off vs the sharded-blob cogroup: in this in-memory form,
    Catalyst shuffles BOTH sides of the join every round (the seen
    table grows with the crawl), so below ~10^8 it is simpler AND
    faster but degrades beyond that.  The 10^10 deployment of the same
    plan stores ``seen_hashes`` as an Iceberg table bucketed by
    ``bucket(N, h1)`` with candidates repartitioned to the same
    buckets: a storage-partitioned join — only the (bounded) candidate
    batch shuffles, and the update APPENDS fresh h1 rows to their
    buckets instead of rewriting the table.  For a state that is
    cheaper still per round, see :func:`filter_and_update_bitmap`.

    ``seen_hashes`` is (h1 long); returns (fresh(url, depth, kind),
    new_seen_hashes, dedup_stats_df, persisted_parent) where stats has
    (kind, n_cand, n_fresh) — same numbers as :func:`admission_stats`
    provides; caller unpersists the parent when done.
    """
    if "kind" not in candidates.columns:
        candidates = candidates.withColumn("kind", F.lit("page"))
    cand = candidates.select("url", "depth", "kind").withColumn(
        "h1", F.xxhash64("url")
    )
    # within-batch dedup: min depth per hash (deterministic)
    w_cand = (
        cand.groupBy("h1")
        .agg(
            F.min(F.struct("depth", "url", "kind")).alias("s"),
            F.count("*").alias("_dups"),
        )
        .select("h1", "s.url", "s.depth", "s.kind")
    )
    fresh = w_cand.join(seen_hashes, "h1", "left_anti").persist()
    new_seen = seen_hashes.unionByName(fresh.select("h1"))
    stats = (
        w_cand.join(fresh.select("h1", F.lit(True).alias("_f")), "h1", "left")
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_cand"),
            F.count("_f").alias("n_fresh"),
        )
    )
    return fresh.select("url", "depth", "kind"), new_seen, stats, fresh


def init_hashes(spark) -> DataFrame:
    """Empty seen-hash table for the anti-join strategy: (h1 long)."""
    return spark.range(0).select(F.xxhash64(F.col("id").cast("string")).alias("h1"))


def create_bucketed_seen_table(
    spark, name: str = "seen_hashes", n_buckets: int = 64, df: DataFrame | None = None
) -> None:
    """Materialize the seen-hash set as a BUCKETED catalog table — the
    production storage layout of the anti-join strategy (Iceberg
    ``bucket(N, h1)`` partitioning on a real deployment).  The input is
    pre-repartitioned to the bucket hash so every bucket lands in exactly
    ONE sorted file (the compacted state — appends add files per bucket;
    real Iceberg re-compacts periodically)."""
    src = df if df is not None else init_hashes(spark)
    src.repartition(n_buckets, "h1").write.bucketBy(n_buckets, "h1").sortBy(
        "h1"
    ).mode("overwrite").saveAsTable(name)


def seen_store_name(base_dir: str) -> str:
    """Catalog name for a crawl's persistent seen store — derived from the
    snapshot directory so engines over different crawls never collide in
    the shared session catalog."""
    import hashlib
    import os

    digest = hashlib.md5(os.path.abspath(base_dir).encode()).hexdigest()[:12]
    return f"seen_store_{digest}"


def ensure_seen_store(
    spark, base_dir: str, n_buckets: int = 64, fresh: bool = False
) -> str:
    """Create or re-register the engine's persistent seen store: an
    EXTERNAL parquet table under ``base_dir/seen_store``, PARTITIONED BY
    round and CLUSTERED BY h1 into ``n_buckets`` buckets (the sandbox
    stand-in for an Iceberg table partitioned by round and bucketed by
    ``bucket(N, h1)``).

    The round partition column is what makes O(fresh) appends SAFE under
    the manifest commit protocol: every reader filters
    ``round <= last_committed_round`` (partition pruning), so rows
    appended by an uncommitted or crashed round are invisible without any
    cleanup, and a re-run after rollback replaces its own partition via
    dynamic partition overwrite (idempotent).

    ``fresh=True`` drops any existing table AND its files (crawl restart);
    otherwise an existing location is re-registered (resume in a new
    session) with ``recoverPartitions`` so prior rounds are visible.
    """
    import os
    import shutil

    name = seen_store_name(base_dir)
    loc = os.path.join(os.path.abspath(base_dir), "seen_store")
    if fresh:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(loc, ignore_errors=True)
    if not spark.catalog.tableExists(name):
        had_data = os.path.exists(loc)
        os.makedirs(loc, exist_ok=True)
        spark.sql(
            f"CREATE TABLE {name} (h1 BIGINT, round BIGINT) USING PARQUET "
            f"PARTITIONED BY (round) CLUSTERED BY (h1) SORTED BY (h1) "
            f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
        )
        if had_data:
            spark.catalog.recoverPartitions(name)
    return name


def _store_partitions(base_dir: str) -> dict[int, str]:
    """{round_value: partition_dir} for an abucket store's on-disk layout."""
    import os

    loc = os.path.join(os.path.abspath(base_dir), "seen_store")
    out: dict[int, str] = {}
    if not os.path.isdir(loc):
        return out
    for entry in os.listdir(loc):
        if entry.startswith("round="):
            try:
                out[int(entry.split("=", 1)[1])] = os.path.join(loc, entry)
            except ValueError:
                continue
    return out


def compact_seen_store(
    spark, base_dir: str, n_buckets: int, upto_round: int, io=None
) -> dict | None:
    """Rewrite every committed partition ``round <= upto_round`` of the
    abucket seen store into ONE base partition — the sandbox analog of
    Iceberg's ``rewrite_data_files`` + ``expire_snapshots``.  Without it a
    10^4-round crawl accumulates rounds x n_buckets files and the
    per-round membership scan opens them all (VERDICT r3 missing #2);
    with periodic compaction the file count stays bounded by
    n_buckets x (compact interval + 1).

    Protocol (crash-safe at every step, same discipline as the round
    manifest):

    1. the base partition id is ``min(existing partition values) - 1`` —
       strictly decreasing and ALWAYS NEGATIVE, so every reader's
       ``round <= upto`` filter (upto >= 0) keeps the base visible
       without any reader-side change;
    2. all rows of partitions ``<= upto_round`` are INSERTED into the new
       base (dynamic overwrite of only that partition).  A crash mid-write
       leaves a partial base beside the intact sources: readers see
       duplicate h1 rows, which the anti-join semantics make harmless —
       no hash is ever lost;
    3. only after the write completes, the compaction is made durable in
       the round manifest (``seen_compaction`` meta via ``io`` — the gate
       demanded by the manifest protocol), and THEN the merged source
       partitions are deleted + the catalog re-synced.  A crash between
       3a and 3b re-deletes on the next compaction.

    Compaction intentionally bounds rollback depth: hashes merged into
    the base cannot be un-merged, so ``TableIO.rollback_to(r)`` with
    ``r < upto_round`` refuses (the exact trade Iceberg's
    ``expire_snapshots`` makes against time travel).

    Returns {"base": id, "upto": R, "merged": k, "files_before": a,
    "files_after": b} or None when nothing needed compacting.
    """
    import os
    import shutil

    table = ensure_seen_store(spark, base_dir, n_buckets)
    parts = _store_partitions(base_dir)
    to_merge = {v: p for v, p in parts.items() if v <= upto_round}
    if len(to_merge) <= 1:
        return None
    new_base = min(parts) - 1 if min(parts) < 0 else -1

    def n_files(dirs):
        return sum(
            sum(1 for f in os.listdir(d) if not f.startswith((".", "_")))
            for d in dirs
            if os.path.isdir(d)
        )

    files_before = n_files(to_merge.values())
    # Read the source PARTITION DIRECTORIES as plain parquet rather than
    # through the catalog table: partition pruning becomes explicit (only
    # the merged rounds' files are opened), and — load-bearing — the scan
    # reports UNKNOWN output partitioning, so the repartition below is a
    # real Exchange.  A bucketed-table scan advertises the bucket
    # partitioning, Catalyst elides the "redundant" repartition, and the
    # write then emits one file per (input task x bucket) instead of the
    # one-file-per-bucket fully-compacted state.
    src = (
        spark.read.parquet(*to_merge.values())
        .select("h1")
        # pre-shuffle to the bucket layout so each bucket lands in ONE
        # sorted file — the fully-compacted state
        .repartition(n_buckets, "h1")
        # crash-window self-heal: a kill mid-step-2 leaves a partial base
        # partition whose rows duplicate intact sources (tolerated —
        # membership is an anti-join), and the NEXT compaction reads both;
        # dedup here or those duplicates would persist in every future
        # base, growing storage forever.  The aggregate sits on top of the
        # aligning Exchange (same h1 hash partitioning), so the
        # one-file-per-bucket layout is preserved.
        .dropDuplicates(["h1"])
        .select("h1", F.lit(new_base).cast("long").alias("round"))
    )
    conf = spark.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        src.write.mode("overwrite").insertInto(table)
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    meta = {"base": new_base, "upto": upto_round}
    if io is not None:
        io.set_meta("seen_compaction", meta)  # durable BEFORE any delete
    for v, p in to_merge.items():
        shutil.rmtree(p, ignore_errors=True)
    spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
    new_dir = _store_partitions(base_dir).get(new_base)
    return {
        **meta,
        "merged": len(to_merge),
        "files_before": files_before,
        "files_after": n_files([new_dir] if new_dir else []),
    }


def filter_and_update_abucket(
    candidates: DataFrame,
    spark,
    table: str,
    n_buckets: int,
    upto_round: int,
    round_no: int,
):
    """The CrawlEngine production form of the bucketed anti-join seen
    filter (engine ``mode='abucket'``): membership against the persistent
    round-partitioned bucketed store (:func:`ensure_seen_store`), state
    update as an O(fresh) append into partition ``round=round_no``.

    Plan shape (asserted in tests/test_seen.py): the seen side is a
    bucketed FileScan with partition filter ``round <= upto_round`` and NO
    Exchange above it; only the candidate batch shuffles, once, into the
    bucket layout.  Per-round cost: one O(candidates) shuffle + a
    bucket-local scan of the seen table + one O(fresh) partition append —
    never an O(seen) rewrite.

    Unlike :func:`filter_and_update_anti_bucketed` (the bench/library
    form), re-execution of any consumer AFTER the append is harmless: the
    appended rows carry ``round=round_no`` and every read filters
    ``round <= upto_round``, so a cache eviction can never make the
    anti-join see its own output.

    Returns ``(fresh(url, depth, kind), stats(kind, n_cand, n_fresh),
    parents, append_fn)``; ``append_fn()`` writes the fresh hashes with
    dynamic partition overwrite (idempotent re-run); caller unpersists
    ``parents`` when the round is committed.
    """
    if "kind" not in candidates.columns:
        candidates = candidates.withColumn("kind", F.lit("page"))
    cand = candidates.select("url", "depth", "kind").withColumn(
        "h1", F.xxhash64("url")
    )
    # within-batch dedup, pre-shuffled to the bucket layout so the groupBy
    # and the anti-join both reuse the same single Exchange
    w_cand = (
        cand.repartition(n_buckets, "h1")
        .groupBy("h1")
        .agg(F.min(F.struct("depth", "url", "kind")).alias("s"))
        .select("h1", "s.url", "s.depth", "s.kind")
        .persist()
    )
    seen_side = (
        spark.table(table).where(F.col("round") <= F.lit(upto_round)).select("h1")
    )
    fresh = w_cand.join(seen_side, "h1", "left_anti").persist()
    stats = (
        w_cand.join(fresh.select("h1", F.lit(True).alias("_f")), "h1", "left")
        .groupBy("kind")
        .agg(F.count("*").alias("n_cand"), F.count("_f").alias("n_fresh"))
    )

    def append_fn() -> None:
        # dynamic overwrite scoped to THIS write (ADVICE r3: permanently
        # setting the session conf silently changes overwrite semantics of
        # unrelated partitioned writes in the same user session): only the
        # round=round_no partition is replaced — idempotent re-runs — and
        # every other partition is untouched.  The conf is set/restored
        # around the write because the DataFrameWriter-level option is not
        # consulted by the self-read overwrite analysis check (Spark
        # rejects overwrite-of-a-read-table unless the SESSION mode is
        # dynamic), so a writer option alone cannot express this insert.
        conf = spark.conf
        prev = conf.get("spark.sql.sources.partitionOverwriteMode")
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            fresh.select(
                "h1", F.lit(round_no).cast("long").alias("round")
            ).write.mode("overwrite").insertInto(table)
        finally:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return fresh.select("url", "depth", "kind"), stats, [w_cand, fresh], append_fn


def filter_and_update_abucket_flagged(
    candidates: DataFrame,
    spark,
    table: str,
    n_buckets: int,
    upto_round: int,
    round_no: int,
    decorate=None,
):
    """Single-materialization variant of :func:`filter_and_update_abucket`
    for the CrawlEngine hot path (optimization guide §5: one persist
    instead of three).  Same storage-partitioned membership plan — the
    candidate batch shuffles once into the bucket layout, the seen side
    is a bucketed scan with the round partition filter and no Exchange —
    but the membership test is a LEFT join flag (``_seen``) over the
    DEDUPED seen projection instead of an anti-join, the caller's row
    decoration (host / robots columns via ``decorate``) is applied
    before the single ``persist()``, and fresh rows and admission stats
    are cheap scans of that one materialization.

    The seen side is deduped (bucket-local aggregate, no Exchange: the
    grouping key is the bucket key) because compaction crash windows can
    leave duplicate h1 rows across store partitions — harmless to an
    anti-join, row-multiplying for a left join.  The dedup costs one
    O(seen) aggregate per round on top of the O(seen) scan the anti-join
    already paid; the engine's savings (two fewer 2M-row
    materializations per admission pass) dominate at every batch size.

    Returns ``(flagged_all PERSISTED — deduped candidates + decorated
    columns + _seen, stats(kind, n_cand, n_fresh), append_fn)``; fresh
    rows are ``flagged_all.filter(_seen IS NULL)``.  The engine derives
    its own combined stats from ``flagged_all``; ``stats`` serves the
    standalone admission probe (``perfbench/workloads.py``
    ``_seen_probe`` reads ``n_cand``).

    ``append_fn(urls)`` appends ``xxhash64(url)`` over ``urls`` as
    partition ``round=round_no``.  Pass the fresh rows' urls, read from
    storage rather than from ``flagged_all``: every fresh row's url
    hashes to its h1 group, so the set is the fresh h1 set.  Unpersist
    ``flagged_all`` (and every cache derived from it) BEFORE calling it:
    the insert makes Spark re-plan each cached plan that scans the
    store, a cost of seconds per cached plan while it is alive.
    """
    if "kind" not in candidates.columns:
        candidates = candidates.withColumn("kind", F.lit("page"))
    cand = candidates.select("url", "depth", "kind").withColumn(
        "h1", F.xxhash64("url")
    )
    w_cand = (
        cand.repartition(n_buckets, "h1")
        .groupBy("h1")
        .agg(F.min(F.struct("depth", "url", "kind")).alias("s"))
        .select("h1", "s.url", "s.depth", "s.kind")
    )
    seen_side = (
        spark.table(table)
        .where(F.col("round") <= F.lit(upto_round))
        .select("h1")
        .distinct()
        .withColumn("_seen", F.lit(True))
    )
    out = w_cand.join(seen_side, "h1", "left")
    if decorate is not None:
        out = decorate(out)
    out = out.persist()
    stats = out.groupBy("kind").agg(
        F.count("*").alias("n_cand"),
        F.count(F.when(F.col("_seen").isNull(), True)).alias("n_fresh"),
    )

    def append_fn(urls: DataFrame) -> None:
        # dynamic overwrite scoped to this write — identical protocol and
        # rationale as :func:`filter_and_update_abucket`'s append
        conf = spark.conf
        prev = conf.get("spark.sql.sources.partitionOverwriteMode")
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            urls.select(
                F.xxhash64("url").alias("h1"),
                F.lit(round_no).cast("long").alias("round"),
            ).write.mode("overwrite").insertInto(table)
        finally:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return out, stats, append_fn


def filter_and_update_anti_bucketed(
    candidates: DataFrame,
    spark,
    table: str = "seen_hashes",
    n_buckets: int = 64,
) -> DataFrame:
    """The anti-join strategy against PERSISTENT bucketed storage — the
    form that survives 10^10 URLs.

    :func:`filter_and_update_anti` holds the seen set as an in-memory
    DataFrame, so Catalyst reshuffles BOTH join sides every round and the
    shuffle grows with the crawl.  Here the seen set lives in a table
    bucketed by h1 (``create_bucketed_seen_table``): the sort-merge
    anti-join reads the seen side bucket-local with NO Exchange — only
    the bounded candidate batch shuffles (once, to the bucket layout) —
    and the state update APPENDS the fresh h1 rows into their buckets
    instead of rewriting anything.  Per-round cost: one O(candidates)
    shuffle + one parallel scan of the seen table + one O(fresh) append.
    tests/test_seen.py asserts the no-exchange-on-seen-side plan shape.

    Returns (fresh(h1, url, depth, kind) PERSISTED, append_fn).  The
    caller must materialize every read of ``fresh`` BEFORE invoking
    ``append_fn()``: inserting into the table invalidates cached plans
    that scan it, so a read issued after the append would re-run the
    anti-join against the already-updated table and see nothing fresh.
    (A localCheckpoint would remove that ordering requirement but
    measurably doubles the round cost — it materializes the full fresh
    set into block storage.)  Caller unpersists ``fresh`` when done.
    """
    if "kind" not in candidates.columns:
        candidates = candidates.withColumn("kind", F.lit("page"))
    cand = candidates.select("url", "depth", "kind").withColumn(
        "h1", F.xxhash64("url")
    )
    w_cand = (
        cand.repartition(n_buckets, "h1")
        .groupBy("h1")
        .agg(F.min(F.struct("depth", "url", "kind")).alias("s"))
        .select("h1", "s.url", "s.depth", "s.kind")
    )
    fresh = w_cand.join(spark.table(table), "h1", "left_anti").persist()

    def append_fn() -> None:
        fresh.select("h1").write.mode("append").insertInto(table)

    return fresh, append_fn


# ---------------------------------------------------------------------------
# JVM-only strategy: distributed Bloom bitmap stored as (word_id, bits) rows
# ---------------------------------------------------------------------------

def _probe_positions(m_bits: int, k: int) -> list:
    """k Kirsch-Mitzenmacher probe positions as JVM column expressions.

    ``m_bits`` MUST be a power of two: then signed-long low-bit math
    equals the uint64 math of the blob codecs (two's complement), i.e.
    (h1 + i*h2) mod 2^64 mod m == ((h1 & (m-1)) + i*(h2 & (m-1))) & (m-1),
    and each term stays < k*m so nothing overflows under ANSI mode.
    Bit-identical to :func:`_contains`/:func:`_insert` bloom positions
    (verified in tests/test_seen.py::test_bitmap_strategy_matches_blob).
    """
    assert m_bits & (m_bits - 1) == 0, "m_bits must be a power of two"
    m = F.lit(m_bits - 1)
    lo1 = F.col("h1").bitwiseAND(m)
    lo2 = F.col("h2").bitwiseAND(m)
    return [(lo1 + F.lit(i) * lo2).bitwiseAND(m) for i in range(k)]


def _probe_df(df: DataFrame, m_bits: int, k: int) -> DataFrame:
    """(h1, h2, ...) -> k rows per input: (h1, word_id, mask)."""
    return df.select(
        "h1", F.explode(F.array(*_probe_positions(m_bits, k))).alias("pos")
    ).select(
        "h1",
        F.shiftright("pos", 6).alias("word_id"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST((pos & 63) AS INT))").alias("mask"),
    )


def init_bitmap(spark) -> DataFrame:
    """Empty bloom bitmap: rows (word_id long, bits long); absent word == 0."""
    return spark.range(0).select(
        F.col("id").alias("word_id"), F.col("id").alias("bits")
    )


#: bitmaps up to this many 64-bit words (32 MB) broadcast into the
#: membership probe join in :func:`filter_and_update_bitmap`; larger
#: bitmaps (10^9+ urls at 14+ bits/key) keep the shuffled row join.
_BITMAP_BCAST_MAX_WORDS = 1 << 22


def filter_and_update_bitmap(
    candidates: DataFrame,
    bitmap: DataFrame,
    m_bits: int = 1 << 24,
    k: int = 7,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Bloom seen-filter entirely in Tungsten: the bitset is a DataFrame
    of 64-bit words (word_id = bit_position >> 6), membership is an
    equi-join on word_id + bitwise AND, insert is a bit_or aggregation
    merged back by full-outer join.  Zero Arrow/Python crossings.

    This is the 10^10-scale design: at 10^10 URLs and 14.4 bits/key the
    bitmap is ~2.2x10^9 rows (~35 GB), stored bucketed by word_id so the
    per-round membership join is storage-partitioned (only the k x
    |batch| probe rows shuffle, never the bitmap), and the update MERGEs
    only the ~k x |fresh| touched words.  Word-ranges ARE the hash-range
    shards of the north_star design — a shard is a word_id interval.

    Same batch semantics as the cogroup pass: within-batch dedup by
    (h1 -> min (depth, url, kind)), then test ALL candidates against the
    pre-batch bitmap, then insert the fresh ones.  Probe positions are
    bit-identical to the ``bloom`` blob codec (power-of-two ``m_bits``),
    so :class:`PySeenFilter` with ``n_shards=1`` is its exact twin,
    including deterministic false positives.

    Returns (fresh(url, depth, kind), new_bitmap, stats(kind, n_cand,
    n_fresh), persisted_parent) — caller unpersists the parent after
    consuming fresh/stats/new_bitmap.
    """
    if "kind" not in candidates.columns:
        candidates = candidates.withColumn("kind", F.lit("page"))
    cand = (
        candidates.select("url", "depth", "kind")
        .withColumn("h1", F.xxhash64("url"))
        .withColumn("h2", F.xxhash64(F.concat(F.col("url"), F.lit(H2_SUFFIX))))
    )
    # within-batch dedup: min (depth, url) per hash — h2 rides inside the
    # struct so it stays the h2 of the kept url (deterministic)
    w = (
        cand.groupBy("h1")
        .agg(F.min(F.struct("depth", "url", "kind", "h2")).alias("s"))
        .select("h1", "s.h2", "s.url", "s.depth", "s.kind")
    )
    # membership probes: a bitmap under the broadcast cap (<= 32 MB of
    # word rows — every crawl below ~10^9 urls at 14 bits/key) is
    # BROADCAST into the probe join (guide §3.1): the k x |batch| probe
    # stream is tested in place with no shuffle of either side, and the
    # per-h1 AND re-aggregation combines the k co-located probe rows
    # map-side before its (h1, flag) shuffle.  Beyond the cap the probe
    # join shuffles both sides — the 10^9+ storage-partitioned regime.
    bitmap_side = (
        F.broadcast(bitmap) if (m_bits >> 6) <= _BITMAP_BCAST_MAX_WORDS else bitmap
    )
    seen_flag = (
        _probe_df(w, m_bits, k)
        .join(bitmap_side, "word_id", "left")
        .groupBy("h1")
        .agg(
            F.every(
                F.coalesce(
                    F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"),
                    F.lit(False),
                )
            ).alias("seen")
        )
    )
    out = w.join(seen_flag, "h1").persist()
    fresh = out.filter(~F.col("seen"))
    delta = (
        _probe_df(fresh, m_bits, k)
        .groupBy("word_id")
        .agg(F.bit_or("mask").alias("dbits"))
    )
    new_bitmap = bitmap.join(delta, "word_id", "full").select(
        "word_id",
        F.coalesce(F.col("bits"), F.lit(0))
        .bitwiseOR(F.coalesce(F.col("dbits"), F.lit(0)))
        .alias("bits"),
    )
    stats = out.groupBy("kind").agg(
        F.count("*").alias("n_cand"),
        F.sum(F.when(F.col("seen"), 0).otherwise(1)).alias("n_fresh"),
    )
    return fresh.select("url", "depth", "kind"), new_bitmap, stats, out


def admission_stats(out: DataFrame) -> dict[str, dict[str, int]]:
    """{kind: {candidates, fresh, deduped}} from the persisted cogroup output."""
    rows = (
        out.filter(F.col("row_kind") == "stat")
        .groupBy("kind")
        .agg(F.sum("n_cand").alias("c"), F.sum("n_fresh").alias("f"))
        .collect()
    )
    return {
        r["kind"]: {
            "candidates": int(r["c"]),
            "fresh": int(r["f"]),
            "deduped": int(r["c"] - r["f"]),
        }
        for r in rows
    }


# ---------------------------------------------------------------------------
# pure-Python twin (pyref oracle)
# ---------------------------------------------------------------------------

class PySeenFilter:
    def __init__(self, mode: str = "exact", n_shards: int = 8, m_bits: int = 1 << 23, k: int = 7):
        self.mode, self.n_shards, self.m_bits, self.k = mode, n_shards, m_bits, k
        self.blobs = [empty_blob(mode, m_bits, k) for _ in range(n_shards)]
        self.n_items = [0] * self.n_shards

    def _route(self, url: str) -> tuple[int, np.ndarray, np.ndarray]:
        h1 = np.array([url_hash(url)], dtype=np.int64).view(np.uint64)
        h2 = np.array([url_hash2(url)], dtype=np.int64).view(np.uint64)
        return url_hash(url) % self.n_shards, h1, h2

    def contains(self, url: str) -> bool:
        s, h1, h2 = self._route(url)
        return bool(_contains(self.blobs[s], h1, h2)[0])

    def add(self, url: str) -> bool:
        """Insert; returns True if the url was fresh."""
        s, h1, h2 = self._route(url)
        if _contains(self.blobs[s], h1, h2)[0]:
            return False
        self.blobs[s] = _insert(self.blobs[s], h1, h2)
        self.n_items[s] += 1
        return True

    def discard(self, url: str) -> bool:
        """Retract a url (cuckoo/exact only); returns True if removed."""
        s, h1, _h2 = self._route(url)
        self.blobs[s], removed = delete_from_blob(self.blobs[s], h1)
        if removed[0]:
            self.n_items[s] -= 1
        return bool(removed[0])

    def add_all(self, urls: Iterable[str]) -> list[str]:
        return [u for u in urls if self.add(u)]

    def add_batch(self, urls: Iterable[str]) -> list[str]:
        """Batch semantics identical to the Spark cogroup pass: per shard,
        test ALL candidates against the pre-batch blob, then insert the
        fresh ones — so bloom behavior matches Spark bit-for-bit."""
        by_shard: dict[int, list[str]] = {}
        for u in urls:
            by_shard.setdefault(url_hash(u) % self.n_shards, []).append(u)
        fresh_all = []
        for s, us in by_shard.items():
            h1 = np.array([url_hash(u) for u in us], dtype=np.int64).view(np.uint64)
            h2 = np.array([url_hash2(u) for u in us], dtype=np.int64).view(np.uint64)
            seen = _contains(self.blobs[s], h1, h2)
            fresh_idx = [i for i in range(len(us)) if not seen[i]]
            if fresh_idx:
                self.blobs[s] = _insert(self.blobs[s], h1[fresh_idx], h2[fresh_idx])
                self.n_items[s] += len(fresh_idx)
                fresh_all.extend(us[i] for i in fresh_idx)
        return sorted(fresh_all)
