"""Structured Streaming front-end (SURVEY.md §H).

The reference is a bounded batch program, and the engine's crawl loop is
deliberately batch-iterative (deterministic replay, SURVEY.md §1.3).
This module is the streaming INGEST side a production deployment puts in
front of it: pages land continuously (e.g. WARC ingestion), and we
maintain watermarked per-host arrival metrics and an append-only
extraction stream that the next crawl round reads as its pages snapshot.

Kept small on purpose: the streaming surface reuses the exact same
column expressions as the batch path (canon/host/assets), demonstrating
that every operator here is streaming-safe (no global sorts, no
unbounded state beyond the windowed aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .assets import extract_links_udf, extract_text_udf
from .canon import canonicalize_url_expr, host_expr

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_page_stream(spark, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


TSV_LINE_SCHEMA = "url string, warc_ts timestamp, lang string, _bad string"


def read_tsv_line_stream(
    spark, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """A6 analog on the streaming side: raw TSV lines parsed PERMISSIVEly —
    a malformed line becomes a row with ``_bad`` set (the dead-letter
    bucket) instead of failing the stream, exactly the reference's
    "Input not recognised" + continue (geoparse/geoparser.go:162-167).
    """
    lines = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(path)
    )
    rec = F.from_csv(
        F.col("value"),
        TSV_LINE_SCHEMA,
        {"sep": "\t", "mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_bad"},
    )
    return lines.select(rec.alias("r")).select("r.*")


def host_arrival_metrics(pages: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked per-host, per-hour arrival counts + byte volume.

    Late pages beyond the watermark are dropped (documented semantics);
    state is bounded by (hosts x open windows).
    """
    # project the canonical url in its own stage — host_expr over the raw
    # canon expression would inline (and per-row re-evaluate) the whole
    # canonicalization tree (the canon_urls lesson)
    return (
        pages.withColumn("_canon", canonicalize_url_expr(F.col("url")))
        .withColumn("host", host_expr(F.col("_canon")))
        .drop("_canon")
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), F.col("host"))
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("html")).alias("n_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "host",
            "n_pages",
            "n_bytes",
        )
    )


def streaming_extract(pages: DataFrame) -> DataFrame:
    """Stateless streaming extraction: text + out-links per page —
    the same vectorized UDFs as the batch path, running per micro-batch."""
    return pages.select(
        canonicalize_url_expr(F.col("url")).alias("url"),
        "warc_ts",
        extract_text_udf("html").alias("text_extracted"),
        F.size(extract_links_udf("html")).alias("n_links"),
    )


# ---------------------------------------------------------------------------
# stateful streaming seen-filter (H2 on the streaming side)
# ---------------------------------------------------------------------------

_SEEN_OUT_SCHEMA = "url string, warc_ts timestamp, h long"
_SEEN_STATE_SCHEMA = "hashes binary"


def _seen_filter_fn(key, pdf_iter, state):
    """Per-shard stateful filter: emit only FIRST-seen url hashes.

    State is the shard's seen set packed as a sorted int64 blob (one
    binary state column of the same xxhash64 keys the batch seen store
    holds); membership tests are vectorized np.isin per Arrow chunk,
    never per-row Python.
    """
    import numpy as np

    if state.exists:
        (blob,) = state.get
        seen = np.frombuffer(blob, dtype=np.int64)
    else:
        seen = np.empty(0, dtype=np.int64)
    fresh_parts = []
    for pdf in pdf_iter:
        h = pdf["h"].to_numpy(dtype=np.int64)
        first_in_chunk = ~pdf["h"].duplicated().to_numpy()
        mask = first_in_chunk & ~np.isin(h, seen)
        out = pdf.loc[mask, ["url", "warc_ts", "h"]]
        if len(out):
            fresh_parts.append(out)
            seen = np.union1d(seen, h[mask])
    state.update((seen.tobytes(),))
    yield from fresh_parts


def streaming_seen_filter(pages: DataFrame, n_shards: int = 8) -> DataFrame:
    """H2 as a STREAMING operator: exactly-once URL admission across
    micro-batches via ``applyInPandasWithState`` — the canonical custom
    stateful streaming operator shape.  URLs canonicalize -> xxhash64 ->
    shard by ``pmod(h, n_shards)``; each shard group carries its seen
    set in operator state, so a url is emitted the FIRST time it is ever
    observed and suppressed in every later micro-batch (and later in the
    same batch).  Mirrors the batch engine's admission contract
    (canonicalize -> hash -> test-and-insert, seen.py).

    Scale notes: state is hash-partitioned across ``n_shards`` groups
    (executor-parallel); the packed-int64 state grows O(seen/shard) — a
    production deployment at 10^10 urls drains the stream into engine
    rounds via foreachBatch + the bucketed seen store instead (the
    tested ingest seam, test_stream_ingested_pages_drive_engine).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    canon = canonicalize_url_expr(F.col("url"))
    hashed = pages.select(
        canon.alias("url"),
        "warc_ts",
        F.xxhash64(canon).alias("h"),
    ).withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)))
    return hashed.groupBy("shard").applyInPandasWithState(
        _seen_filter_fn,
        outputStructType=_SEEN_OUT_SCHEMA,
        stateStructType=_SEEN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
