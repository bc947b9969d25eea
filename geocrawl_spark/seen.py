"""URL-seen filter: the crawl's visit-once guarantee.

In the reference, uniqueness is a *property of the tree walk* (each file
visited exactly once, geolib/walkers.go:53-58); a web frontier has cycles,
so the crawl keeps the seen set explicitly (SURVEY.md C2/H2).

The seen set is a persistent store of ``xxhash64(url)`` values (``h1``):
an external parquet table PARTITIONED BY round and CLUSTERED BY h1 into
``n_buckets`` buckets (:func:`ensure_seen_store`) — the sandbox stand-in
for an Iceberg table partitioned by round and bucketed by
``bucket(N, h1)``.  One admission pass per round
(:func:`filter_and_update_abucket_flagged`) dedups the candidate batch
within itself, shuffles it once into the bucket layout and left-joins it
against a bucket-local scan of the committed store partitions, so the
seen side never shuffles.  The state update is an O(fresh) append of the
round's new hashes into partition ``round=r``; it is never an O(seen)
rewrite.  :func:`compact_seen_store` periodically merges committed
partitions so the store's file count stays bounded.

The pyref oracle keeps the same set as a Python ``set`` of
``hashing.url_hash(url)`` values, which equal Spark's ``xxhash64``
bit-for-bit, so both sides dedup on the same 64-bit key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    """{round_value: partition_dir} for a seen store's on-disk layout."""
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
    seen store into ONE base partition — the sandbox analog of
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
       duplicate h1 rows, which the admission pass's deduped seen side
       makes harmless — no hash is ever lost;
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
        # admission dedups the seen side), and the NEXT compaction reads both;
        # dedup here or those duplicates would persist in every future
        # base, growing storage forever.  The aggregate sits on top of the
        # aligning Exchange (same h1 hash partitioning), so the
        # one-file-per-bucket layout is preserved.
        .dropDuplicates(["h1"])
        .select("h1", F.lit(new_base).cast("long").alias("round"))
    )
    _overwrite_partitions(spark, src, table)
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


def _overwrite_partitions(spark, df: DataFrame, table: str) -> None:
    """Insert ``df`` into ``table``, replacing only the partitions it
    writes (dynamic partition overwrite): a re-run of the same round
    replaces its own partition, and every other partition is untouched.

    The session conf is set and restored around the write rather than
    passed as a ``DataFrameWriter`` option: Spark's check against
    overwriting a table the plan also reads consults only the SESSION
    mode, so a writer option alone cannot express this insert.  The
    restore keeps the session default (static) for every other write.
    """
    conf = spark.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").insertInto(table)
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def filter_and_update_abucket_flagged(
    candidates: DataFrame,
    spark,
    table: str,
    n_buckets: int,
    upto_round: int,
    round_no: int,
    decorate=None,
):
    """One admission pass against the seen store in ``table``: within-batch
    dedup, membership test, state update and per-kind stats.

    Candidates ``(url, depth[, kind])`` are hashed to ``h1 =
    xxhash64(url)`` and deduped per h1 to the min ``(depth, url, kind)``
    (deterministic; equals url-dedup-by-min-depth).  That aggregate sits
    on the batch's single shuffle into the bucket layout, and the result
    LEFT-joins the store partitions ``round <= upto_round`` — a
    bucket-local scan with no Exchange on the seen side — setting
    ``_seen`` on the rows already in the store.  The caller's row
    decoration (``decorate``, e.g. host and robots columns) is applied
    before the single ``persist()``, so fresh rows and stats are cheap
    scans of one materialization.

    The seen side is deduped (bucket-local aggregate, no Exchange: the
    grouping key is the bucket key) because a compaction crash window
    can leave duplicate h1 rows across store partitions, which would
    multiply rows in a left join.  Rows appended by an uncommitted round
    (``round > upto_round``) are invisible, so a crashed round needs no
    cleanup.

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
        _overwrite_partitions(
            spark,
            urls.select(
                F.xxhash64("url").alias("h1"),
                F.lit(round_no).cast("long").alias("round"),
            ),
            table,
        )

    return out, stats, append_fn
