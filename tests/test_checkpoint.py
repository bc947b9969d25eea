"""TableIO MERGE-style partial rewrites: partition ownership across
rounds, snapshot assembly, commit atomicity, rollback."""

import pandas as pd
import pytest

from geocrawl_spark.checkpoint import TableIO


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "layer", "status"]),
        "url string, layer long, status string",
    )


def _snap(io, spark, rno):
    return sorted(
        (r["url"], r["layer"], r["status"])
        for r in io.read_table(spark, "frontier", rno).collect()
    )


def test_delta_write_rewrites_only_touched_partitions(spark, tmp_path):
    io = TableIO(str(tmp_path))
    # round 0: layers 0 and 1 born
    io.write_table_delta(
        _df(spark, [("a", 0, "pending"), ("b", 0, "pending"), ("c", 1, "pending")]),
        "frontier", 0, "layer", [0, 1], None,
    )
    io.commit_round(0, ["frontier"])
    # round 1: layer 0 rewritten (a fetched), layer 2 appended; layer 1 untouched
    io.write_table_delta(
        _df(spark, [("a", 0, "fetched"), ("b", 0, "pending"), ("d", 2, "pending")]),
        "frontier", 1, "layer", [0, 2], 0,
    )
    io.commit_round(1, ["frontier"])

    assert _snap(io, spark, 0) == [
        ("a", 0, "pending"), ("b", 0, "pending"), ("c", 1, "pending")
    ]
    assert _snap(io, spark, 1) == [
        ("a", 0, "fetched"), ("b", 0, "pending"),
        ("c", 1, "pending"), ("d", 2, "pending"),
    ]
    # layer 1's bytes are still owned by round 0 (no rewrite happened)
    m = io._read_manifest()
    assert m["partitions"]["frontier"]["1"] == {"0": 1, "1": 0, "2": 1}


def test_delta_uncommitted_round_invisible_and_rollback(spark, tmp_path):
    io = TableIO(str(tmp_path))
    io.write_table_delta(
        _df(spark, [("a", 0, "pending")]), "frontier", 0, "layer", [0], None
    )
    io.commit_round(0, ["frontier"])
    io.write_table_delta(
        _df(spark, [("a", 0, "fetched")]), "frontier", 1, "layer", [0], 0
    )
    # NOT committed: a fresh TableIO (crash survivor) sees only round 0
    io2 = TableIO(str(tmp_path))
    assert io2.latest_round() == 0
    assert _snap(io2, spark, 0) == [("a", 0, "pending")]
    # commit then roll back: partition maps of dropped rounds disappear
    io.commit_round(1, ["frontier"])
    io.rollback_to(0)
    m = io._read_manifest()
    assert list(m["partitions"]["frontier"]) == ["0"]
    assert _snap(io, spark, 0) == [("a", 0, "pending")]


def test_delta_fully_emptied_partition(spark, tmp_path):
    io = TableIO(str(tmp_path))
    io.write_table_delta(
        _df(spark, [("a", 0, "pending")]), "frontier", 0, "layer", [0], None
    )
    io.commit_round(0, ["frontier"])
    # round 1 rewrites layer 0 to EMPTY and adds layer 1
    io.write_table_delta(
        _df(spark, [("b", 1, "pending")]), "frontier", 1, "layer", [0, 1], 0
    )
    io.commit_round(1, ["frontier"])
    assert _snap(io, spark, 1) == [("b", 1, "pending")]


def test_no_orphan_round_dirs_after_crawl(spark, tmp_path):
    """Every directory under rounds/rN is a table named in that round's
    manifest entry (VERDICT r2 'what's wrong' #4: global_sequence's batch
    scratch used to accumulate unregistered) — so rollback_to leaves no
    orphans and a resumed crawl's disk state is fully manifest-described."""
    import os

    from geocrawl_spark import synth
    from geocrawl_spark.frontier import CrawlEngine

    eng = CrawlEngine(
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
        base_dir=str(tmp_path / "crawl"),
        n_buckets=2,
    )
    eng.run(max_rounds=12)
    m = eng.io._read_manifest()
    rounds_dir = os.path.join(str(eng.io.base), "rounds")
    seen = 0
    for rdir in os.listdir(rounds_dir):
        rno = rdir.lstrip("r")
        declared = set(m["tables"][rno])
        on_disk = set(os.listdir(os.path.join(rounds_dir, rdir)))
        # BOTH directions: no orphan dirs AND no declared-but-never-written
        # tables (ADVICE r3: fast-path rounds used to declare 'extracted'
        # etc. without writing them, breaking read_table on the manifest)
        assert on_disk == declared, (rdir, on_disk ^ declared)
        seen += 1
    assert seen >= 3  # a real multi-round crawl ran
