"""Round-snapshot checkpointing (SURVEY.md H4).

The reference has NO resume — a killed crawl restarts from scratch; the
north_rule requires resume-to-identical-ordering, which we get by making
every round a committed snapshot of the full crawl state.

This module is the ``tableio`` indirection from SURVEY.md §7: the API is
Iceberg-shaped (write table version -> commit -> read latest committed),
but since no Iceberg runtime jar is installable in this sandbox it is
backed by Parquet directories plus an atomically-renamed JSON manifest:

    base/rounds/r{N}/{table}/   (parquet)
    base/manifest.json          {"committed": [0, 1, ...], "tables": {...}}

Swap-in path for a real cluster: replace _write/_read with Iceberg
``writeTo(...).createOrReplace()`` + snapshot IDs in the manifest; the
engine code (frontier.py) only touches this API.

Row-level updates (Iceberg MERGE analog): ``write_table_delta`` rewrites
only the touched partitions of a partitioned table and records a
partition -> owner-round map in the manifest (an Iceberg manifest's file
list, in miniature); readers assemble the snapshot from the referenced
rounds' directories.  The frontier uses this with discovered_round (BFS
layer) as the partition key, so a round's write cost is O(batch +
admissions), never O(frontier).

Crucially, a round is COMMITTED only after all its tables are fully
written (manifest rename is the commit point), so a kill at any moment
leaves the previous round intact — resume re-reads the last committed
round and, because ordering is a pure function of table state (never of
task scheduling), replays to the identical ordering (tested in
tests/test_crawl_golden.py::test_kill_resume).

Latest-version rule (Iceberg's): a commit that does not touch a table
leaves that table's current version visible.  ``commit_round`` declares
exactly the tables the round wrote, and ``read_latest(name, r)`` returns
the newest committed round ``<= r`` that declared ``name`` — so a round
that has nothing new for a table (a refresh, an empty fetch) simply does
not write it, and readers see the previous version.  Visibility is
decided from the manifest alone: the directory of a crashed or
uncommitted round is never read.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableIO:
    def __init__(self, base_dir: str):
        self.base = base_dir
        os.makedirs(self.base, exist_ok=True)
        # partition maps staged by write_table_delta until commit_round
        # makes them durable (the manifest rename is the commit point)
        self._staged_partmaps: dict[tuple[str, int], dict[str, int]] = {}
        # tables actually written this process, per (name, round): the
        # manifest's per-round table list is exactly this set, so a round
        # never declares a table it did not write — read_table(name,
        # round) on a declared table always succeeds
        self._written: set[tuple[str, int]] = set()

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.base, "manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"committed": [], "tables": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, m: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.base, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    def set_meta(self, key: str, value) -> None:
        m = self._read_manifest()
        m.setdefault("meta", {})[key] = value
        self._write_manifest(m)

    def get_meta(self, key: str):
        return self._read_manifest().get("meta", {}).get(key)

    def latest_round(self) -> int | None:
        m = self._read_manifest()
        return max(m["committed"]) if m["committed"] else None

    # -- tables ------------------------------------------------------------
    def _table_path(self, name: str, round_no: int) -> str:
        return os.path.join(self.base, "rounds", f"r{round_no}", name)

    def write_table(self, df: DataFrame, name: str, round_no: int) -> None:
        df.write.mode("overwrite").parquet(self._table_path(name, round_no))
        self.mark_written(name, round_no)

    def mark_written(self, name: str, round_no: int) -> None:
        """Record a table written outside write_table (e.g. the engine's
        global_sequence range files) so commit_round can declare it."""
        self._written.add((name, round_no))

    # -- partitioned MERGE-style writes (Iceberg row-level-update analog) ----
    def write_table_delta(
        self,
        df: DataFrame,
        name: str,
        round_no: int,
        part_col: str,
        touched: list[int],
        base_round: int | None,
    ) -> None:
        """Rewrite ONLY the ``touched`` partitions of a table partitioned by
        ``part_col``; untouched partitions stay owned by the round that
        last wrote them (the manifest records partition -> owner round,
        exactly an Iceberg manifest's file list).  ``df`` must contain the
        full new content of the touched partitions and nothing else.  At
        10^10-frontier scale this is the MERGE: per-round write cost is
        O(touched partitions + new rows), never O(frontier).
        """
        m = self._read_manifest()
        prev: dict[str, int] = (
            m.get("partitions", {}).get(name, {}).get(str(base_round), {})
            if base_round is not None
            else {}
        )
        # _part mirrors part_col as the directory key so the data column
        # survives in the files (partitionBy drops its source column)
        df.withColumn("_part", F.col(part_col)).write.mode("overwrite").partitionBy(
            "_part"
        ).parquet(self._table_path(name, round_no))
        self.mark_written(name, round_no)
        new_map = dict(prev)
        for t in touched:
            new_map[str(t)] = round_no
        self._staged_partmaps[(name, round_no)] = new_map

    def read_table(self, spark: SparkSession, name: str, round_no: int | None = None) -> DataFrame:
        if round_no is None:
            round_no = self.latest_round()
            if round_no is None:
                raise FileNotFoundError("no committed rounds")
        m = self._read_manifest()
        pmap = m.get("partitions", {}).get(name, {}).get(str(round_no))
        if pmap is None:
            pmap = self._staged_partmaps.get((name, round_no))
        if pmap is not None:
            paths = [
                os.path.join(self._table_path(name, owner), f"_part={p}")
                for p, owner in pmap.items()
            ]
            paths = [p for p in paths if os.path.exists(p)]  # fully-emptied part
            if not paths:
                raise FileNotFoundError(f"{name}@r{round_no}: no partitions")
            return spark.read.parquet(*paths)
        return spark.read.parquet(self._table_path(name, round_no))

    def read_latest(
        self, spark: SparkSession, name: str, upto_round: int
    ) -> DataFrame | None:
        """The current version of ``name`` as of ``upto_round``: the
        table of the newest committed round ``<= upto_round`` whose
        manifest entry declares it, or None when no such round exists."""
        m = self._read_manifest()
        rounds = [
            r for r in m["committed"]
            if r <= upto_round and name in m["tables"].get(str(r), [])
        ]
        if not rounds:
            return None
        return self.read_table(spark, name, max(rounds))

    def commit_round(self, round_no: int) -> None:
        """Commit: declare exactly the tables written for ``round_no``
        (write_table / write_table_delta / mark_written), so the
        manifest stays an accurate inventory that read_latest and
        rollback can trust."""
        m = self._read_manifest()
        if round_no not in m["committed"]:
            m["committed"].append(round_no)
        m["tables"][str(round_no)] = sorted(
            t for t, r in self._written if r == round_no
        )
        for (name, rno), pmap in list(self._staged_partmaps.items()):
            if rno == round_no:
                m.setdefault("partitions", {}).setdefault(name, {})[str(rno)] = pmap
                del self._staged_partmaps[(name, rno)]
        self._write_manifest(m)

    def forget_round(self, round_no: int) -> None:
        """Drop what this process recorded for the uncommitted round
        ``round_no``: its written tables and staged partition maps.  A
        failed round calls this, so a later commit of the same round
        number (a retry, a refresh) declares only what it wrote itself."""
        self._forget(lambda r: r == round_no)

    def _forget(self, dropped) -> None:
        self._written = {(t, r) for t, r in self._written if not dropped(r)}
        self._staged_partmaps = {
            k: v for k, v in self._staged_partmaps.items() if not dropped(k[1])
        }

    def rollback_to(self, round_no: int) -> None:
        """Drop snapshots after ``round_no`` (used by kill/resume tests).
        Partition maps of surviving rounds only ever reference owner rounds
        <= their own round, so they stay valid.  Refuses to roll back past
        a seen-store compaction point: hashes merged into the compacted
        base cannot be un-merged, so states before it are unreachable —
        the same trade Iceberg's expire_snapshots makes against time
        travel (seen.compact_seen_store)."""
        m = self._read_manifest()
        comp = m.get("meta", {}).get("seen_compaction")
        if comp is not None and round_no < comp["upto"]:
            raise ValueError(
                f"cannot roll back to round {round_no}: the seen store was "
                f"compacted up to round {comp['upto']} (compaction expires "
                f"earlier states, like Iceberg expire_snapshots)"
            )
        for r in [r for r in m["committed"] if r > round_no]:
            shutil.rmtree(os.path.join(self.base, "rounds", f"r{r}"), ignore_errors=True)
        m["committed"] = [r for r in m["committed"] if r <= round_no]
        m["tables"] = {k: v for k, v in m["tables"].items() if int(k) <= round_no}
        for name in m.get("partitions", {}):
            m["partitions"][name] = {
                k: v
                for k, v in m["partitions"][name].items()
                if int(k) <= round_no
            }
        self._forget(lambda r: r > round_no)
        self._write_manifest(m)
