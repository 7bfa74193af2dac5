"""Discovery / replication runner — the engine's control loop.

Reimplements the reference's job structure (SURVEY §3):
  * keysDiscoveryProcess (K:2233-2292): source scan -> PK+ts projection
    -> tile assignment -> per-tile snapshot write gated by the ledger.
  * dataReplicationProcess (K:1564-1681): per-tile three-way dispatch
    (nothing / historical / delta), change-set computation, hydration,
    sink write, completion mark, snapshot expiry.
  * poll loop with stop sentinel + cooldown (K:2338-2379, stop object
    K:654-670) — the reference's "streaming" is this micro-batch loop.
  * stats objects (DiscoveryStats / ReplicationStats case classes K:79-81,
    aggregation-on-write putStats K:759-785).

Driver-side tile fan-out uses a thread pool (the reference uses Scala
.par — K:2258) for the per-tile snapshot writes, reads and sink writes;
a replication cycle diffs, counts and hydrates once for all due tiles.

Both sources are callables returning a DataFrame (``pk_source`` the PK +
ts projection, ``source`` the full rows): a Cassandra connector reader in
production, parquet fixtures in tests — the core is source-agnostic (SURVEY §7.1).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .diff import ChangeSet, compute_changes_tagged
from .ledger import DiscoveryRaceLost, Ledger
from .sinks import parquet_sink
from .snapshot import SnapshotStore
from .tiling import assign_tiles

TILE, OP = "__tile", "__op"  # a replication cycle's row tags


@dataclass
class DiscoveryStats:
    tile: int
    primaryKeys: int
    updatedTimestamp: float


@dataclass
class ReplicationStats:
    tile: int
    primaryKeys: int
    updatedPrimaryKeys: int
    insertedPrimaryKeys: int
    deletedPrimaryKeys: int
    updatedTimestamp: float


class StatsStore:
    """JSON stats objects with read-add-write aggregation (putStats
    K:759-785). One file per (tile, kind)."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, ks: str, tbl: str, tile: int, kind: str) -> str:
        return os.path.join(self.root, ks, tbl, f"{kind}-tile-{tile}.json")

    def put(self, ks: str, tbl: str, stats: DiscoveryStats | ReplicationStats) -> None:
        kind = "discovery" if isinstance(stats, DiscoveryStats) else "replication"
        path = self._path(ks, tbl, stats.tile, kind)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        merged = asdict(stats)
        if kind == "replication" and os.path.exists(path):
            with open(path) as f:
                prev = json.load(f)
            # primaryKeys aggregates too — the reference's
            # historicallyInserted accumulation (K:1560)
            for k in ("primaryKeys", "updatedPrimaryKeys",
                      "insertedPrimaryKeys", "deletedPrimaryKeys"):
                merged[k] += prev.get(k, 0)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, path)

    def get(self, ks: str, tbl: str, tile: int, kind: str) -> dict | None:
        path = self._path(ks, tbl, tile, kind)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)


class StopSentinel:
    """Graceful-stop protocol: an object appears at a known location;
    the loop sees it, deletes it, and exits (requestStop/stopRequested
    K:654-670; the CLI writes it, C:1381-1394)."""

    def __init__(self, path: str):
        self.path = path

    def request(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "w") as f:
            f.write("{}")

    def check_and_clear(self) -> bool:
        if os.path.exists(self.path):
            os.remove(self.path)
            return True
        return False


@dataclass
class CdcPipeline:
    """Wiring for one replicated table."""
    spark: SparkSession
    keyspace: str
    table: str
    pk_cols: list[str]
    source: Callable[[], DataFrame]          # full rows, scanned once per cycle to hydrate
    pk_source: Callable[[], DataFrame]       # (pk_cols..., ts) projection
    store: SnapshotStore
    ledger: Ledger
    stats: StatsStore
    total_tiles: int = 4
    ts_col: str = "ts"
    # (changes, tile, batch_id): hydrated rows + op counts, and the consumed curr
    # snapshot id, unique per rotation so sink paths never collide. None = count only.
    sink: Callable[[ChangeSet, int, int], None] | None = None
    max_workers: int = 4
    # Discovery-scan layout: when set, the tiled projection is
    # repartitioned to this many partitions on the tile column before
    # snapshotting (the reference's repartition(defaultPartitions, group)
    # K:1845-1847; compute via config.default_partitions_for). None =
    # leave layout to AQE, which is right for local/test runs.
    default_partitions: int | None = None
    # Tile assignment: None = production xxhash64 tiling (tiling.tile_expr,
    # K:1832-1843). A Column-returning callable overrides it with an
    # engine-portable rule (oracle-checked fixtures tile by pk % N —
    # xxhash64 has no DuckDB equivalent); any deterministic pure
    # function of the PK columns preserves the ledger/tile invariants.
    tile_of: Callable[[DataFrame], Column] | None = None

    # -- discovery ---------------------------------------------------------
    def discover(self) -> list[int]:
        """One discovery cycle; returns tiles that rotated a snapshot."""
        # Gate FIRST (r16): when every tile still holds an unconsumed
        # snapshot, the cycle must refuse without touching the source —
        # the old order materialized (persisted + counted) the full
        # tiled scan before consulting the ledger, so a fully-blocked
        # cycle paid a complete source pass to do nothing. can_discover
        # is a read-only ledger probe; per_tile re-checks it under the
        # write path's race rules, so this pre-filter only skips work,
        # never changes which tiles rotate.
        if not any(self.ledger.can_discover(self.keyspace, self.table, t)
                   for t in range(self.total_tiles)):
            return []
        src = self.pk_source()
        if self.tile_of is not None:
            tiled = src.withColumn("tile", self.tile_of(src))
            if self.default_partitions is not None:
                tiled = tiled.repartition(self.default_partitions,
                                          F.col("tile"))
        else:
            tiled = assign_tiles(
                src, self.pk_cols, self.total_tiles,
                repartition=self.default_partitions is not None,
                num_partitions=self.default_partitions)
        tiled = tiled.persist()
        try:
            tiled.count()  # materialize once; per-tile filters reuse the cache

            def per_tile(tile: int) -> int | None:
                if not self.ledger.can_discover(self.keyspace, self.table, tile):
                    return None  # unconsumed snapshot -> skip (K:2263-2271)
                part = tiled.filter(F.col("tile") == tile).drop("tile")
                sid = self.store.write_snapshot(part, tile)
                try:
                    self.ledger.record_discovery(
                        self.keyspace, self.table, tile, sid)
                except DiscoveryRaceLost:
                    # Lost the discovery race: a rival process rotated
                    # this tile between our gate check and our record
                    # (the ledger contract allows any number of
                    # discovery processes; record_discovery re-checks
                    # under the cross-process lock and raises the TYPED
                    # race exception to protect the unconsumed-snapshot
                    # invariant — any other RuntimeError is a real
                    # failure and propagates). Our snapshot is an
                    # unreferenced orphan until expiry — skip the tile,
                    # don't kill the whole cycle.
                    return None
                # count of OUR snapshot by id — under the multi-
                # discoverer contract [-1] could be a rival's newer
                # one, and a rival may legally have EXPIRED our
                # just-written snapshot already: skip the stats put
                # rather than crash the cycle on the missing id
                n = next((s.count for s in self.store.snapshots(tile)
                          if s.id == sid), None)
                if n is not None:
                    self.stats.put(self.keyspace, self.table,
                                   DiscoveryStats(tile, n, time.time()))
                return tile

            with ThreadPoolExecutor(max_workers=self.max_workers) as pool:
                done = list(pool.map(per_tile, range(self.total_tiles)))
            return [t for t in done if t is not None]
        finally:
            tiled.unpersist()

    # -- replication --------------------------------------------------------
    def replicate_tile(self, tile: int, batch_id: int, changes: ChangeSet) -> ReplicationStats:
        """Finish one due tile: sink -> mark -> expiry -> stats. A crash
        before the mark leaves it due, and the next cycle re-writes ``batch_id``."""
        if self.sink is not None:
            self.sink(changes, tile, batch_id)
        self.ledger.mark_replication_complete(self.keyspace, self.table, tile)
        self.store.expire_snapshots(tile, retain_last=2)  # K:1656-1657
        n = changes.counts
        st = ReplicationStats(tile, sum(n.values()), n["update"], n["insert"],
                              n["delete"], time.time())
        self.stats.put(self.keyspace, self.table, st)
        return st

    def replicate(self) -> list[ReplicationStats]:
        """One replication cycle (K:1564-1681) over every due tile: one
        diff of the tile-tagged snapshot unions, one count and, with a
        sink, one hydrate against one source scan. A historical tile has
        no prev rows, so all its keys diff as inserts (K:1660-1674)."""
        plans = {t: p for t in range(self.total_tiles) if (
            p := self.ledger.replication_plan(self.keyspace, self.table, t))}
        if not plans:
            return []
        reads = [(t, p[k]) for k in ("curr", "prev") for t, p in plans.items() if k in p]
        with ThreadPoolExecutor(max_workers=self.max_workers) as pool:
            snaps = list(pool.map(lambda r: self.store.read_snapshot(
                self.spark, *r).withColumn(TILE, F.lit(r[0])), reads))
            curr = reduce(DataFrame.unionByName, snaps[:len(plans)])
            prev = reduce(DataFrame.unionByName, snaps[len(plans):] or [curr.filter(F.lit(False))])
            tagged = rows = compute_changes_tagged(
                curr, prev, [TILE, *self.pk_cols], self.ts_col, op_col=OP).persist()
            try:
                counts = {(r[TILE], r[OP]): r["count"]
                          for r in tagged.groupBy(TILE, OP).count().collect()}
                if self.sink is not None:
                    # one source scan, persisted for every write; no broadcast
                    # hint, as a historical load's keys are the whole table
                    keys = tagged.filter(F.col(OP) != "delete").select(TILE, OP, *self.pk_cols)
                    rows = parquet_sink.hydrate_changes(self.source(), keys, self.pk_cols,
                                                        broadcast_pks=False)
                    rows = rows.dropDuplicates(self.pk_cols).persist()  # P:647

                def part(df: DataFrame, t: int, op: str) -> DataFrame:
                    return df.filter((F.col(TILE) == t) & (F.col(OP) == op)).drop(TILE, OP)

                return list(pool.map(lambda t: self.replicate_tile(t, plans[t]["curr"], ChangeSet(
                    inserts=part(rows, t, "insert"), updates=part(rows, t, "update"),
                    deletes=part(tagged, t, "delete").select(*self.pk_cols),
                    counts={op: counts.get((t, op), 0) for op in ("insert", "update", "delete")},
                )), plans))
            finally:
                tagged.unpersist()
                rows.unpersist()

    # -- loop -----------------------------------------------------------------
    def run_loop(
        self,
        stop: StopSentinel,
        cooldown_s: float = 0.0,
        max_cycles: int | None = None,
    ) -> int:
        """Micro-batch poll loop (K:2338-2379). Returns cycles completed."""
        cycles = 0
        while not stop.check_and_clear():
            if max_cycles is not None and cycles >= max_cycles:
                break
            self.discover()
            self.replicate()
            cycles += 1
            if cooldown_s:
                time.sleep(cooldown_s)
        return cycles
