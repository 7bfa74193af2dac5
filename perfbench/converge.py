"""Target convergence check, run outside the timed region.

Replays the CLI sink's layout
``{target}/default/{table}/{tile}/{insert,update,delete}/snap-*`` per
tile in snapshot-id order: for each batch, delete its keys, then upsert
its insert and update rows. Batches already applied are remembered, so
each check replays only what the last cycle wrote. The replayed target
must then match the source version just replicated on row count and an
order-independent full-row hash. DuckDB does the work in-process.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

from common import KEYSPACE


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


class TargetReplay:
    def __init__(self, target: str, table: str, pk: list[str], schema: pa.Schema):
        self.root = os.path.join(target, KEYSPACE, table)
        self.pk = pk
        self.cols = schema.names
        self.con = duckdb.connect(config={"threads": 2})
        self.con.register("schema_src", schema.empty_table())
        self.con.execute("CREATE TABLE target AS SELECT * FROM schema_src")
        self.con.unregister("schema_src")
        self.applied: set[tuple[int, str]] = set()

    def _pending(self) -> list[tuple[int, str]]:
        out = set()
        if not os.path.isdir(self.root):
            return []
        for tile in os.listdir(self.root):
            for op in ("insert", "update", "delete"):
                d = os.path.join(self.root, tile, op)
                if os.path.isdir(d):
                    out.update((int(tile), b) for b in os.listdir(d)
                               if b.startswith("snap-"))
        return sorted(out - self.applied, key=lambda tb: (tb[0], int(tb[1][5:])))

    def _delete_keys(self, rel: str) -> None:
        on = " AND ".join(f"target.{_q(c)} = k.{_q(c)}" for c in self.pk)
        self.con.execute(f"DELETE FROM target USING ({rel}) k WHERE {on}")

    def replay(self) -> int:
        """Apply every batch not yet applied; returns how many."""
        pending = self._pending()
        for tile, batch in pending:
            base = os.path.join(self.root, str(tile))
            dels = os.path.join(base, "delete", batch)
            if os.path.isdir(dels):
                self._delete_keys(f"SELECT * FROM read_parquet('{dels}/*.parquet')")
            for op in ("insert", "update"):
                rows = os.path.join(base, op, batch)
                if not os.path.isdir(rows):
                    continue
                rel = f"SELECT * FROM read_parquet('{rows}/*.parquet')"
                self._delete_keys(rel)
                self.con.execute(f"INSERT INTO target BY NAME {rel}")
            self.applied.add((tile, batch))
        return len(pending)

    def _digest(self, rel: str) -> tuple:
        cols = ", ".join(_q(c) for c in self.cols)
        return self.con.execute(
            f"SELECT count(*), sum(hash({cols})::HUGEINT), bit_xor(hash({cols})) "
            f"FROM {rel}").fetchone()

    def mismatch(self, source: pa.Table) -> str | None:
        """None when the replayed target equals ``source`` row for row."""
        self.con.register("source_version", source.select(self.cols))
        try:
            want = self._digest("source_version")
        finally:
            self.con.unregister("source_version")
        got = self._digest("target")
        if got == want:
            return None
        return f"target (rows, sum, xor) {got} != source {want}"

    def export(self, path: str) -> None:
        """Write the replayed target as one parquet file."""
        self.con.execute(f"COPY target TO '{path}' (FORMAT parquet)")

    def close(self) -> None:
        self.con.close()
