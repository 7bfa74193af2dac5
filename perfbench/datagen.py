"""Seeded input generation on numpy and pyarrow only (no Spark jobs).

* ``orders`` / ``lineitem``: TPC-H-shaped tables with the columns of
  the repo's sf0.1 test tables. Timestamps are microseconds, which
  Spark reads as timestamps.
* ``MutationSource``: the CDC source (orders plus a generator-owned
  ``updated_at`` long writetime, nullable) as a sequence of versions. Each
  batch applies inserts (new keys), deletes, ``updated_at`` bumps and
  ``updated_at`` null<->value flips, records the expected diff counts,
  and publishes the version with one directory rename.
* ``write_lane_tables``: the ten tables the registered query lanes read,
  at sf0.01 row counts, with nanosecond timestamps like the repo's test
  tables, so the lanes take the same ``load_tables`` ingest path.

The same seed gives the same inputs.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01 in microseconds
DAY_US = 86_400_000_000
TS0_MS = 1_700_000_000_000  # updated_at origin (ms)
NULL_TS_SHARE = 0.05  # share of source rows born with a null updated_at


def _ts_us(rng, n: int, days: int = 2400) -> pa.Array:
    us = EPOCH_1992_US + rng.integers(0, days, n) * DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)],
                    type=pa.string())


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _updated_at(rng, n: int, null_share: float = NULL_TS_SHARE) -> pa.Array:
    ts = TS0_MS + rng.integers(0, 10**9, n)
    return pa.array(ts, type=pa.int64(), mask=rng.random(n) < null_share)


def orders_columns(rng, keys: np.ndarray,
                   n_cust: int = 15_000) -> dict[str, pa.Array]:
    """orders columns (sf0.1 schema) for the given keys."""
    n = len(keys)
    return {
        "o_orderkey": pa.array(keys, type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), type=pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": pa.array(_money(rng, n, 900.0, 500_000.0)),
        "o_orderdate": _ts_us(rng, n),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n),
    }


def orders(rng, n: int, n_cust: int = 15_000) -> pa.Table:
    return pa.table(orders_columns(rng, np.arange(n, dtype=np.int64), n_cust))


def lineitem(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    """lineitem (sf0.1 schema); ``l_linenumber`` is drawn at random as
    in the repo's test tables."""
    okey = np.sort(rng.integers(0, n_orders, n)).astype(np.int64)
    line = rng.integers(1, 8, n).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), type=pa.int64()),
        "l_linenumber": pa.array(line, type=pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _ts_us(rng, n),
    })


# -- the CDC source as a sequence of published versions ---------------------

@dataclass
class Batch:
    """Expected diff of one published version against the previous one."""
    version: int
    inserts: int
    deletes: int
    updates: int


class MutationSource:
    """Owns the source table and its ``updated_at`` column.

    ``publish_next(n_changed)`` changes ``n_changed`` keys in the op mix
    1% insert : 1% delete : 1.5% bump : 0.5% null<->value flip (that is
    25% / 25% / 37.5% / 12.5% of the changed keys; flips go half each
    way, so the null share stays put), writes the version
    under a fresh directory and renames it over ``path``. Updated rows
    also get a new ``o_totalprice``-style value in ``value_col`` so a
    stale target row shows in a full-row comparison. The primary key is
    one integer column.
    """

    def __init__(self, rng, table: pa.Table, pk: list[str], path: str,
                 value_col: str, ts_col: str = "updated_at"):
        self.rng = rng
        self.pk = pk
        self.path = path
        self.ts_col = ts_col
        self.value_col = value_col
        self.version = 0
        self.table = table.append_column(ts_col, _updated_at(rng, table.num_rows))

    def publish_initial(self) -> Batch:
        self._publish()
        return Batch(0, self.table.num_rows, 0, 0)

    def publish_next(self, n_changed: int) -> Batch:
        rng, t = self.rng, self.table
        (key,) = self.pk
        n = t.num_rows
        n_ins = n_del = max(1, n_changed // 4)
        n_flip = max(1, n_changed // 8)
        n_bump = max(1, n_changed - n_ins - n_del - n_flip)

        ts_col = t[self.ts_col]
        valid = ts_col.is_valid().to_numpy(zero_copy_only=False)
        new_ts = ts_col.fill_null(0).to_numpy().copy()
        # disjoint key sets: deletes, then flips (half each way), then bumps
        perm = rng.permutation(n)
        dele, rest = perm[:n_del], perm[n_del:]
        r_valid, r_null = rest[valid[rest]], rest[~valid[rest]]
        to_value = r_null[:n_flip // 2]
        to_null = r_valid[:n_flip - len(to_value)]
        bump = r_valid[len(to_null):len(to_null) + n_bump]
        flip = np.concatenate([to_value, to_null])

        keep = np.ones(n, dtype=bool)
        keep[dele] = False
        new_valid = valid.copy()
        new_ts[bump] += rng.integers(1, 10**6, len(bump))
        new_ts[to_value] = TS0_MS + rng.integers(0, 10**9, len(to_value))
        new_valid[flip] = ~valid[flip]
        cols = {c: t[c] for c in t.column_names}
        cols[self.ts_col] = pa.array(new_ts, type=pa.int64(), mask=~new_valid)
        touched = np.concatenate([bump, flip])
        v = t[self.value_col].to_numpy().copy()
        v[touched] = _money(rng, len(touched), 900.0, 500_000.0)
        cols[self.value_col] = pa.array(v)
        kept = pa.table(cols).filter(pa.array(keep))

        next_key = int(pc.max(t[key]).as_py()) + 1
        fresh = orders_columns(rng, np.arange(next_key, next_key + n_ins,
                                              dtype=np.int64))
        fresh[self.ts_col] = _updated_at(rng, n_ins, null_share=0.0)
        self.table = pa.concat_tables(
            [kept, pa.table(fresh).select(kept.column_names)]).combine_chunks()
        self.version += 1
        self._publish()
        return Batch(self.version, n_ins, n_del, len(bump) + len(flip))

    def _publish(self) -> None:
        staging = f"{self.path}.v{self.version}"
        os.makedirs(staging)
        pq.write_table(self.table, os.path.join(staging, f"part-v{self.version}.parquet"))
        retired = f"{self.path}.retired"
        if os.path.exists(self.path):
            os.rename(self.path, retired)
        os.rename(staging, self.path)
        shutil.rmtree(retired, ignore_errors=True)


# -- the query lanes' tables -------------------------------------------------

_WORDS = ("batch part spark line column order small sort fast value scan a "
          "hash slow group agg filter query big key window row table stream "
          "merge data vector join index shuffle plan cache node tile delta "
          "snapshot ledger sink source the of and to in is").split()
_PART_ADJ = ["large", "hot", "small", "blue", "green", "shiny", "old", "pale"]
_PART_NOUN = ["ring", "bolt", "nut", "gear", "plate", "spring", "valve"]


def _docs(rng, n: int) -> pa.Table:
    lens = rng.integers(8, 60, n)
    vocab = np.asarray(_WORDS, dtype=object)
    text = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(text, type=pa.string()),
        "lang": _pick(rng, ["en", "de", "fr", "es", "zh"], n),
        "source": _pick(rng, [f"src{i}" for i in range(5)], n),
        "n_chars": pa.array([len(s) for s in text], type=pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(5, dim))
    label = rng.integers(0, 5, n)
    v = centers[label] + rng.normal(scale=2.0, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label, type=pa.int32()),
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    ts = np.sort(1_704_067_200_000_000 + rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), type=pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), type=pa.int64()),
        "event_type": _pick(rng, ["view", "click", "purchase", "error", "login"], n),
        "value": pa.array(_money(rng, n, 0.0, 200.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          type=pa.string()),
    })


def write_lane_tables(rng, out_dir: str) -> None:
    """The ten lane tables at sf0.01 row counts, one parquet file each."""
    n_cust, n_supp, n_part, n_orders = 1_500, 100, 2_000, 15_000
    i32 = pa.int32()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), type=i32),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), type=i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, type=i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=i32),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            # 4 suppliers in every nation: with random nations, q21's
            # NATION_3 filter is empty on ~2% of seeds and AQE prunes its plan
            "s_nationkey": pa.array(rng.permutation(np.arange(n_supp) % 25), type=i32),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
            "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(
                rng.integers(0, len(_PART_ADJ), n_part),
                rng.integers(0, len(_PART_NOUN), n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL",
                                  "MEDIUM", "PROMO"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=i32),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2))}),
        "orders": orders(rng, n_orders, n_cust),
        "lineitem": lineitem(rng, 60_000, n_orders, n_part, n_supp),
        "events": _events(rng, 10_000, 1_000),
        "documents": _docs(rng, 500),
        "embeddings": _embeddings(rng, 500),
    }
    for name, t in tables.items():
        ns = pa.schema([f.with_type(pa.timestamp("ns")) if pa.types.is_timestamp(f.type)
                        else f for f in t.schema])
        pq.write_table(t.cast(ns), os.path.join(out_dir, f"{name}.parquet"))
