"""The ``query_lanes`` workload: a fixed set of registered query lanes,
each run as ``REGISTRY[name].build(spark, sf_dir).count()``.

Set-up generates the lane tables, starts the session with bench.py's
settings and runs one cold pass: each lane's ``count()`` (its job count
is recorded) and then ``collect()``, checked against the lane's
registered DuckDB oracle with ``tools/correctness_check.compare``. The
measured passes then time build and ``count()`` per lane. A lane fails
if it raises, if its output differs from the oracle, or if its
``count()`` reads an RDD that existed before its ``build`` call, in any
pass: that is a memo hit, which would otherwise be timed as a speed-up.
Job counts are not the test: adaptive execution re-plans query stages
in the order they finish, so on some inputs a lane's job count moves by
one from call to call with no memo involved. A count that differs
between passes is printed. The five lanes served by the
``_shared_capped_lsh`` session memo are left out.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time
import traceback
from dataclasses import dataclass

import duckdb
import numpy as np

import datagen
from common import (bytes_written_since, jobs_submitted, median, peak_rss_mb,
                    rdd_mark, reused_rdds, start_spark)
from spans import EventLog, Tracer

LANES = [
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    "similarity_cosine_topk",
    "text_tfidf",
    "multimodal_jpeg_pixel_decode",
    "bucketed_join_colocated",
    "ivm_join_refresh",
    "sketch_hll_grouped",
    "graph_pagerank_suppliers",
    "events_sessionize",
    "cdc_apply_changes",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@dataclass
class Pass:
    wall_s: float
    start: float
    end: float
    jobs: int
    rows: int
    bytes_written: int
    lane_jobs: dict[str, int]
    failed: list[str]
    traced: bool


def _oracle_compare(root: str):
    """``compare`` from the repo's correctness checker, imported by path."""
    path = os.path.join(root, "tools", "correctness_check.py")
    spec = importlib.util.spec_from_file_location("correctness_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class LaneRun:
    def __init__(self, ws, root: str, seed: int, trace: bool):
        self.ws = ws
        self.root = root
        self.sf_dir = ws.sub("tables")
        datagen.write_lane_tables(np.random.default_rng(seed), self.sf_dir)
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = start_spark(ws, "perfbench-query_lanes", cpus, trace)
        self.tracer = Tracer(self.spark) if trace else None
        from cql_replicator_spark.queries import REGISTRY, queries

        queries()  # registers the analytics lanes
        self.registry = REGISTRY
        self.passes: list[Pass] = []
        self.failures: list[str] = []
        self.memo_hits: set[str] = set()
        self.wrong: set[str] = set()  # output differs from the oracle
        self.cold_jobs: dict[str, int] = {}

    def _check_reuse(self, name: str, first_job: int, end_job: int, mark: int,
                     where: str) -> None:
        old = reused_rdds(self.spark, first_job, end_job, mark)
        if old and name not in self.memo_hits:
            self.memo_hits.add(name)
            self.failures.append(f"{name}: {where} read RDDs {old[:5]} created "
                                 "before the lane was built (a memo hit)")

    def cold_pass(self) -> None:
        compare = _oracle_compare(self.root)
        con = duckdb.connect(config={"threads": 2})
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')")
            for name in LANES:
                j0, mark = jobs_submitted(self.spark), rdd_mark(self.spark)
                try:
                    df = self.registry[name].build(self.spark, self.sf_dir)
                    df.count()
                    self.cold_jobs[name] = jobs_submitted(self.spark) - j0
                    self._check_reuse(name, j0, jobs_submitted(self.spark), mark,
                                      "the cold pass")
                    rows = [tuple(r) for r in df.collect()]
                except Exception:  # noqa: BLE001 - reported, the run goes on
                    self.cold_jobs[name] = -1
                    self.failures.append(f"{name} raised in the cold pass:\n"
                                         + traceback.format_exc(limit=3))
                    continue
                res = con.execute(self.registry[name].oracle)
                problems = compare(name, rows, df.columns,
                                   res.fetchall(), [d[0] for d in res.description])
                if problems:
                    self.wrong.add(name)
                    self.failures.append(f"{name} vs oracle: " + "; ".join(problems[:3]))
        finally:
            con.close()

    def one_pass(self, traced: bool) -> Pass:
        t = self.tracer
        if t is not None:
            t.enabled = traced
            t.cycle = len(self.passes)
        written_roots = [self.ws.tmp, os.path.join(self.ws.path, "warehouse")]
        start = time.time()
        j_pass = jobs_submitted(self.spark)
        t0 = time.perf_counter()
        rows, lane_jobs, failed, marks = 0, {}, [], {}
        for name in LANES:
            j0, mark = jobs_submitted(self.spark), rdd_mark(self.spark)
            try:
                build = self.registry[name].build
                if t is not None:
                    build = t.wrap(build, f"lane.{name}.build")
                df = build(self.spark, self.sf_dir)
                count = df.count if t is None else t.wrap(df.count, f"lane.{name}.exec")
                rows += count()
            except Exception:  # noqa: BLE001 - a failed lane is a measured outcome
                failed.append(name)
                print(f"[perfbench] lane {name} raised:\n{traceback.format_exc(limit=3)}",
                      file=sys.stderr)
            lane_jobs[name] = jobs_submitted(self.spark) - j0
            marks[name] = (j0, j0 + lane_jobs[name], mark)
        wall = time.perf_counter() - t0
        p = Pass(wall, start, time.time(), jobs_submitted(self.spark) - j_pass, rows,
                 bytes_written_since(written_roots, start), lane_jobs, failed, traced)
        for name in LANES:  # outside the timed region: it waits on the status store
            self._check_reuse(name, *marks[name], f"pass {len(self.passes)}")
        if t is not None:
            t.enabled, t.cycle = False, None
        self.passes.append(p)
        return p

    def run(self, clock, seconds: float) -> None:
        """Set-up with the cold pass, then measured passes for
        ``seconds``. A traced run measures at least four passes and
        traces them in the order untraced, traced, traced, untraced
        (repeated), so a steady drift cancels in traced minus
        untraced."""
        trace = self.tracer is not None
        self.cold_pass()
        self.setup_s = clock.elapsed()
        t0 = time.perf_counter()
        while (not self.passes or time.perf_counter() - t0 < seconds
               or (trace and len(self.passes) < 4)):
            self.one_pass(traced=trace and len(self.passes) % 4 in (1, 2))
        self.peak_rss_mb = peak_rss_mb(self.spark)
        self.job_count_moved = 0
        for name in LANES:
            counts = [self.cold_jobs[name]] + [p.lane_jobs[name] for p in self.passes]
            if len(set(counts)) > 1:
                self.job_count_moved += 1
                print(f"[perfbench] lane {name}: job count per pass {counts}",
                      file=sys.stderr)
            if any(name in p.failed for p in self.passes):
                self.failures.append(f"{name}: raised")

    def end_to_end(self) -> dict[str, float]:
        ps = [p for p in self.passes if not p.traced]
        return {
            "setup_s": self.setup_s,
            "cycle_s.p50": median([p.wall_s for p in ps]),
            "rows_per_s": sum(p.rows for p in ps) / sum(p.wall_s for p in ps),
            "jobs_per_cycle": median([p.jobs for p in ps]),
            "write_mb_per_cycle": median([p.bytes_written for p in ps]) / 1e6,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self, ev: EventLog) -> dict[str, float]:
        traced = [p for p in self.passes if p.traced]
        n = len(traced)
        spans = self.tracer.spans
        out: dict[str, float] = {}
        for name in LANES:
            b = [s for s in spans if s.name == f"lane.{name}.build"]
            x = [s for s in spans if s.name == f"lane.{name}.exec"]
            c = ev.cost(b + x)
            out[f"lane.{name}.build_s"] = sum(s.wall for s in b) / n
            out[f"lane.{name}.exec_s"] = sum(s.wall for s in x) / n
            out[f"lane.{name}.jobs"] = c.jobs / n
            out[f"lane.{name}.python_worker_boot_ms"] = c.python_worker_boot_ms / n
            out[f"lane.{name}.spill_bytes"] = c.spill_bytes / n
        everything = ev.cost(spans)
        out["spark.untagged_jobs"] = ev.untagged_jobs([(p.start, p.end) for p in traced])
        out["spark.gc_ms"] = everything.gc_ms / n
        out["spark.spill_bytes"] = everything.spill_bytes / n
        traced_p50 = median([p.wall_s for p in traced])
        out["trace.cycle_s.p50"] = traced_p50
        out["trace.overhead_s"] = traced_p50 - median(
            [p.wall_s for p in self.passes if not p.traced])
        return out


def run(ws, clock, root: str, seed: int, seconds: float, trace: bool) -> dict:
    r = LaneRun(ws, root, seed, trace)
    try:
        r.run(clock, seconds)
    finally:
        r.spark.stop()
    spans = None
    if trace:
        ev = EventLog(os.path.join(ws.path, "eventlog"))
        metrics = r.per_layer(ev)
        spans = ws.kept(f"spans-query_lanes-seed{seed}.json")
        r.tracer.dump(spans, ev)
    else:
        metrics = r.end_to_end()
    attempted = len(LANES) * len(r.passes)
    bad = r.memo_hits | r.wrong
    failed = sum(1 for p in r.passes for n in LANES if n in p.failed or n in bad)
    notes = {"passes": len(r.passes), "failed_lane_ratio": failed / attempted,
             "lanes_whose_job_count_moved": r.job_count_moved}
    return {"correct": not r.failures, "attempted": attempted, "failed": failed,
            "metrics": metrics, "notes": notes, "problems": r.failures, "spans": spans}
