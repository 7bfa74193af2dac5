"""The CDC workload: the CLI's replication wiring driven in a closed loop.

The benchmark process is the only client. It publishes mutation batch k
to the parquet source only after cycle k-1 has returned, and a cycle is
``pipe.discover()`` then ``pipe.replicate()`` on the pipeline
``cli._pipeline`` builds (parquet source -> runner.CdcPipeline ->
snapshot / ledger / diff -> the CLI's sink closure ->
sinks.parquet_sink). A cycle's wall time is therefore the
source-to-target lag of its batch. After every cycle, outside the timed
region, the run checks the per-op stats against the generator's counts,
that no tile is left unconsumed in the ledger, and that the replayed
target equals the source version just replicated.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

import datagen
from common import (KEYSPACE, bytes_written_since, jobs_submitted, median,
                    peak_rss_mb, start_spark)
from converge import TargetReplay
from spans import EventLog, Tracer

SHUFFLE_PARTITIONS = 32  # the CLI's --shuffle-partitions default
MIN_CYCLES = 2  # measured cycles per run, whatever --seconds allows
TRACE_MIN_CYCLES = 4  # ... per traced run: untraced, traced, traced, untraced


@dataclass(frozen=True)
class CdcSpec:
    table: str
    pk: list[str]
    rows: int
    tiles: int
    changed: int  # keys changed per cycle
    warmup: int  # delta cycles after the historical load that count as set-up


SPECS = {
    # cycle time falls ~30% over the first delta cycles (JIT warm-up)
    "cdc_orders_delta": CdcSpec("orders", ["o_orderkey"], 150_000, 4, 6_000, 2),
}


@dataclass
class Cycle:
    index: int
    wall_s: float
    start: float  # epoch seconds, to join with the event log
    end: float
    jobs: int
    bytes_written: int
    changed: int  # keys replicated, from ReplicationStats
    compared: int  # keys the diff compared (|curr| + deletes)
    probes: int  # CLI sink emptiness probes run
    probe_hits: int  # ... that found rows
    traced: bool
    failure: str | None = None


class CdcRun:
    def __init__(self, name: str, spec: CdcSpec, ws, seed: int, trace: bool):
        self.spec = spec
        self.ws = ws
        self.rng = np.random.default_rng(seed)
        self.spark = start_spark(ws, f"perfbench-{name}", SHUFFLE_PARTITIONS, trace)
        self.tracer = Tracer(self.spark) if trace else None
        if self.tracer is not None:
            self._patch_modules()
        self.source_path = os.path.join(ws.path, "source", spec.table)
        os.makedirs(os.path.dirname(self.source_path), exist_ok=True)
        self.source = datagen.MutationSource(
            self.rng, datagen.orders(self.rng, spec.rows), spec.pk,
            self.source_path, "o_totalprice")
        self.cycles: list[Cycle] = []
        self.failures: list[str] = []
        self.setup_s = 0.0
        self.n_setup = 0  # cycles that belong to set-up
        self.peak_rss_mb = 0.0

    # -- tracing -----------------------------------------------------------
    def _patch_modules(self) -> None:
        """Wrap module functions before cli._pipeline binds them."""
        from cql_replicator_spark import runner, transform
        from cql_replicator_spark.sinks import parquet_sink

        t = self.tracer
        transform.build_source_pipeline = t.wrap(
            transform.build_source_pipeline, "source.build")
        parquet_sink.bulk_replicate_to_parquet = t.wrap(
            parquet_sink.bulk_replicate_to_parquet, "parquet_sink.bulk_replicate")
        parquet_sink.hydrate_changes = t.wrap(
            parquet_sink.hydrate_changes, "parquet_sink.hydrate")
        runner.compute_changes_tagged = t.wrap(
            runner.compute_changes_tagged, "diff.compute_changes_tagged")
        runner.assign_tiles = t.wrap(runner.assign_tiles, "tiling.assign_tiles")

    def _instrument(self, pipe) -> None:
        t = self.tracer
        t.wrap_methods(pipe, "runner", ["discover", "replicate", "replicate_tile"])
        t.wrap_methods(pipe.store, "snapshot",
                       ["write_snapshot", "read_snapshot", "expire_snapshots"])
        t.wrap_methods(pipe.ledger, "ledger",
                       ["can_discover", "record_discovery", "replication_plan",
                        "mark_replication_complete"])
        t.wrap_methods(pipe.stats, "stats", ["put"])
        pipe.sink = t.wrap(pipe.sink, "cli.sink")
        pipe.source = t.wrap(pipe.source, "source.source")
        pipe.pk_source = t.wrap(pipe.pk_source, "source.pk_source")

    # -- pipeline and cycles -------------------------------------------------
    def new_pipeline(self, tag: str):
        from cql_replicator_spark import cli

        args = argparse.Namespace(
            source=self.source_path, pk=",".join(self.spec.pk), ts_col="updated_at",
            table=self.spec.table, target=self.ws.sub(tag, "target"),
            workdir=self.ws.sub(tag, "state"), tiles=self.spec.tiles,
            mapping=None, mapping_b64=None)
        pipe = cli._pipeline(self.spark, args)
        if self.tracer is not None:
            self._instrument(pipe)
        replay = TargetReplay(args.target, self.spec.table, self.spec.pk,
                              self.source.table.schema)
        return pipe, args, replay

    def cycle(self, pipe, args, replay, batch, traced: bool) -> Cycle:
        idx = len(self.cycles)
        if self.tracer is not None:
            self.tracer.enabled, self.tracer.cycle = traced, idx
        failure, stats = None, []
        start = time.time()
        j0 = jobs_submitted(self.spark)
        t0 = time.perf_counter()
        try:
            pipe.discover()
            stats = pipe.replicate()
        except Exception:  # noqa: BLE001 - a failed cycle is a measured outcome
            failure = "raised: " + traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        end = time.time()
        jobs = jobs_submitted(self.spark) - j0
        if self.tracer is not None:
            self.tracer.enabled, self.tracer.cycle = False, None
        written = bytes_written_since([args.workdir, args.target], start)
        c = Cycle(idx, wall, start, end, jobs, written,
                  changed=sum(s.primaryKeys for s in stats),
                  compared=self.source.table.num_rows
                  + sum(s.deletedPrimaryKeys for s in stats),
                  probes=3 * len(stats),
                  probe_hits=sum((s.insertedPrimaryKeys > 0) + (s.updatedPrimaryKeys > 0)
                                 + (s.deletedPrimaryKeys > 0) for s in stats),
                  traced=traced, failure=failure)
        if c.failure is None:
            c.failure = self.check(args, replay, stats, batch)
        if c.failure is not None:
            self.failures.append(f"cycle {idx}: {c.failure}")
            print(f"[perfbench] cycle {idx} failed: {c.failure}", file=sys.stderr)
        self.cycles.append(c)
        return c

    def check(self, args, replay, stats, batch) -> str | None:
        from cql_replicator_spark.ledger import Ledger

        got = (sum(s.insertedPrimaryKeys for s in stats),
               sum(s.deletedPrimaryKeys for s in stats),
               sum(s.updatedPrimaryKeys for s in stats))
        want = (batch.inserts, batch.deletes, batch.updates)
        if got != want:
            return f"stats (ins, del, upd) {got} != generator {want}"
        ledger = Ledger(os.path.join(args.workdir, "ledger.json"))
        open_tiles = [t for t in range(self.spec.tiles)
                      if ledger.replication_plan(KEYSPACE, self.spec.table, t) is not None]
        if open_tiles:
            return f"tiles left unconsumed in the ledger: {open_tiles}"
        replay.replay()
        return replay.mismatch(self.source.table)

    # -- the run -------------------------------------------------------------
    def run(self, clock, seconds: float) -> None:
        """Set-up (historical load + warm-up cycles), then measured cycles
        for ``seconds`` and at least MIN_CYCLES (TRACE_MIN_CYCLES when
        traced). A traced run traces
        measured cycles in the order untraced, traced, traced,
        untraced (repeated), so a steady drift left after warm-up
        cancels in traced minus untraced."""
        trace = self.tracer is not None
        spec = self.spec
        pipe, args, replay = self.new_pipeline("run")
        self.cycle(pipe, args, replay, self.source.publish_initial(), traced=False)
        for _ in range(spec.warmup):
            self.cycle(pipe, args, replay, self.source.publish_next(spec.changed),
                       traced=False)
        self.setup_s = clock.elapsed()
        self.n_setup = len(self.cycles)

        min_cycles = TRACE_MIN_CYCLES if trace else MIN_CYCLES
        t0 = time.perf_counter()
        while (len(self.measured()) < min_cycles
               or time.perf_counter() - t0 < seconds):
            traced = trace and len(self.measured()) % 4 in (1, 2)
            self.cycle(pipe, args, replay, self.source.publish_next(spec.changed),
                       traced=traced)

        # untraced runs already check every row after every cycle; the
        # key-level audit runs where its cost is reported, per layer
        if trace:
            self._reconcile(replay)
        self.peak_rss_mb = peak_rss_mb(self.spark)
        replay.close()

    def _reconcile(self, replay) -> None:
        """ReconcileJob over the final source and the replayed target,
        traced once per run outside the cycles (``reconcile.run.*``)."""
        from cql_replicator_spark.reconcile import ReconcileJob

        replayed = os.path.join(self.ws.sub("replayed"), "target.parquet")
        replay.export(replayed)
        job = ReconcileJob(self.spark, self.ws.sub("reconcile"), self.spec.pk,
                           total_tiles=self.spec.tiles)
        self.tracer.enabled = True
        try:
            result = self.tracer.wrap(job.run, "reconcile.run")(
                self.spark.read.parquet(self.source_path),
                self.spark.read.parquet(replayed))
        finally:
            self.tracer.enabled = False
        if not result.in_sync:
            self.failures.append(
                f"reconcile: {result.source_minus_target} missing, "
                f"{result.target_minus_source} extra")

    # -- results -------------------------------------------------------------
    def measured(self, traced: bool | None = None) -> list[Cycle]:
        return [c for c in self.cycles[self.n_setup:]
                if traced is None or c.traced == traced]

    def end_to_end(self) -> dict[str, float]:
        ms = self.measured(traced=False)
        ok = [c for c in ms if c.failure is None]
        return {
            "setup_s": self.setup_s,
            "cycle_s.p50": median([c.wall_s for c in ms]),
            "rows_per_s": sum(c.changed for c in ok) / sum(c.wall_s for c in ok) if ok else 0.0,
            "jobs_per_cycle": median([c.jobs for c in ms]),
            "write_mb_per_cycle": median([c.bytes_written for c in ms]) / 1e6,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self, ev: EventLog) -> dict[str, float]:
        traced = self.measured(traced=True)
        ids = {c.index for c in traced}
        n = len(traced)
        by: dict[str, list] = {}
        for sp in self.tracer.spans:
            if sp.cycle in ids or sp.name == "reconcile.run":
                by.setdefault(sp.name, []).append(sp)

        def spans(name):
            return by.get(name, [])

        def wall(name):
            return sum(s.wall for s in spans(name)) / n

        def self_s(name):
            return sum(s.self_time() for s in spans(name)) / n

        def calls(name):
            return len(spans(name)) / n

        def cost(name):
            return ev.cost(spans(name))

        out: dict[str, float] = {}
        for short, name in (("discover", "runner.discover"),
                            ("replicate_tile", "runner.replicate_tile")):
            out[f"runner.{short}.wall_s"] = wall(name)
            out[f"runner.{short}.self_s"] = self_s(name)
            out[f"runner.{short}.jobs"] = cost(name).jobs / n
        out["runner.replicate_tile.shuffle_bytes"] = cost("runner.replicate_tile").shuffle_bytes / n

        cycle_spans = [s for s in self.tracer.spans if s.cycle in ids]
        groups = {s.group for s in cycle_spans}
        out["source.build_s"] = wall("source.build")
        out["source.calls_per_cycle"] = calls("source.build")
        out["source.scans_per_cycle"] = sum(len(v) for g, v in ev.source_scans.items()
                                            if g in groups) / n
        out["source.read_bytes_per_cycle"] = sum(v for g, v in ev.source_read_bytes.items()
                                                 if g in groups) / n
        out["tiling.assign_tiles.build_s"] = wall("tiling.assign_tiles")

        sw = cost("snapshot.write_snapshot")
        out.update({
            "snapshot.write.wall_s": wall("snapshot.write_snapshot"),
            "snapshot.write.calls": calls("snapshot.write_snapshot"),
            "snapshot.write.jobs": sw.jobs / n,
            "snapshot.write.tasks": sw.tasks / n,
            "snapshot.write.exec_cpu_ms": sw.exec_cpu_ms / n,
            "snapshot.write.output_bytes": sw.output_bytes / n,
            "snapshot.read.wall_s": wall("snapshot.read_snapshot"),
            "snapshot.expire.wall_s": wall("snapshot.expire_snapshots"),
        })
        for m in ("can_discover", "record_discovery", "replication_plan",
                  "mark_replication_complete"):
            out[f"ledger.{m}.wall_s"] = wall(f"ledger.{m}")
            out[f"ledger.{m}.calls"] = calls(f"ledger.{m}")

        out["diff.compute_changes_tagged.build_s"] = wall("diff.compute_changes_tagged")
        compared = sum(c.compared for c in traced)
        out["diff.changed_ratio"] = (sum(c.changed for c in traced) / compared
                                     if spans("diff.compute_changes_tagged") else 0.0)

        sink = spans("cli.sink")
        out["cli.sink.wall_s"] = wall("cli.sink")
        out["cli.sink.self_s"] = self_s("cli.sink")
        out["cli.sink.probe_jobs"] = ev.jobs_in(sink, "count at") / n
        probes = sum(c.probes for c in traced)
        out["cli.sink.probe_hit_ratio"] = (sum(c.probe_hits for c in traced) / probes
                                           if probes else 0.0)

        bulk = spans("parquet_sink.bulk_replicate")
        bc = ev.cost(bulk)
        out.update({
            "parquet_sink.bulk_replicate.wall_s": wall("parquet_sink.bulk_replicate"),
            "parquet_sink.bulk_replicate.calls": len(bulk) / n,
            "parquet_sink.bulk_replicate.jobs": bc.jobs / n,
            "parquet_sink.bulk_replicate.exec_run_ms": bc.exec_run_ms / n,
            "parquet_sink.bulk_replicate.exec_cpu_ms": bc.exec_cpu_ms / n,
            "parquet_sink.bulk_replicate.input_bytes": bc.input_bytes / n,
            "parquet_sink.bulk_replicate.output_bytes": bc.output_bytes / n,
            "parquet_sink.bulk_replicate.useful_ratio":
                (sum(1 for s in bulk if ev.cost([s]).output_records > 0) / len(bulk)
                 if bulk else 0.0),
            "parquet_sink.hydrate.build_s": wall("parquet_sink.hydrate"),
        })
        out["stats.put.wall_s"] = wall("stats.put")
        out["stats.put.calls"] = calls("stats.put")

        rec = spans("reconcile.run")
        rc = ev.cost(rec)
        out["reconcile.run.wall_s"] = sum(s.wall for s in rec)
        out["reconcile.run.jobs"] = rc.jobs
        out["reconcile.run.shuffle_bytes"] = rc.shuffle_bytes

        everything = ev.cost(cycle_spans)
        out["spark.untagged_jobs"] = ev.untagged_jobs([(c.start, c.end) for c in traced])
        out["spark.gc_ms"] = everything.gc_ms / n
        out["spark.spill_bytes"] = everything.spill_bytes / n

        tops = {c: 0.0 for c in ids}
        for name in ("runner.discover", "runner.replicate"):
            for s in spans(name):
                tops[s.cycle] += s.wall
        traced_p50 = median([c.wall_s for c in traced])
        out["trace.cycle_s.p50"] = traced_p50
        out["trace.overhead_s"] = traced_p50 - median([c.wall_s for c in self.measured(False)])
        out["trace.cycle_gap_s"] = median([c.wall_s - tops[c.index] for c in traced])
        return out


def run(name: str, ws, clock, seed: int, seconds: float, trace: bool) -> dict:
    r = CdcRun(name, SPECS[name], ws, seed, trace)
    try:
        r.run(clock, seconds)
    finally:
        r.spark.stop()
    measured = r.measured()
    spans = None
    if trace:
        ev = EventLog(os.path.join(ws.path, "eventlog"), r.source_path)
        metrics = r.per_layer(ev)
        spans = ws.kept(f"spans-{name}-seed{seed}.json")
        r.tracer.dump(spans, ev)
        if metrics["spark.untagged_jobs"]:
            r.failures.append(f"{metrics['spark.untagged_jobs']} untagged jobs")
    else:
        metrics = r.end_to_end()
    failed = sum(1 for c in measured if c.failure is not None)
    notes = {"cycles": len(measured), "failed_cycle_ratio": failed / len(measured),
             "setup_cycles": r.n_setup}
    return {"correct": not r.failures, "attempted": len(measured), "failed": failed,
            "metrics": metrics, "notes": notes, "problems": r.failures, "spans": spans}
