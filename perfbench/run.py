"""End-to-end benchmark of the CDC engine, with a traced per-layer run.

    python3 perfbench/run.py --workload cdc_orders_delta --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout: the engine is imported from
``./cql_replicator_spark`` and built from nothing else. Every input is
generated from ``--seed`` inside ``./.perfbench/`` (removed at exit).
``--trace 0`` prints the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics (0 for a layer the workload does not
use). Human-readable lines go first; the last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Workloads: see ``WORKLOADS`` below and BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from common import Clock, Workspace

WORKLOADS = ("cdc_orders_delta", "query_lanes")


def _clear_stale(root: str) -> None:
    """Drop workspaces left by runs whose process is gone."""
    base = os.path.join(root, ".perfbench")
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        pid = d.rsplit("-", 1)[-1]
        path = os.path.join(base, d)
        if os.path.isdir(path) and not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(path, ignore_errors=True)


def _environment(root: str, ws: Workspace) -> None:
    """Keep the run, its JVM and its Python workers inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = ws.tmp
    os.environ["SPARK_LOCAL_DIRS"] = ws.sub("spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def _stop_jvm() -> None:
    """Close the gateway JVM's stdin (it exits on EOF) and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()  # close py4j's side first: no late calls into a dead JVM
    if proc.stdin:
        proc.stdin.close()
    proc.wait(timeout=60)


def _metric_spec(root: str, trace: bool) -> list[dict]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main(argv: list[str] | None = None) -> int:
    clock = Clock()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cql_replicator_spark")):
        print("perfbench: run from the root of a checkout that holds "
              "cql_replicator_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    wanted = _metric_spec(root, bool(args.trace))
    _clear_stale(root)
    ws = Workspace(root, args.workload)
    _environment(root, ws)
    try:
        if args.workload == "cdc_orders_delta":
            import cdc
            out = cdc.run(args.workload, ws, clock, args.seed, args.seconds,
                          bool(args.trace))
        else:
            import lanes
            out = lanes.run(ws, clock, root, args.seed, args.seconds, bool(args.trace))
    finally:
        _stop_jvm()
        shutil.rmtree(ws.path, ignore_errors=True)

    names = {m["name"] for m in wanted}
    unknown = set(out["metrics"]) - names
    missing = names - set(out["metrics"])
    if unknown or (missing and not args.trace):
        raise KeyError(f"metrics not in BENCHMARK.json: {sorted(unknown)}; "
                       f"end-to-end metrics not reported: {sorted(missing)}")
    # a per-layer metric the workload does not report is a layer it bypasses
    metrics = {m["name"]: {"value": float(out["metrics"].get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    for name, v in metrics.items():
        print(f"{args.workload:24s} {name:56s} {v['value']:>16.6g} {v['unit']}")
    for k, v in out["notes"].items():
        print(f"{args.workload:24s} {k:56s} {v:>16.6g}")
    for p in out["problems"]:
        print(f"{args.workload:24s} PROBLEM {p}")
    if out["spans"]:
        print(f"{args.workload:24s} spans and their Spark cost: {out['spans']}")
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
