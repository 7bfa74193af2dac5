"""Shared plumbing: the run's workspace, the Spark session, and the job,
memory and bytes-written counters every workload reads."""

from __future__ import annotations

import os
import statistics
import time

KEYSPACE = "default"  # the CLI's single-namespace layout (cli.KEYSPACE)


class Workspace:
    """Scratch tree for one run, inside the checkout: generated inputs,
    engine state, sink output, Spark local dirs, the event log and the
    temporary files lanes stage. Removed when the run ends."""

    def __init__(self, root: str, name: str):
        self.path = os.path.join(root, ".perfbench", f"{name}-{os.getpid()}")
        self.tmp = self.sub("tmp")

    def kept(self, filename: str) -> str:
        """A path beside the workspace that outlives the run."""
        return os.path.join(os.path.dirname(self.path), filename)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def start_spark(ws: Workspace, app: str, shuffle_partitions: int,
                trace: bool):
    """A session built by the package's own factory with the settings
    the caller's surface uses, plus what keeps the run inside its
    workspace. Trace runs also write the uncompressed event log."""
    from cql_replicator_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.local.dir": ws.sub("spark-local"),
        "spark.sql.warehouse.dir": ws.sub("warehouse"),
        # no JVM temp or hsperfdata files outside the workspace
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={ws.tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={ws.tmp}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + ws.sub("eventlog"),
            # plan metadata carries full paths (source-scan matching)
            "spark.sql.maxMetadataStringLength": "4096",
        })
    return get_spark(app, extra_conf=conf)


def jobs_submitted(spark) -> int:
    """Jobs the DAG scheduler has handed out ids to so far; the
    difference across a region is the region's job count."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def rdd_mark(spark) -> int:
    """A fresh RDD id: every RDD created after this call has a larger
    one."""
    return int(spark.sparkContext._jsc.sc().newRddId())


def reused_rdds(spark, first_job: int, end_job: int, mark: int) -> list[int]:
    """RDDs older than ``mark`` that jobs ``first_job`` .. ``end_job - 1``
    read, skipped stages included. A call that builds its plan after
    ``mark`` reads such an RDD only when data computed before it (a
    persisted frame, reused shuffle output) serves it: a memo hit.
    Unlike job counts, this does not move when adaptive execution
    re-plans query stages in another order."""
    def ints(seq) -> list[int]:  # a Scala Seq[Int], in one gateway call
        return [int(x) for x in seq.mkString(",").split(",") if x]

    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # the status store lags the scheduler
    store = sc.statusStore()
    old: set[int] = set()
    for job in range(first_job, end_job):
        for stage in ints(store.job(job).stageIds()):
            old.update(r for r in ints(store.lastStageAttempt(stage).rddIds()) if r < mark)
    return sorted(old)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python driver plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def bytes_written_since(roots: list[str], since: float) -> int:
    """Size of the files under ``roots`` created or rewritten at or
    after wall time ``since`` (Spark's checksum side files included:
    the engine writes them too)."""
    total = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for name in files:
                try:
                    st = os.stat(os.path.join(d, name))
                except FileNotFoundError:  # expired while walking
                    continue
                if st.st_mtime >= since:
                    total += st.st_size
    return total


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Clock:
    """Wall time since the benchmark process started its own code."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0
