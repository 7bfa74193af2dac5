"""Parquet target sink — the bulk (Spark-native) replication path.

This is the path SURVEY §7.1 says to prefer: instead of per-row
``SELECT json`` hydration (K:825-852), join the changed PK set back to
the source DataFrame (the runner does it once per cycle for all due
tiles) and write Parquet directly (bulkReplicateToParquet P:792-857):

  source ⋈ broadcast(changed_pks) -> optional TTL filter ->
  size-estimated coalesce -> parquet {root}/{ks}/{tbl}/{tile}/{op}/

Write sizing carries the reference's knobs: maxRecordsPerFile
10,500,000 + snappy (writeWithSizeControl K:2224-2231), 32 MB target
files via the sampled row-size model (estimateAndCoalesce P:698-732).

Scale note: the changed-PK set is small relative to the table (that's
the point of CDC), so the broadcast is the right strategy; if a delta
ever approaches table size, drop the hint and let AQE choose.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_RECORDS_PER_FILE = 10_500_000  # K:2228
DEFAULT_TARGET_FILE_MB = 32  # P:425-426


def hydrate_changes(
    source: DataFrame,
    changed_pks: DataFrame,
    pk_cols: list[str],
    broadcast_pks: bool = True,
) -> DataFrame:
    """Changed-PK set -> full source rows (P:809-816). PK columns are
    aligned by name and cast to the source's types before the join
    (the reference casts explicitly; names are enough here). Other columns
    of ``changed_pks`` (the runner's tile and op tags) ride along."""
    keys = changed_pks.withColumns({c: F.col(c).cast(source.schema[c].dataType) for c in pk_cols})
    if broadcast_pks:
        keys = F.broadcast(keys)
    return source.join(keys, pk_cols, "inner")


def write_with_size_control(
    df: DataFrame,
    path: str,
    num_partitions: int | None = None,
    max_records_per_file: int = MAX_RECORDS_PER_FILE,
    mode: str = "overwrite",
) -> None:
    """Coalesce + bounded file size + snappy (K:2224-2231)."""
    out = df.coalesce(num_partitions) if num_partitions else df
    (out.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .option("compression", "snappy")
        .parquet(path))


def bulk_replicate_to_parquet(
    source: DataFrame,
    changed_pks: DataFrame,
    pk_cols: list[str],
    root: str,
    keyspace: str,
    table: str,
    tile: int,
    op: str,
    batch_id: str,
    avg_row_bytes: float | None = None,
    ttl_filter: tuple[str, str, int] | None = None,
) -> str:
    """Full bulk path (P:792-857). Returns the output directory."""
    from ..stats import estimate_partitions_for_write
    from ..transform import apply_ttl_filter

    hydrated = hydrate_changes(source, changed_pks.select(*pk_cols), pk_cols)
    if ttl_filter is not None:
        col, pred, val = ttl_filter
        hydrated = apply_ttl_filter(hydrated, col, pred, val)
    hydrated = hydrated.dropDuplicates(pk_cols)  # P:647's dropDuplicates

    n_parts = None
    if avg_row_bytes is not None:
        # count once, reuse for sizing; at scale the PK set count is known
        # from discovery stats so this is metadata, not a second scan
        n_parts = estimate_partitions_for_write(
            avg_row_bytes, hydrated.count(), DEFAULT_TARGET_FILE_MB)
    out_dir = os.path.join(root, keyspace, table, str(tile), op, batch_id)
    write_with_size_control(hydrated, out_dir, num_partitions=n_parts)
    return out_dir


def parquet_dir_stats(spark, path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of the data files under a parquet dir —
    driver-side Hadoop FileSystem METADATA listing only, no data read.
    Works for any fs:// scheme Spark can reach (local, s3a, hdfs)."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    n = total = 0
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            n += 1
            total += st.getLen()
    return n, total


def compact_parquet(
    spark,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = DEFAULT_TARGET_FILE_MB * 1024 * 1024,
    shuffle: bool = False,
    src_stats: tuple[int, int] | None = None,
) -> int:
    """Bin-pack a fragmented parquet directory into ceil(total/target)
    files; returns the ACTUAL output file count (coalesce can produce
    fewer than requested when the source has fewer input partitions).
    ``src_stats=(n_files, total_bytes)`` lets a caller that already
    listed the source (cli compact) skip the second remote LIST — the
    listing is the expensive driver-side step on a 100k-splinter
    prefix. The size-controlled-writer
    family (K:2224-2231, P:698-732) sizes a FIRST write; this is the
    maintenance half — the reference's 2-minute incremental backups
    (README.MD:83-90) accrete splinter files that at 100 TB mean
    footer-per-file reads, task-per-file scheduling, and driver-side
    listing pain, so periodic compaction is part of operating the sink.

    The output count comes from actual on-disk (compressed) bytes via a
    driver metadata listing — no data scan, no row-size model error.
    Default is ``coalesce`` (map-side merge, NO shuffle: adjacent
    splinters concatenate into tasks); pass ``shuffle=True`` when the
    splinters are pathologically skewed and balanced outputs are worth
    one shuffle of the data."""
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    n_files, total = (src_stats if src_stats is not None
                      else parquet_dir_stats(spark, src_dir))
    if n_files == 0:
        raise ValueError(f"no parquet data files under {src_dir}")
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(src_dir)
    out = df.repartition(n_out) if shuffle else df.coalesce(n_out)
    (out.write.mode("overwrite")
        .option("compression", "snappy").parquet(dst_dir))
    written, _ = parquet_dir_stats(spark, dst_dir)
    return written
