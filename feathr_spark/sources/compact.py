"""Parquet dataset compaction — the small-file maintenance pass.

Incremental pipelines in this repo append output in many small pieces:
per-epoch dynamic-partition overwrites (streaming/dedup.py), per-cutoff
materialization snapshots (materialize.py), per-wave shard files
(sources/shards.py). At 100 TB the resulting file population is the
classic small-file problem — scan planning cost, footer overhead, and
task fan-out all scale with file COUNT, not bytes. Compaction rewrites
a dataset into size-targeted files, optionally re-sorted for
row-group/file skipping, and swaps it in with a two-rename protocol.

Reference analogue: table-maintenance `rewrite_data_files` of the
Iceberg ecosystem the reference targets for storage (SURVEY §2.1
bucketed/Iceberg rows); here as a connector-free parquet form.

Storage: byte accounting and the swap renames run through the Hadoop
FileSystem API (:mod:`feathr_spark.fsio`), so ``path`` may be local,
``hdfs://`` or ``s3a://`` (on object stores without atomic rename the
swap degrades to copy-rename semantics of the store's Hadoop
connector — prefer table formats there). Reference analogue:
offline/util/HdfsUtils.scala / SparkIOUtils.scala.
"""

from __future__ import annotations

import time
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from feathr_spark import fsio


def dataset_file_stats(path: str,
                       spark: Optional[SparkSession] = None) -> dict:
    """File-population stats for a parquet dataset directory:
    ``{files, bytes, mean_file_mb, small_files}`` (small = <8 MB, the
    regime where footer+planning overhead dominates)."""
    files = fsio.file_sizes(path, spark=spark)
    total = sum(files)
    return {
        "files": len(files),
        "bytes": total,
        "mean_file_mb": round(total / len(files) / 2**20, 3) if files else 0.0,
        "small_files": sum(1 for s in files if s < 8 * 2**20),
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    sort_by: Sequence[str] = (),
    partition_by: Sequence[str] = (),
    compression: Optional[str] = None,
    min_files_to_compact: int = 2,
) -> dict:
    """Rewrite the parquet dataset at ``path`` into ~``target_file_mb``
    files and swap it in. Returns a report with before/after file stats.

    - ``sort_by``: range-partition + sort within files on these columns
      (clusters row groups for min/max skipping — e.g. ``(source, ts)``
      so time-range scans prune files); with ``partition_by`` the range
      leads with the partition columns, and when every partition value
      fits one file the values are hash-placed instead (exactly one
      sorted file per directory). Without it, a plain coalesce-style
      repartition preserves existing order per file.
    - ``partition_by``: re-emit these as directory partitions (pass the
      existing partition columns to keep the layout). The shuffle then
      hash-partitions on the partition columns (plus a spreader when
      more tasks than partition values are needed) so each task writes
      into FEW partition directories — a plain ``repartition(n)`` would
      let every task emit one file per partition value, exploding the
      file count right back (up to n x #values).
    - Datasets already at ``min_files_to_compact`` files or fewer are
      left untouched (report says ``skipped``).

    Swap protocol (two renames, NOT atomic as a unit): the rewrite lands
    in ``<path>.__compact_tmp``; then (1) ``path`` renames to
    ``<path>.__compact_old``, (2) tmp renames to ``path``, (3) old is
    deleted. No state is ever half-written, but there IS a reader-visible
    gap between (1) and (2) where ``path`` does not exist — concurrent
    readers can hit file-not-found during the swap; schedule compaction
    in a maintenance window or use a table format (Iceberg) for
    read-during-rewrite. A crash between (1) and (2) strands the
    original at ``<path>.__compact_old`` with nothing at ``path``;
    ``compact_parquet`` detects exactly that state on entry and
    auto-recovers (renames the old back) before proceeding, so a re-run
    after any crash converges. Scale: one scan + one exchange; file
    sizing derives from the dataset's REAL bytes, not a row-count guess.
    """
    base = path.rstrip("/")
    tmp = base + ".__compact_tmp"
    old = base + ".__compact_old"
    # crash recovery: a previous run that died between the two renames
    # left the dataset stranded at `old` and nothing at `path` — restore
    # it before doing anything else
    if fsio.exists(old, spark) and not fsio.exists(base, spark):
        if not fsio.rename(old, base, spark):
            raise IOError(
                f"found stranded {old} with no dataset at {base} but could "
                f"not rename it back; recover manually")
    before = dataset_file_stats(path, spark)
    if before["files"] <= min_files_to_compact:
        return {"path": path, "skipped": True, "before": before,
                "after": before, "wall_s": 0.0}
    t0 = time.monotonic()
    n_files = max(1, round(before["bytes"] / (target_file_mb * 2**20)))
    df: DataFrame = spark.read.parquet(path)
    keys = list(partition_by) + [c for c in sort_by if c not in partition_by]
    if partition_by:
        # hash-partition on the directory-partition columns so each task
        # writes into few directories (a plain repartition(n) lets every
        # task emit one file per partition value — up to n x #values tiny
        # files). When n_files exceeds the value count, each value is
        # split across ~n_files/#values tasks (by sort-key range, else a
        # hash spreader) so large partitions still hit the size target.
        # The distinct count is one column-pruned scan.
        from pyspark.sql import functions as F
        pcols = list(partition_by)
        n_vals = df.select(*pcols).distinct().count()
        files_per_val = max(1, round(n_files / max(n_vals, 1)))
        if files_per_val == 1:
            out = df.repartition(max(n_vals, 1), *pcols)
        elif sort_by:  # partition columns lead: few dirs per task
            out = df.repartitionByRange(n_vals * files_per_val, *keys)
        else:
            # pmod, not abs(hash) % n: abs(Long.MIN_VALUE) throws under
            # ANSI mode and % keeps the sign
            spread = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                            F.lit(files_per_val))
            out = (df.withColumn("__spread", spread)
                     .repartition(n_vals * files_per_val, *pcols, "__spread")
                     .drop("__spread"))
    elif sort_by:
        out = df.repartitionByRange(n_files, *keys)
    else:
        out = df.repartition(n_files)
    if sort_by:
        out = out.sortWithinPartitions(*keys)
    fsio.delete(tmp, recursive=True, spark=spark)
    writer = out.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*list(partition_by))
    writer.parquet(tmp)
    fsio.delete(old, recursive=True, spark=spark)
    if not fsio.rename(base, old, spark):
        raise IOError(f"rename {base} -> {old} failed")
    if not fsio.rename(tmp, base, spark):
        # put the original back rather than leaving no dataset at path
        fsio.rename(old, base, spark)
        raise IOError(f"rename {tmp} -> {base} failed; original restored")
    fsio.delete(old, recursive=True, spark=spark)
    return {
        "path": path,
        "skipped": False,
        "before": before,
        "after": dataset_file_stats(path, spark),
        "target_file_mb": target_file_mb,
        "n_files_planned": n_files,
        "wall_s": round(time.monotonic() - t0, 3),
    }
