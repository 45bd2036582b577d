"""Parquet compaction: content-preserving, size-targeted, atomic."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from feathr_spark.sources.compact import compact_parquet, dataset_file_stats


def _content_hash(spark, path):
    df = spark.read.parquet(path)
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in
            sorted(df.columns)]
    return df.agg(F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first()[0]


def test_compact_reduces_files_preserves_content(spark, tmp_path):
    path = str(tmp_path / "ds")
    # 64 tiny files — the post-incremental-write population
    (spark.range(0, 20_000)
     .select(F.col("id"), (F.col("id") % 7).alias("g"),
             F.concat(F.lit("row_"), F.col("id").cast("string")).alias("s"))
     .repartition(64).write.parquet(path))
    before = dataset_file_stats(path)
    assert before["files"] >= 64
    h0 = _content_hash(spark, path)

    rep = compact_parquet(spark, path, target_file_mb=256)
    assert not rep["skipped"]
    assert rep["after"]["files"] < before["files"]
    assert rep["after"]["files"] <= 2
    assert _content_hash(spark, path) == h0            # nothing lost
    assert spark.read.parquet(path).count() == 20_000
    # no stray swap directories
    assert not os.path.exists(path + ".__compact_tmp")
    assert not os.path.exists(path + ".__compact_old")


def test_compact_sort_by_clusters_files(spark, tmp_path):
    path = str(tmp_path / "sorted")
    # pad rows so the dataset spans several MB and the 1 MB target
    # yields multiple range-partitioned files
    (spark.range(0, 40_000)
     .select((F.col("id") * 2654435761 % 100_000).alias("ts"),
             F.col("id").alias("v"),
             F.sha2(F.col("id").cast("string"), 512).alias("pad"))
     .repartition(32).write.option("compression", "none").parquet(path))
    h0 = _content_hash(spark, path)
    rep = compact_parquet(spark, path, target_file_mb=1, sort_by=["ts"])
    assert _content_hash(spark, path) == h0
    # range partitioning -> per-file ts ranges are disjoint (file skipping)
    import pyarrow.parquet as pq
    ranges = []
    for root, _d, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                t = pq.read_table(os.path.join(root, n), columns=["ts"])
                if t.num_rows:
                    col = t.column("ts").to_pylist()
                    ranges.append((min(col), max(col)))
    assert len(ranges) >= 2, "expected multiple output files at 1 MB target"
    ranges.sort()
    for (lo_a, hi_a), (lo_b, _hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, "file ts ranges overlap — not range-clustered"


def test_compact_skips_already_compact(spark, tmp_path):
    path = str(tmp_path / "one")
    spark.range(0, 10).coalesce(1).write.parquet(path)
    rep = compact_parquet(spark, path)
    assert rep["skipped"] and rep["before"]["files"] <= 2


def test_compact_keeps_directory_partitions(spark, tmp_path):
    path = str(tmp_path / "parts")
    (spark.range(0, 5_000)
     .select(F.col("id"), (F.col("id") % 3).cast("string").alias("src"))
     .repartition(24).write.partitionBy("src").parquet(path))
    h0 = _content_hash(spark, path)
    rep = compact_parquet(spark, path, partition_by=["src"])
    assert not rep["skipped"]
    assert sorted(d for d in os.listdir(path) if d.startswith("src=")) == \
        ["src=0", "src=1", "src=2"]
    assert _content_hash(spark, path) == h0


def test_compact_partitioned_file_counts_stay_compacted(spark, tmp_path):
    # ADVICE r4: with partition_by, a plain repartition(n) could emit up
    # to n x #values files; the partition-aware shuffle must keep the
    # per-directory file count near n_files/#values (here: 1 each)
    path = str(tmp_path / "pf")
    (spark.range(0, 30_000)
     .select(F.col("id"), (F.col("id") % 4).cast("string").alias("src"),
             F.sha2(F.col("id").cast("string"), 256).alias("pad"))
     .repartition(40).write.partitionBy("src").parquet(path))
    h0 = _content_hash(spark, path)
    rep = compact_parquet(spark, path, target_file_mb=256,
                          partition_by=["src"])
    assert not rep["skipped"]
    assert _content_hash(spark, path) == h0
    for d in os.listdir(path):
        if d.startswith("src="):
            n = sum(1 for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet"))
            assert n <= 2, f"{d} has {n} files"

    # with sort_by as well, the range shuffle must lead with the
    # partition columns: ranging on sort_by alone sends every partition
    # value to every task (n_files x #values files again)
    path = str(tmp_path / "pf_sorted")
    (spark.range(0, 30_000)
     .select(F.col("id"), (F.col("id") % 4).cast("string").alias("src"),
             F.sha2(F.col("id").cast("string"), 512).alias("pad"))
     .repartition(40).write.option("compression", "none")
     .partitionBy("src").parquet(path))
    h0 = _content_hash(spark, path)
    rep = compact_parquet(spark, path, target_file_mb=1, sort_by=["id"],
                          partition_by=["src"])
    assert rep["n_files_planned"] >= 3  # several ranges, or nothing to check
    assert _content_hash(spark, path) == h0
    for d in os.listdir(path):
        if d.startswith("src="):
            n = sum(1 for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet"))
            assert n <= 2, f"{d} has {n} files (sort_by + partition_by)"


def test_compact_through_file_uri_and_stranded_old_recovery(spark, tmp_path):
    # the swap + byte accounting must run through the Hadoop FS API:
    # exercise an explicit file:// URI end-to-end, then verify that a
    # run entering with a stranded .__compact_old (crash between the
    # two renames) auto-recovers before compacting
    local = str(tmp_path / "uri_ds")
    uri = "file://" + local
    (spark.range(0, 8_000)
     .select(F.col("id"), (F.col("id") % 5).alias("g"))
     .repartition(16).write.parquet(uri))
    h0 = _content_hash(spark, uri)
    rep = compact_parquet(spark, uri, target_file_mb=256)
    assert not rep["skipped"]
    assert rep["after"]["files"] < rep["before"]["files"]
    assert _content_hash(spark, uri) == h0

    # simulate the crash window: dataset stranded at .__compact_old
    os.rename(local, local + ".__compact_old")
    assert not os.path.exists(local)
    rep2 = compact_parquet(spark, uri, target_file_mb=256)
    assert os.path.exists(local)
    assert not os.path.exists(local + ".__compact_old")
    assert _content_hash(spark, uri) == h0
    assert spark.read.parquet(uri).count() == 8_000
