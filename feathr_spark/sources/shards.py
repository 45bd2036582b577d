"""Resumable sharded corpus writer — the "write N training shards"
step after :func:`feathr_spark.operators.corpus.shard_shuffle`, with
the same per-partition checkpoint/lineage/metrics discipline as
:mod:`feathr_spark.materialize` (north rule: a killed run resumes
without recomputing completed partitions).

Reference analogue: the HDFS daily/hourly sink's committed-directory
layout (feathr-impl offline/source/dataloader + sinks); here the
partition unit is the training shard rather than the date.

Scale shape (10^12 rows, 10^5 shards): shards are written in WAVES —
each wave is ONE Spark job writing ``wave_size`` shards through a
dynamic-partition overwrite (only that wave's ``shard=K`` directories
are replaced, so a re-run never clobbers committed shards), followed by
ONE bounded verification job over the wave's written bytes (row count +
order-independent checksum per shard, grouped — parquet footer metadata
plus one column-hash scan of just that wave), then an atomic manifest
commit per shard. Resume skips committed shards with a pure filter on
the deterministic shard column; an interrupted wave is rewritten whole
(torn output is never half-trusted). Driver work is O(#waves) actions +
O(#shards) tiny JSON writes — never a per-shard Spark job.

Storage note: manifest I/O (``_commit``/``is_committed``) and shard
discovery run through the Hadoop FileSystem API
(:mod:`feathr_spark.fsio`), resolved from the sink path's scheme — so
``sink_path`` may be local, ``hdfs://``, ``s3a://`` or any
Hadoop-compatible filesystem (reference analogue:
offline/util/HdfsUtils.scala / SparkIOUtils.scala). The data files are
written by Spark executors as usual.
"""

from __future__ import annotations

import time
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feathr_spark import fsio
from feathr_spark.materialize import (_commit, _publish_run_metrics,
                                      is_committed, read_manifest)
from feathr_spark.operators.corpus import shard_shuffle
from feathr_spark.session import codegen_counters, codegen_since


def _shard_dir(sink_path: str, k: int) -> str:
    # URI-style join so hdfs://... sinks work
    return sink_path.rstrip("/") + f"/shard={k}"


def write_shards(
    df: DataFrame,
    sink_path: str,
    n_shards: int,
    key_col: str = "doc_id",
    seed: int = 0,
    hash_col=None,
    wave_size: Optional[int] = None,
    resume: bool = True,
    with_checksum: bool = True,
    inputs: Sequence[str] = (),
) -> dict:
    """Shard ``df`` deterministically (:func:`shard_shuffle` semantics:
    ``shard``/``pos`` are pure functions of ``(key, seed)``) and write
    ``sink_path/shard=K/`` per shard, rows sorted by ``pos`` within
    each shard's files, each shard committed by a lineage manifest.

    Returns ``{written: [...], skipped: [...], metrics: {...}}``.
    Re-running after a kill skips every committed shard; because the
    shard assignment is content-deterministic, the resumed run's
    surviving shards are byte-identical to what a single run would have
    produced (retry-stability is the point of shard_shuffle — an
    ``orderBy(rand())`` layout could not resume).
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    spark = df.sparkSession
    t_run = time.monotonic()
    cg0 = codegen_counters(spark)
    # str(Column) is a stable rendering of the hash expression — enough
    # to detect a changed hash_col between runs without serializing it
    hash_expr = None if hash_col is None else str(hash_col)
    todo = [k for k in range(n_shards)
            if not (resume and is_committed(_shard_dir(sink_path, k)))]
    todo_set = set(todo)
    skipped = [k for k in range(n_shards) if k not in todo_set]
    # Resume safety: committed shards were laid out by a specific
    # (n_shards, key_col, seed, hash) assignment. Skipping them under a
    # DIFFERENT assignment would silently produce a corpus with
    # duplicated and missing rows — refuse instead. EVERY skipped
    # shard's manifest is checked (tiny sink-filesystem JSON reads): a sink
    # that mixes assignments — e.g. an aborted resume=False rerun over an
    # older fully-committed sink — must not pass just because the first
    # skipped shard happens to match the current parameters.
    for k in skipped:
        m = read_manifest(_shard_dir(sink_path, k)) or {}
        stale = {
            key: (m.get(key), v)
            for key, v in (("n_shards", n_shards), ("key_col", key_col),
                           ("seed", seed), ("hash_expr", hash_expr))
            if key in m and m.get(key) != v
        }
        if stale:
            raise ValueError(
                f"sink {sink_path!r} shard={k} was committed under a "
                f"different assignment {stale} (manifest value, current "
                f"value); pass resume=False to a fresh sink or rerun "
                f"with the original parameters")

    sharded = shard_shuffle(df, n_shards, key_col=key_col, seed=seed,
                            hash_col=hash_col)
    if wave_size is None:
        # ~8 waves by default: resume granularity without serializing
        # the cluster behind O(#shards) driver actions
        wave_size = max(1, (n_shards + 7) // 8)
    waves = [todo[i:i + wave_size] for i in range(0, len(todo), wave_size)]

    written, total_rows = [], 0
    for wave in waves:
        t0 = time.monotonic()
        part = (sharded.where(F.col("shard").isin([int(k) for k in wave]))
                # one sort task per shard (shard is the partition key, pos
                # the sort key) -> each shard=K dir holds pos-ordered files
                .repartition(len(wave), "shard")
                .sortWithinPartitions("shard", "pos"))
        (part.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("shard")
             .parquet(sink_path))
        # verify what is DURABLE: one grouped job over the wave's written
        # bytes (count comes from parquet metadata; the checksum scan
        # reads back just this wave once)
        # explicit schema keeps the read valid even when the wave wrote
        # zero rows (no shard=K dirs yet -> schema inference would fail)
        back = spark.read.schema(part.schema).parquet(sink_path).where(
            F.col("shard").isin([int(k) for k in wave]))
        aggs = [F.count(F.lit(1)).alias("rows")]
        if with_checksum:
            cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in sorted(back.columns)]
            aggs.append(F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
                        .alias("checksum"))
        stats = {int(r["shard"]): r for r in
                 back.groupBy("shard").agg(*aggs).collect()}
        dt = round(time.monotonic() - t0, 3)
        for k in wave:
            r = stats.get(k)
            n = int(r["rows"]) if r is not None else 0
            checksum = (int(r["checksum"]) % (1 << 64)
                        if with_checksum and r is not None
                        and r["checksum"] is not None
                        else (0 if with_checksum else None))
            # a zero-row shard gets no shard=K directory from the dynamic
            # partition overwrite — create it so the manifest commit (and
            # load_shards discovery) still works
            fsio.mkdirs(_shard_dir(sink_path, k), spark)
            _commit(_shard_dir(sink_path, k), {
                "partition": f"shard={k}",
                "n_shards": n_shards,
                "key_col": key_col,
                "seed": seed,
                "hash_expr": hash_expr,
                # schema recorded so load_shards can return a typed
                # empty frame when every committed shard has 0 rows
                # (no parquet file exists to infer from)
                "schema_json": part.schema.json(),
                "inputs": list(inputs),
                "rows": n,
                "checksum": checksum,
                "wave_s": dt,
                "completed_at_unix": int(time.time()),
                "engine": "feathr_spark",
            })
            written.append(k)
            total_rows += n
    report = {
        "written": written,
        "skipped": skipped,
        "metrics": {
            "shards_written": len(written),
            "shards_skipped": len(skipped),
            "rows_written": total_rows,
            "waves": len(waves),
            "wall_s": round(time.monotonic() - t_run, 3),
        },
        "codegen": codegen_since(spark, cg0),
    }
    _publish_run_metrics(sink_path, "write_shards", report, inputs=inputs)
    return report


def load_shards(spark: SparkSession, sink_path: str,
                shards: Optional[Sequence[int]] = None) -> DataFrame:
    """Read back committed shards only (no manifest -> the directory is
    torn output from a killed run and is ignored). ``shards`` restricts
    to a subset (e.g. one trainer rank's assignment). A sink whose
    committed shards are ALL empty (zero-row corpus) returns a typed
    empty frame from the manifest-recorded schema instead of crashing
    parquet schema inference."""
    have, manifests = [], []
    for d in fsio.listdir(sink_path, spark):
        if not d.startswith("shard="):
            continue
        k = int(d.split("=", 1)[1])
        if shards is not None and k not in set(int(s) for s in shards):
            continue
        p = sink_path.rstrip("/") + "/" + d
        m = read_manifest(p)
        if m is not None:
            have.append(p)
            manifests.append(m)
    if not have:
        raise FileNotFoundError(f"no committed shards under {sink_path}")
    if all(m.get("rows", 0) == 0 for m in manifests):
        sj = next((m["schema_json"] for m in manifests
                   if m.get("schema_json")), None)
        if sj is None:
            raise FileNotFoundError(
                f"all committed shards under {sink_path} are empty and "
                f"carry no recorded schema (pre-schema_json manifests)")
        from pyspark.sql import types as T
        schema = T.StructType.fromJson(__import__("json").loads(sj))
        return spark.createDataFrame([], schema)
    return spark.read.option("basePath", sink_path).parquet(*have)


def shard_report(sink_path: str) -> dict:
    """Aggregate the lineage manifests into one run report (rows per
    shard, total rows, uncommitted shard dirs)."""
    shards, uncommitted = {}, []
    for d in fsio.listdir(sink_path):
        if not d.startswith("shard="):
            continue
        m = read_manifest(sink_path.rstrip("/") + "/" + d)
        if m is None:
            uncommitted.append(d)
        else:
            shards[int(d.split("=", 1)[1])] = m["rows"]
    return {
        "committed": len(shards),
        "uncommitted": sorted(uncommitted),
        "rows_total": sum(shards.values()),
        "rows_per_shard": shards,
    }
