"""Feature materialization: batch generation, backfill, incremental
aggregation, and resumable per-partition commits with lineage manifests.

Reference semantics being rebuilt (all Spark-first, no ports):

- **Feature generation** — per-entity aggregates over the cutoff window
  ``(cutoff - width, cutoff]``; plain ``groupBy(keys).agg(...)``
  exactly like the reference's column aggregates
  (feathr-impl/.../offline/anchored/anchorExtractor/
  TimeWindowConfigurableAnchorExtractor.scala:63-110).
- **Backfill** — ``BackfillTime(start, end, step)`` expands into one
  output partition per step (docs/concepts/materializing-features.md:48-88,
  one Spark job per step; here: one job per chunk of steps that share
  fact rows — one aggregation over all their cutoffs and one write
  partitioned by cutoff — each partition independently committed).
- **Incremental aggregation** — new snapshot = previous snapshot
  ⊕ new-interval partial ⊖ expired-interval partial for SUM/COUNT-class
  aggregates (offline/generation/IncrementalAggSnapshotLoader.scala:25-114);
  non-subtractable aggregates (MIN/MAX/LATEST/COUNT_DISTINCT) recompute
  their full window.
- **Resumability** (north_rule) — every partition write lands in its own
  directory and is committed by an atomically-renamed ``manifest.json``
  carrying lineage (input paths, feature list, row count, order-independent
  checksum, wall time). A killed run re-invoked with ``resume=True`` skips
  committed partitions; outputs are byte-stable because generation is
  deterministic in (input, cutoff).

At cluster scale each chunk write is a normal distributed
``df.write.partitionBy("cutoff").parquet`` — the manifest is tiny
driver-side JSON, so the commit protocol adds no shuffle and no driver
data collection.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feathr_spark import fsio
from feathr_spark.definitions import MICROS, SWAFeature
from feathr_spark.functions.timestamps import to_epoch_micros
from feathr_spark.operators.swa import latest_by, metric_expr, metric_types
from feathr_spark.session import codegen_counters, codegen_since

# aggregates with an additive inverse -> snapshot +/- delta works
_SUBTRACTABLE = {"SUM", "COUNT", "AVG"}


@dataclass(frozen=True)
class BackfillTime:
    """Backfill range [start, end] stepped by ``step`` seconds; each step
    cutoff materializes one output partition (reference:
    feathr_project/feathr/definition/materialization_settings.py:7-18)."""

    start: int  # epoch seconds, first cutoff
    end: int    # epoch seconds, last cutoff (inclusive)
    step: int   # seconds between cutoffs

    def cutoffs(self) -> list[int]:
        if self.step <= 0:
            raise ValueError("step must be positive")
        return list(range(self.start, self.end + 1, self.step))


@dataclass
class GenSpec:
    """What to generate: per-entity window aggregates of a fact table."""

    keys: Sequence[str]              # SQL key expressions over fact columns
    key_names: Sequence[str]         # output column names for the keys
    ts_col: str
    features: Sequence[SWAFeature]
    ts_format: str = "epoch"
    extra_inputs: Sequence[str] = field(default_factory=tuple)  # lineage only
    # post-aggregation derived stage (reference evaluates derivations
    # during generation too: offline/evaluator/DerivedFeatureGenStage.scala,
    # driven from offline/generation/DataFrameFeatureGenerator.scala:44-175)
    derived: Sequence = field(default_factory=tuple)  # [DerivedFeature]


def _window_metric(f: SWAFeature, m):
    """Metric masked to the feature's window (cutoff - width - delay,
    cutoff - delay] — the generation-time analogue of the join-time
    window, evaluated as one scan with per-feature CASE masks. The
    cutoff is a column, so one plan serves every cutoff."""
    cut = F.col("__cut_us")
    in_win = (F.col("__ts") > cut - F.lit(f.window.width_us + f.window.delay_us)) \
        & (F.col("__ts") <= cut - F.lit(f.window.delay_us))
    return F.when(in_win, m)


def _agg_col(f: SWAFeature, m, dtype, ts_col: str):
    if f.agg == "SUM":
        return F.sum(m)
    if f.agg == "COUNT":
        return F.sum(m).cast("long")
    if f.agg == "AVG":
        return F.avg(m)
    if f.agg == "MIN":
        return F.min(m)
    if f.agg == "MAX":
        return F.max(m)
    if f.agg == "LATEST":
        # null metrics ignored (reference LATEST skips nulls); ts ties as in SWA
        return latest_by(m, F.col("__ts"), dtype if f.metric != ts_col else None)
    if f.agg == "TIMESINCE":
        return (F.col("__cut_us") - F.max(F.when(m.isNotNull(), F.col("__ts")))) / F.lit(MICROS)
    if f.agg in ("COUNT_DISTINCT",):
        return F.count_distinct(m)
    if f.agg == "APPROX_COUNT_DISTINCT":
        return F.approx_count_distinct(m)
    raise ValueError(f"generation does not support {f.agg}")


def _keyed(fact: DataFrame, spec: GenSpec) -> DataFrame:
    """``fact`` plus the named key columns and ``__ts`` (epoch micros),
    rows with a null key dropped."""
    df = fact
    for name, expr in zip(spec.key_names, spec.keys):
        df = df.withColumn(name, F.expr(expr)).where(F.col(name).isNotNull())
    return df.withColumn("__ts", to_epoch_micros(F.expr(spec.ts_col), spec.ts_format))


def _reach_us(spec: GenSpec) -> int:
    return max(f.window.width_us + f.window.delay_us for f in spec.features)


def generate_features(
    fact: DataFrame,
    spec: GenSpec,
    cutoff,
) -> DataFrame:
    """One row per entity: every feature aggregated over its window
    ending at ``cutoff`` (epoch seconds). Single scan, single shuffle,
    map-side partial aggregation — pure Catalyst.

    ``cutoff`` may be a list: the result then has one row per (cutoff,
    entity) and a ``cutoff`` column, all from the same one aggregation.
    Each fact row is exploded into the cutoffs whose reach covers it and
    ``cutoff`` is a grouping column; a single cutoff is the one-element
    list without that column."""
    many = isinstance(cutoff, (list, tuple))
    cutoffs = list(cutoff) if many else [cutoff]
    cut_type = "long" if all(isinstance(c, int) for c in cutoffs) else "double"
    cuts_us = [int(round(c * MICROS)) for c in cutoffs]
    reach = _reach_us(spec)
    min_delay = min(f.window.delay_us for f in spec.features)
    df = _keyed(fact, spec)
    # prefilter to the widest reachable window -> partition pruning at scan
    df = df.where((F.col("__ts") > F.lit(min(cuts_us) - reach))
                  & (F.col("__ts") <= F.lit(max(cuts_us) - min_delay)))
    covering = F.filter(
        F.array(*[F.struct(F.lit(c).cast(cut_type).alias("cutoff"), F.lit(us).alias("us"))
                  for c, us in zip(cutoffs, cuts_us)]),
        lambda c: (F.col("__ts") > c["us"] - F.lit(reach))
        & (F.col("__ts") <= c["us"] - F.lit(min_delay)))
    df = df.withColumn("__cut", F.explode(covering)) \
        .withColumn("cutoff", F.col("__cut.cutoff")) \
        .withColumn("__cut_us", F.col("__cut.us")).drop("__cut")
    keys = ["cutoff", "__cut_us", *spec.key_names]
    mtype = dict(zip([f.name for f in spec.features], metric_types(df, spec.features)))
    metric = {f.name: metric_expr(f, mtype[f.name]) for f in spec.features}

    plain = [f for f in spec.features if f.group_by is None]
    grouped = [f for f in spec.features if f.group_by is not None]

    if plain:
        aggs = [_agg_col(f, _window_metric(f, metric[f.name]), mtype[f.name],
                         spec.ts_col).alias(f.name)
                for f in plain]
        out = df.groupBy(*keys).agg(*aggs)
    else:
        out = df.select(*keys).distinct()

    # grouped generation features (f.group_by set): per entity a
    # map<term, value> — the reference's CollectTermValueMap UDAF
    # (offline/generation/aggregations/CollectTermValueMap.scala:17).
    # Spark-first: groupBy(entity, term) with map-side partial combine,
    # then map_from_entries over the (small, per-entity) term list; no
    # UDAF, both stages whole-stage-codegen. Entries are sorted by term
    # so the map column is deterministic across partitionings.
    for f in grouped:
        gdf = df.withColumn("__term", F.expr(f.group_by).cast("string")) \
                .where(F.col("__term").isNotNull())
        per_term = gdf.groupBy(*keys, "__term").agg(
            _agg_col(f, _window_metric(f, metric[f.name]), mtype[f.name],
                     spec.ts_col).alias("__val"))
        m = per_term.where(F.col("__val").isNotNull()).groupBy(*keys).agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("__term", "__val")))
            ).alias(f.name))
        out = out.join(m, keys, "left")
    out = out.drop("__cut_us")
    if not many:
        out = out.drop("cutoff")

    for f in spec.features:
        if f.default is not None and f.group_by is None:
            out = out.withColumn(f.name, F.coalesce(F.col(f.name), F.lit(f.default)))

    # derived features over the generated aggregates — row-level Catalyst
    # expressions, zero extra shuffles (DerivedFeatureGenStage.scala applies
    # them per generated DataFrame the same way)
    if spec.derived:
        from feathr_spark.operators.derived import apply_derived_in_order

        out = apply_derived_in_order(out, spec.derived)
    return out


# ---------------------------------------------------------------------------
# checksums + manifests
# ---------------------------------------------------------------------------


def _row_hash(columns: Sequence[str]):
    """xxhash64 of the columns (cast to string for type-stability), as a
    decimal(38,0): a sum of them never overflows under ANSI mode and is
    folded back to 64 bits driver-side."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in sorted(columns)]
    return F.xxhash64(*cols).cast("decimal(38,0)")


def order_independent_checksum(df: DataFrame) -> int:
    """Sum of per-row hashes over all columns — commutative, so
    partition/order changes don't move it; computed distributed, one long
    to the driver."""
    out = df.agg(F.sum(_row_hash(df.columns)).alias("s")).first()
    return int(out["s"]) % (1 << 64) if out["s"] is not None else 0


def _publish_run_metrics(sink_path: str, mode: str, report: dict,
                         inputs: Sequence[str] = ()) -> None:
    """Persist the run-level report as ``<sink>/_run_metrics.json``
    (north rule: jobs materialize with per-partition lineage manifests
    AND metrics). Atomic tmp+rename through the Hadoop FS layer;
    underscore-prefixed so data readers skip it; last run wins —
    per-partition history lives in the manifests themselves."""
    doc = dict(report, mode=mode, inputs=list(inputs),
               completed_at_unix=int(time.time()), engine="feathr_spark")
    fsio.write_text_atomic(sink_path.rstrip("/") + "/_run_metrics.json",
                           json.dumps(doc, indent=1, sort_keys=True))


def read_run_metrics(sink_path: str) -> Optional[dict]:
    """The last run's published metrics for a sink, or None."""
    p = sink_path.rstrip("/") + "/_run_metrics.json"
    return json.loads(fsio.read_text(p)) if fsio.exists(p) else None


def _manifest_path(part_dir: str) -> str:
    # underscore prefix: Spark/Hadoop readers skip _-prefixed files, so
    # the manifest can live inside the partition dir it commits.
    # URI-style join (not os.path.join) so hdfs://... sinks work.
    return part_dir.rstrip("/") + "/_manifest.json"


def is_committed(part_dir: str) -> bool:
    """Manifest existence check on the SINK filesystem (Hadoop FS API —
    hdfs/s3a/file all work; reference analogue offline/util/HdfsUtils)."""
    return fsio.exists(_manifest_path(part_dir))


def read_manifest(part_dir: str) -> Optional[dict]:
    p = _manifest_path(part_dir)
    if not fsio.exists(p):
        return None
    return json.loads(fsio.read_text(p))


def _commit(part_dir: str, manifest: dict) -> None:
    # tmp + rename through the Hadoop FS layer: readers never observe a
    # torn manifest; a crash mid-commit leaves the partition uncommitted
    # (rewritten whole on resume), never half-trusted
    fsio.write_text_atomic(_manifest_path(part_dir),
                           json.dumps(manifest, indent=1, sort_keys=True))


# ---------------------------------------------------------------------------
# materializer
# ---------------------------------------------------------------------------


# cutoffs per write job at most: each one adds two observed aggregates
_MAX_CHUNK = 32


def _chunks(cutoffs: Sequence[int], reach_s: float) -> list[list[int]]:
    """Consecutive cutoffs spanning at most ``reach_s`` (and at most
    ``_MAX_CHUNK`` of them): a fact row then reaches at most 2 chunks."""
    out: list[list[int]] = []
    for c in sorted(cutoffs):
        if out and c - out[-1][0] <= reach_s and len(out[-1]) < _MAX_CHUNK:
            out[-1].append(c)
        else:
            out.append([c])
    return out


def materialize(
    fact: DataFrame,
    spec: GenSpec,
    sink_path: str,
    backfill: BackfillTime,
    resume: bool = True,
    with_checksum: bool = True,
    inputs: Sequence[str] = (),
) -> dict:
    """Materialize one snapshot partition per backfill cutoff under
    ``sink_path/cutoff=<epoch>/``, each committed by a lineage manifest.

    Returns a run report: {written: [...], skipped: [...], chunks: [...],
    metrics: {...}}. Re-running after a kill skips every committed
    partition (north_rule resumability); the data files for a partition
    are fully rewritten before its manifest appears, so a torn write is
    re-done, never half-trusted.

    The cutoffs to write are cut into chunks of consecutive cutoffs
    spanning at most the widest window reach, and each chunk is ONE Spark
    job: :func:`generate_features` evaluates all its cutoffs in one
    aggregation and one ``partitionBy("cutoff")`` write with dynamic
    partition overwrite lays out one directory per cutoff. Per-cutoff row
    counts and checksums are ``DataFrame.observe`` aggregates of that
    same job, and each cutoff still commits its own manifest.
    """
    from pyspark.sql import Observation

    t_run = time.monotonic()
    cg0 = codegen_counters(fact.sparkSession)

    def part_dir(cutoff: int) -> str:
        return sink_path.rstrip("/") + f"/cutoff={cutoff}"

    todo, skipped = [], []
    for cutoff in backfill.cutoffs():
        (skipped if resume and is_committed(part_dir(cutoff)) else todo).append(cutoff)
    chunks = _chunks(todo, _reach_us(spec) / MICROS)
    lineage = list(inputs) + list(spec.extra_inputs)
    rows_written = 0
    for chunk in chunks:
        t0 = time.monotonic()
        for cutoff in chunk:  # dynamic overwrite keeps partitions it writes no row to
            fsio.delete(part_dir(cutoff), spark=fact.sparkSession)
        out = generate_features(fact, spec, chunk)
        row_hash = _row_hash([c for c in out.columns if c != "cutoff"])
        metrics = []
        for i, cutoff in enumerate(chunk):
            mine = F.col("cutoff") == F.lit(cutoff)
            metrics.append(F.count(F.when(mine, 1)).alias(f"rows_{i}"))
            if with_checksum:
                metrics.append(F.sum(F.when(mine, row_hash)).alias(f"checksum_{i}"))
        obs = Observation()
        out.observe(obs, *metrics).write.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("cutoff").parquet(sink_path)
        got = obs.get
        duration = round(time.monotonic() - t0, 3)
        for i, cutoff in enumerate(chunk):
            n = int(got[f"rows_{i}"])
            if n == 0:  # no row, no directory: keep the partition readable
                out.drop("cutoff").limit(0).write.mode("overwrite").parquet(part_dir(cutoff))
            checksum = (int(got[f"checksum_{i}"] or 0) % (1 << 64)) if with_checksum else None
            _commit(part_dir(cutoff), {
                "partition": f"cutoff={cutoff}",
                "cutoff_epoch_s": cutoff,
                "inputs": lineage,
                "features": [f.name for f in spec.features],
                "keys": list(spec.key_names),
                "rows": n,
                "checksum": checksum,
                "duration_s": duration,
                "completed_at_unix": int(time.time()),
                "engine": "feathr_spark",
            })
            rows_written += n
    report = {
        "written": todo,
        "skipped": skipped,
        "chunks": chunks,
        "metrics": {
            "partitions_written": len(todo),
            "partitions_skipped": len(skipped),
            "rows_written": rows_written,
            "write_jobs": len(chunks),
            "wall_s": round(time.monotonic() - t_run, 3),
        },
        "codegen": codegen_since(fact.sparkSession, cg0),
    }
    _publish_run_metrics(sink_path, "materialize", report, inputs=lineage)
    return report


def load_materialized(spark: SparkSession, sink_path: str) -> DataFrame:
    """Read back every *committed* partition (uncommitted dirs — no
    manifest — are ignored, so readers never see torn output)."""
    parts = [
        sink_path.rstrip("/") + "/" + d
        for d in fsio.listdir(sink_path, spark)
        if d.startswith("cutoff=")
        and is_committed(sink_path.rstrip("/") + "/" + d)
    ]
    if not parts:
        raise FileNotFoundError(f"no committed partitions under {sink_path}")
    df = spark.read.option("basePath", sink_path).parquet(*parts)
    return df


# ---------------------------------------------------------------------------
# incremental aggregation (snapshot ⊕ delta)
# ---------------------------------------------------------------------------


def incremental_snapshot(
    fact: DataFrame,
    spec: GenSpec,
    prev_snapshot: DataFrame,
    prev_cutoff: float,
    new_cutoff: float,
) -> DataFrame:
    """Advance a generated-feature snapshot from ``prev_cutoff`` to
    ``new_cutoff`` without rescanning each feature's full window.

    SUM/COUNT/AVG roll forward as ``prev + incoming - expired`` where
    *incoming* covers ``(prev_hi, new_hi]`` and *expired* covers
    ``(prev_lo, new_lo]`` of each feature's window; everything else
    recomputes over its (small) full window. AVG is maintained as its
    (sum, count) pair and finalized at the end — the same pair-state the
    reference keeps (AvgAggregate.scala:17-106).
    """
    inc_feats = [f for f in spec.features if f.agg in _SUBTRACTABLE]
    full_feats = [f for f in spec.features if f.agg not in _SUBTRACTABLE]
    prev_us = int(round(prev_cutoff * MICROS))
    new_us = int(round(new_cutoff * MICROS))
    if new_us < prev_us:
        raise ValueError("new_cutoff must be >= prev_cutoff")

    df = _keyed(fact, spec)

    # one scan computes every incoming/expired partial: the union of the
    # per-feature delta intervals is tiny vs the full windows
    lo_scan = min(
        [prev_us - f.window.width_us - f.window.delay_us for f in inc_feats]
        + [prev_us - f.window.delay_us for f in inc_feats]
        or [prev_us]
    )
    delta = df.where((F.col("__ts") > F.lit(lo_scan)) & (F.col("__ts") <= F.lit(new_us)))

    aggs = []
    for f, dtype in zip(inc_feats, metric_types(df, inc_feats)):
        prev_lo = prev_us - f.window.width_us - f.window.delay_us
        new_lo = new_us - f.window.width_us - f.window.delay_us
        prev_hi = prev_us - f.window.delay_us
        new_hi = new_us - f.window.delay_us
        m = metric_expr(f, dtype)
        base = F.when(m.isNotNull(), m.cast("double"))
        inc_mask = (F.col("__ts") > F.lit(prev_hi)) & (F.col("__ts") <= F.lit(new_hi))
        exp_mask = (F.col("__ts") > F.lit(prev_lo)) & (F.col("__ts") <= F.lit(new_lo))
        aggs.append(F.sum(F.when(inc_mask, base)).alias(f"__inc_sum_{f.name}"))
        aggs.append(F.count(F.when(inc_mask, base)).alias(f"__inc_cnt_{f.name}"))
        aggs.append(F.sum(F.when(exp_mask, base)).alias(f"__exp_sum_{f.name}"))
        aggs.append(F.count(F.when(exp_mask, base)).alias(f"__exp_cnt_{f.name}"))
    deltas = delta.groupBy(*spec.key_names).agg(*aggs)

    # previous snapshot needs AVG back in pair form: sum = avg * count is
    # not recoverable without the count, so require a COUNT feature over
    # the same (metric, window, filter) or recompute
    # keys may gain entities (new ids in delta) -> full outer
    merged = prev_snapshot.join(deltas, on=list(spec.key_names), how="full_outer")

    out_cols = list(spec.key_names)
    for f in inc_feats:
        prev_col = F.coalesce(F.col(f.name).cast("double"), F.lit(0.0))
        inc_s = F.coalesce(F.col(f"__inc_sum_{f.name}"), F.lit(0.0))
        exp_s = F.coalesce(F.col(f"__exp_sum_{f.name}"), F.lit(0.0))
        inc_c = F.coalesce(F.col(f"__inc_cnt_{f.name}"), F.lit(0)).cast("long")
        exp_c = F.coalesce(F.col(f"__exp_cnt_{f.name}"), F.lit(0)).cast("long")
        if f.agg == "SUM":
            new_val = prev_col + inc_s - exp_s
        elif f.agg == "COUNT":
            new_val = (prev_col + inc_s - exp_s).cast("long")
        else:  # AVG: reference keeps (sum, count); prev avg * prev count rebuilt
            # from the paired COUNT column — require it
            cnt_feature = next(
                (g for g in spec.features
                 if g.agg == "COUNT" and g.metric == f.metric
                 and g.window == f.window and g.filter == f.filter),
                None,
            )
            if cnt_feature is None:
                raise ValueError(
                    f"incremental AVG '{f.name}' needs a COUNT feature over the "
                    "same metric+window+filter in the spec (pair state)")
            prev_cnt = F.coalesce(F.col(cnt_feature.name).cast("double"), F.lit(0.0))
            total_sum = prev_col * prev_cnt + inc_s - exp_s
            total_cnt = prev_cnt + inc_c - exp_c
            new_val = F.when(total_cnt > 0, total_sum / total_cnt)
        out_cols.append(new_val.alias(f.name))

    inc_part = merged.select(*out_cols)

    if full_feats:
        full_spec = GenSpec(
            keys=spec.keys, key_names=spec.key_names, ts_col=spec.ts_col,
            features=full_feats, ts_format=spec.ts_format,
        )
        full_part = generate_features(fact, full_spec, new_cutoff)
        result = inc_part.join(full_part, on=list(spec.key_names), how="full_outer")
    else:
        result = inc_part

    # drop entities whose every feature is now null/zero-count? reference
    # keeps them; we keep them too (stable row set aids allclose checks)
    order = list(spec.key_names) + [f.name for f in spec.features]
    return result.select(*order)
