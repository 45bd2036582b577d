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
  one Spark job per step; here: one partition write per step inside one
  session, each independently committed).
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

At cluster scale each partition write is a normal distributed
``df.write.parquet`` — the manifest is tiny driver-side JSON, so the
commit protocol adds no shuffle and no driver data collection.
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
from feathr_spark.operators.swa import latest_by
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


def _metric(f: SWAFeature):
    raw = F.expr(f.metric)
    if f.agg == "COUNT":
        raw = F.when(raw.isNotNull(), F.lit(1)).otherwise(F.lit(0))
    if f.filter:
        raw = F.when(F.expr(f.filter), raw)
    return raw


def _window_metric(f: SWAFeature, cutoff_us: int):
    """Metric masked to the feature's window (cutoff - width - delay,
    cutoff - delay] — the generation-time analogue of the join-time
    window, evaluated as one scan with per-feature CASE masks."""
    lo = cutoff_us - f.window.width_us - f.window.delay_us
    hi = cutoff_us - f.window.delay_us
    in_win = (F.col("__ts") > F.lit(lo)) & (F.col("__ts") <= F.lit(hi))
    return F.when(in_win, _metric(f))


def _agg_col(f: SWAFeature, m, cutoff_us: int, ts_col: str):
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
        return latest_by(m, F.col("__ts"), f.metric != ts_col)
    if f.agg == "TIMESINCE":
        return (F.lit(cutoff_us) - F.max(F.when(m.isNotNull(), F.col("__ts")))) / F.lit(MICROS)
    if f.agg in ("COUNT_DISTINCT",):
        return F.count_distinct(m)
    if f.agg == "APPROX_COUNT_DISTINCT":
        return F.approx_count_distinct(m)
    raise ValueError(f"generation does not support {f.agg}")


def generate_features(
    fact: DataFrame,
    spec: GenSpec,
    cutoff: float,
) -> DataFrame:
    """One row per entity: every feature aggregated over its window
    ending at ``cutoff`` (epoch seconds). Single scan, single shuffle,
    map-side partial aggregation — pure Catalyst."""
    cutoff_us = int(round(cutoff * MICROS))
    df = fact
    for name, expr in zip(spec.key_names, spec.keys):
        df = df.withColumn(name, F.expr(expr))
    df = df.withColumn("__ts", to_epoch_micros(F.expr(spec.ts_col), spec.ts_format))

    # prefilter to the widest reachable window -> partition pruning at scan
    reach = max(f.window.width_us + f.window.delay_us for f in spec.features)
    min_delay = min(f.window.delay_us for f in spec.features)
    df = df.where(
        (F.col("__ts") > F.lit(cutoff_us - reach)) & (F.col("__ts") <= F.lit(cutoff_us - min_delay))
    )
    key_nonnull = None
    for name in spec.key_names:
        c = F.col(name).isNotNull()
        key_nonnull = c if key_nonnull is None else (key_nonnull & c)
    df = df.where(key_nonnull)

    plain = [f for f in spec.features if f.group_by is None]
    grouped = [f for f in spec.features if f.group_by is not None]

    if plain:
        aggs = [
            _agg_col(f, _window_metric(f, cutoff_us), cutoff_us, spec.ts_col).alias(f.name)
            for f in plain
        ]
        out = df.groupBy(*spec.key_names).agg(*aggs)
    else:
        out = df.select(*spec.key_names).distinct()

    # grouped generation features (f.group_by set): per entity a
    # map<term, value> — the reference's CollectTermValueMap UDAF
    # (offline/generation/aggregations/CollectTermValueMap.scala:17).
    # Spark-first: groupBy(entity, term) with map-side partial combine,
    # then map_from_entries over the (small, per-entity) term list; no
    # UDAF, both stages whole-stage-codegen. Entries are sorted by term
    # so the map column is deterministic across partitionings.
    keys = list(spec.key_names)
    for f in grouped:
        gdf = df.withColumn("__term", F.expr(f.group_by).cast("string")) \
                .where(F.col("__term").isNotNull())
        per_term = gdf.groupBy(*keys, "__term").agg(
            _agg_col(f, _window_metric(f, cutoff_us), cutoff_us, spec.ts_col).alias("__val"))
        m = per_term.where(F.col("__val").isNotNull()).groupBy(*keys).agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("__term", "__val")))
            ).alias(f.name))
        out = out.join(m, keys, "left")

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


def order_independent_checksum(df: DataFrame) -> int:
    """Sum of per-row xxhash64 over all columns (cast to string for
    type-stability) — commutative, so partition/order changes don't move
    it; computed distributed, one long to the driver."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in sorted(df.columns)]
    # decimal(38,0) accumulator: never overflows under ANSI mode; folded
    # back to 64 bits driver-side
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
    out = row.agg(F.sum("h").alias("s")).first()
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


def materialize(
    fact: DataFrame,
    spec: GenSpec,
    sink_path: str,
    backfill: BackfillTime,
    resume: bool = True,
    with_checksum: bool = True,
    inputs: Sequence[str] = (),
    parallelism: int = 4,
) -> dict:
    """Materialize one snapshot partition per backfill cutoff under
    ``sink_path/cutoff=<epoch>/``, each committed by a lineage manifest.

    Returns a run report: {written: [...], skipped: [...], metrics: {...}}.
    Re-running after a kill skips every committed partition (north_rule
    resumability); the data files for a partition are fully rewritten
    before its manifest appears, so a torn write is re-done, never
    half-trusted.

    Each cutoff is ONE Spark action: row count and checksum are captured
    by ``DataFrame.observe`` aggregate metrics inside the write job
    itself (the reference's serial write → re-read-count → checksum-scan
    triple executed each partition three times). Cutoffs are submitted
    from a thread pool (``parallelism`` concurrent jobs) so a thousand
    backfill steps don't serialize the cluster behind the driver — the
    reference fans backfill out as parallel jobs the same way
    (docs/concepts/materializing-features.md:61).
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    t_run = time.monotonic()
    cg0 = codegen_counters(fact.sparkSession)
    todo, skipped = [], []
    for cutoff in backfill.cutoffs():
        part_dir = sink_path.rstrip("/") + f"/cutoff={cutoff}"
        if resume and is_committed(part_dir):
            skipped.append(cutoff)
        else:
            todo.append((cutoff, part_dir))

    def _one(item):
        cutoff, part_dir = item
        t0 = time.monotonic()
        out = generate_features(fact, spec, cutoff)
        obs = Observation(f"materialize_{cutoff}")
        metrics = [F.count(F.lit(1)).alias("rows")]
        if with_checksum:
            cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in sorted(out.columns)]
            metrics.append(
                F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("checksum"))
        out = out.observe(obs, *metrics)
        out.write.mode("overwrite").parquet(part_dir)
        got = obs.get
        n = int(got["rows"])
        checksum = (int(got["checksum"]) % (1 << 64)
                    if with_checksum and got.get("checksum") is not None else
                    (0 if with_checksum else None))
        _commit(part_dir, {
            "partition": f"cutoff={cutoff}",
            "cutoff_epoch_s": cutoff,
            "inputs": list(inputs) + list(spec.extra_inputs),
            "features": [f.name for f in spec.features],
            "keys": list(spec.key_names),
            "rows": n,
            "checksum": checksum,
            "duration_s": round(time.monotonic() - t0, 3),
            "completed_at_unix": int(time.time()),
            "engine": "feathr_spark",
        })
        return cutoff, n

    if parallelism > 1 and len(todo) > 1:
        with ThreadPoolExecutor(max_workers=parallelism) as ex:
            results = list(ex.map(_one, todo))
    else:
        results = [_one(it) for it in todo]
    written = [c for c, _ in results]
    total_rows = sum(n for _, n in results)
    report = {
        "written": written,
        "skipped": skipped,
        "metrics": {
            "partitions_written": len(written),
            "partitions_skipped": len(skipped),
            "rows_written": total_rows,
            "wall_s": round(time.monotonic() - t_run, 3),
        },
        "codegen": codegen_since(fact.sparkSession, cg0),
    }
    _publish_run_metrics(sink_path, "materialize", report,
                         inputs=list(inputs) + list(spec.extra_inputs))
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

    df = fact
    for name, expr in zip(spec.key_names, spec.keys):
        df = df.withColumn(name, F.expr(expr))
    df = df.withColumn("__ts", to_epoch_micros(F.expr(spec.ts_col), spec.ts_format))
    key_nonnull = None
    for name in spec.key_names:
        c = F.col(name).isNotNull()
        key_nonnull = c if key_nonnull is None else (key_nonnull & c)
    df = df.where(key_nonnull)

    # one scan computes every incoming/expired partial: the union of the
    # per-feature delta intervals is tiny vs the full windows
    lo_scan = min(
        [prev_us - f.window.width_us - f.window.delay_us for f in inc_feats]
        + [prev_us - f.window.delay_us for f in inc_feats]
        or [prev_us]
    )
    delta = df.where((F.col("__ts") > F.lit(lo_scan)) & (F.col("__ts") <= F.lit(new_us)))

    aggs = []
    for f in inc_feats:
        prev_lo = prev_us - f.window.width_us - f.window.delay_us
        new_lo = new_us - f.window.width_us - f.window.delay_us
        prev_hi = prev_us - f.window.delay_us
        new_hi = new_us - f.window.delay_us
        m = _metric(f)
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
