"""Multi-anchor feature-join planning and execution.

Rebuilds the reference's pipeline (MultiStageJoinPlanner.scala:31-141 +
DataFrameFeatureJoiner.scala:128-315) Spark-first:

1. classify features into passthrough / window-agg / snapshot-anchored
   groups (FeatureGroups.scala:11-31)
2. one window pass per (source, key-expressions, lateral view): the
   group's window-agg features AND its time-stamped snapshot anchors
   (LATEST as-of lookups, AnchoredFeatureJoinStep.scala:112-188,
   "closest from the past", each an unbounded LATEST of its feature
   struct) share ONE scan and ONE exchange of the fact table, the time
   prefilter spanning the max window
   (SlidingWindowAggregationJoiner.scala:147-171)
3. stage ordering: fewer-feature stages first, shrinking the shuffled
   observation early (MultiStageJoinPlanner.scala:137-140)
4. snapshot anchors without a timestamp: dedup right side on keys +
   left join
5. sequential/lookup features (SequentialJoinAsDerivation.scala:44-167):
   a scalar base left-joins the expansion's per-key aggregate by value,
   so the observation is read once; only an array-valued base explodes,
   joins and regroups by a content-derived row uid
6. derived features applied in dependency order, then (7) column
   pruning to the requested list (DataFrameFeatureJoiner.scala:276-311)

Catalyst does predicate pushdown/column pruning through every step, so
the planner only decides scan-sharing and join order — exactly the two
things Catalyst cannot infer across feature definitions.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, replace
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feathr_spark.definitions import (
    Anchor,
    DerivedFeature,
    Feature,
    LookupFeature,
    ObservationSettings,
    SWAFeature,
    WindowSpec,
)
from feathr_spark.operators.asof import latest_row, unpack_latest_row
from feathr_spark.operators.derived import apply_derived_in_order
from feathr_spark.operators.lookup import lookup_join
from feathr_spark.operators.swa import join_window_agg_features
from feathr_spark.sources.batch import load_source

PASSTHROUGH = "passthrough"


@dataclass
class FeatureGroups:
    """Classified anchors (reference: offline/logical/FeatureGroups.scala)."""

    passthrough: list = field(default_factory=list)   # [(Anchor, [Feature])]
    window_agg: list = field(default_factory=list)    # [(Anchor, [SWAFeature])]
    snapshot: list = field(default_factory=list)      # [(Anchor, [Feature])]

    @classmethod
    def classify(cls, anchors: Sequence[Anchor]) -> "FeatureGroups":
        g = cls()
        for a in anchors:
            if a.source is None or getattr(a.source, "path", None) == PASSTHROUGH:
                g.passthrough.append((a, list(a.features)))
            elif a.features and isinstance(a.features[0], SWAFeature):
                g.window_agg.append((a, list(a.features)))
            else:
                g.snapshot.append((a, list(a.features)))
        return g

    def all_feature_names(self) -> list[str]:
        names = []
        for group in (self.passthrough, self.window_agg, self.snapshot):
            for _, feats in group:
                names += [f.name for f in feats]
        return names


def _apply_lateral_view(df: DataFrame, lv: Optional[str], alias: str,
                        lv_filter: Optional[str]) -> DataFrame:
    """LATERAL VIEW explode(...) alias [WHERE ...] on the fact source
    (FeatureTransformer.scala:51-64)."""
    if not lv:
        return df
    out = df.select("*", F.expr(lv).alias(alias))
    if lv_filter:
        out = out.where(F.expr(lv_filter))
    return out


def _effective_lateral(anchor: Anchor, feat) -> tuple:
    """Per-feature lateral view wins over the anchor-level one
    (SlidingWindowDataDef.scala:83-86: the explode belongs to the
    feature; anchor-level is this engine's sugar)."""
    flv = getattr(feat, "lateral_view", None)
    if flv:
        return (flv, getattr(feat, "lateral_view_alias", None) or "lv",
                getattr(feat, "lateral_view_filter", None))
    return (anchor.lateral_view, anchor.lateral_view_alias, anchor.lateral_view_filter)


def _with_default(col, feat):
    return col if feat.default is None else F.coalesce(col, F.lit(feat.default))


def _source_key(anchor: Anchor) -> tuple:
    """Anchors with equal keys read the same fact rows on the same
    timeline, so they can share one stage."""
    s = anchor.source
    return (s.path, s.fmt, tuple(sorted((s.options or {}).items())), s.preprocessing,
            s.timestamp_col, s.timestamp_format,
            tuple(anchor.keys), tuple(anchor.obs_keys or ()),
            id(anchor.extractor) if getattr(anchor, "extractor", None) else None)


def _expansion(anchors: Sequence[Anchor], lk: LookupFeature) -> tuple:
    """The expansion anchor and feature a lookup reads, by name."""
    a = next((a for a in anchors if a.name == lk.expansion_anchor), None)
    f = a and next((f for f in a.features if f.name == lk.expansion_feature), None)
    if f is None:
        raise ValueError(f"lookup {lk.name!r}: no anchor {lk.expansion_anchor!r} with "
                         f"feature {lk.expansion_feature!r} among the anchors")
    return a, f


def resolve_requests(anchors: Sequence[Anchor], derived: Sequence[DerivedFeature],
                     lookups: Sequence[LookupFeature], requests: Sequence) -> tuple:
    """Bind ``config.FeatureRequest``-shaped requests (``features``,
    ``keys`` or None for the ObservationSettings keys,
    ``override_time_delay``) to one :func:`join_features` call:
    ``(anchors, derived, lookups, columns)``. Both front ends call this,
    as the reference's client and join config both reach FeatureJoinJob.

    A derived or lookup feature pulls its inputs under its own key
    binding. A feature's first binding (the default one, keys None,
    comes first) keeps its name; an anchored feature under a later
    binding is ``<name>__<keytag>`` (keys joined by ``_``), a derived or
    lookup feature there raises ``ValueError``. Anchors are cloned per
    binding and an anchor's first clone keeps its name, so a lookup finds
    its expansion anchor, which otherwise rides along as declared.
    Unknown names raise ``KeyError``; ``columns`` follow request order.
    """
    anchor_of = {f.name: a for a in anchors for f in a.features}
    inputs = {d.name: tuple(d.inputs) for d in derived}
    inputs.update((lk.name, (lk.base_feature,)) for lk in lookups)
    bind: dict = {}    # feature name -> binding that owns the plain column
    joins: dict = {}   # (name, binding) -> (column, override delay)
    columns: dict = {}
    order = sorted(range(len(requests)), key=lambda i: requests[i].keys is not None)
    for i in order:
        r = requests[i]
        kt = None if r.keys is None else tuple(r.keys)
        for name in r.features:
            if name not in anchor_of and name not in inputs:
                raise KeyError(f"unknown feature {name!r}")
            col = name if bind.setdefault(name, kt) == kt else f"{name}__{'_'.join(kt)}"
            if col != name and name in inputs:
                raise ValueError(f"derived feature {name!r} requested under two key "
                                 "bindings; its expression reads the first binding's columns")
            if joins.setdefault((name, kt), (col, r.override_time_delay))[1] \
                    != r.override_time_delay:
                raise ValueError(f"feature {name!r} requested twice under keys {kt} "
                                 "with different overrideTimeDelay")
            columns[i, name] = col
            todo = [name]   # its inputs, under the same binding
            while todo:
                for dep in inputs.get(todo.pop(), ()):
                    if dep not in anchor_of and dep not in inputs:
                        continue  # an observation column
                    if bind.setdefault(dep, kt) != kt:
                        raise ValueError(f"{name!r} reads {dep!r}, which is "
                                         "requested under other keys")
                    if (dep, kt) not in joins:
                        joins[dep, kt] = (dep, r.override_time_delay)
                        todo.append(dep)
    needed = {name for name, _ in joins}
    lookups = [lk for lk in lookups if lk.name in needed]
    bindings = list(dict.fromkeys(kt for _, kt in joins))
    # an expansion anchor already bound carries the expansion feature
    # under its first binding, so the lookup finds both by name
    for lk in lookups:
        exp = next((a for a in anchors if a.name == lk.expansion_anchor), None)
        kts = [kt for kt in bindings if exp is not None
               and any((f.name, kt) in joins for f in exp.features)]
        if kts and bind.setdefault(lk.expansion_feature, kts[0]) == kts[0]:
            joins.setdefault((lk.expansion_feature, kts[0]), (lk.expansion_feature, None))
    bound: list = []
    for a in anchors:
        clones = []
        for kt in bindings:
            feats = []
            for f in a.features:
                col, delay = joins.get((f.name, kt), (None, None))
                if col is None:
                    continue
                if delay is not None and isinstance(f, SWAFeature):
                    f = replace(f, window=WindowSpec(f.window.width, delay))
                feats.append(f if col == f.name else replace(f, name=col))
            if feats:
                clones.append(replace(
                    a, features=feats,
                    name=f"{a.name}__{'_'.join(kt)}" if clones else a.name,
                    obs_keys=a.obs_keys if kt is None else list(kt)))
        bound += clones
    for lk in lookups:
        if not any(a.name == lk.expansion_anchor for a in bound):
            bound += [a for a in anchors if a.name == lk.expansion_anchor]
    return (bound, [d for d in derived if d.name in needed], lookups,
            list(dict.fromkeys(columns[i, n] for i, r in enumerate(requests)
                               for n in r.features)))


def join_features(
    spark: SparkSession,
    observation: DataFrame,
    settings: ObservationSettings,
    anchors: Sequence[Anchor],
    derived: Sequence[DerivedFeature] = (),
    lookups: Sequence[LookupFeature] = (),
    requested: Optional[Sequence[str]] = None,
    source_cache: Optional[dict] = None,
    checkpoint_every: int = 0,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Point-in-time join of every requested feature onto ``observation``.

    ``source_cache`` maps an anchor's source path to an already-loaded
    DataFrame (tests inject in-memory frames; production resolves via
    spark.read with the engine's loader).

    ``checkpoint_every``: truncate the lineage after every N join stages
    (the reference checkpoints long multi-anchor plans per stage,
    FeathrClient.scala:182-192 — without it a 50-anchor plan builds a
    DAG deep enough to blow planning time / stack). With
    ``checkpoint_dir`` set the checkpoint is RELIABLE (HDFS/S3-backed,
    survives executor loss — the 100 TB setting); without it, a
    lazy ``localCheckpoint`` (executor-local, cheaper, lost on executor
    death — acceptable for short local runs only).
    """
    expansions = {lk.name: _expansion(anchors, lk) for lk in lookups}
    groups = FeatureGroups.classify(anchors)
    out = observation
    anchor_dfs: dict[str, DataFrame] = {}
    # simulate_time_delay (reference settings.py:32-66): the observation
    # is treated as if it happened `sim` seconds EARLIER, shifting every
    # window and as-of lookup back by sim — implemented by folding the
    # delay into each feature's WindowSpec / the as-of delay param, so
    # the engines see ordinary delays (no timestamp rewriting).
    sim = float(getattr(settings, "simulate_time_delay", 0.0) or 0.0)

    # useLatestFeatureData (SlidingWindowAggregationJoiner.scala:225-229):
    # every window/as-of anchors to "now" instead of the observation's
    # timestamp column. One driver-side clock read per plan (the
    # reference evaluates unix_timestamp() once per join run too), a
    # constant column — not F.current_timestamp(), whose per-batch
    # re-evaluation would make retries non-deterministic.
    obs_ts_col = settings.timestamp_col
    obs_ts_format = settings.timestamp_format
    if getattr(settings, "use_latest_feature_data", False):
        import time as _time

        now_s = settings.now_epoch if settings.now_epoch is not None else _time.time()
        out = out.withColumn("__now_ts", F.lit(float(now_s)))
        obs_ts_col, obs_ts_format = "__now_ts", "epoch"

    if checkpoint_every and checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    stage_counter = [0]

    def _stage_done(df: DataFrame) -> DataFrame:
        if not checkpoint_every:
            return df
        stage_counter[0] += 1
        if stage_counter[0] % checkpoint_every:
            return df
        return df.checkpoint(eager=False) if checkpoint_dir \
            else df.localCheckpoint(eager=False)

    def _load_raw(anchor: Anchor) -> DataFrame:
        path = anchor.source.path
        if source_cache and path in source_cache:
            df = anchor.source.preprocessing(source_cache[path]) \
                if anchor.source.preprocessing else source_cache[path]
        else:
            df = load_source(spark, anchor.source)
        if getattr(anchor, "extractor", None) is not None:
            df = anchor.extractor.apply(df)
        return df

    def _load(anchor: Anchor) -> DataFrame:
        return _apply_lateral_view(_load_raw(anchor), anchor.lateral_view,
                                   anchor.lateral_view_alias, anchor.lateral_view_filter)

    # (1) passthrough: expressions over observation columns directly
    # (MultiStageJoinPlanner.scala:87-90)
    for _, feats in groups.passthrough:
        for f in feats:
            out = out.withColumn(f.name, F.expr(f.expr))

    # An anchor that is only a lookup's expansion anchor is not joined:
    # stage (5) loads it itself, and joining it would key it on the
    # observation and carry its columns to the final prune. Without a
    # requested list, or with a derived feature that declares no inputs,
    # every anchor's columns may be read.
    wanted = set(requested or ()) | {lk.base_feature for lk in lookups} \
        | {i for d in derived for i in d.inputs}
    expansion_only = set() if requested is None or not all(d.inputs for d in derived) \
        else {a.name for a, _ in expansions.values()
              if not any(f.name in wanted for f in a.features)}
    snapshot = [t for t in groups.snapshot if t[0].name not in expansion_only]

    # (2) fact stages: one window pass per (source, keys,
    # effective-lateral-view) group — the scan and the exchange are
    # shared and the time prefilter spans the max window. Features with
    # different lateral views on the SAME anchor land in different stages
    # (each needs its own explode), per-feature lateralView parity. A
    # time-stamped snapshot anchor joins its group's pass as one
    # unbounded LATEST of a struct of its features: the fact row with the
    # largest ts <= obs ts - delay, ties to the largest payload hash (the
    # as-of rule), field nulls kept since the struct itself is never null.
    stages: dict[tuple, list] = {}
    asof: dict[str, list] = {}   # struct column -> the anchor's features
    for a, feats in groups.window_agg:
        for f in feats:
            stages.setdefault((_source_key(a), _effective_lateral(a, f)), []).append((a, f))
    for a, feats in snapshot:
        if a.source.timestamp_col and feats:
            row = latest_row(f"_asof_{a.name}", [(f.name, f.expr) for f in feats],
                             WindowSpec(math.inf))
            stages.setdefault((_source_key(a), _effective_lateral(a, row)), []).append((a, row))
            asof[row.name] = feats
    # Observation time range computed ONCE on the pre-stage observation
    # and passed to every stage: stage N's input embeds stages 1..N-1's
    # work, so letting each stage's _time_prefilter run its own min/max
    # action would re-execute the whole upstream DAG per stage — a
    # driver-action-per-stage scale hazard. Obs timestamps never change
    # as feature columns append, so one range serves all stages.
    obs_range = None
    if stages:
        from feathr_spark.functions.timestamps import to_epoch_micros

        rng = out.select(
            to_epoch_micros(F.expr(obs_ts_col), obs_ts_format).alias("__t")
        ).agg(F.min("__t").alias("lo"), F.max("__t").alias("hi")).first()
        if rng is not None and rng["lo"] is not None:
            obs_range = (int(rng["lo"]), int(rng["hi"]))
    # (3) fewer-feature stages first
    for grp in sorted(stages.values(), key=len):
        a0 = grp[0][0]
        fact = _apply_lateral_view(_load_raw(a0), *_effective_lateral(a0, grp[0][1]))
        feats = [f for _, f in grp]
        if sim:
            feats = [replace(f, window=WindowSpec(f.window.width, f.window.delay + sim))
                     for f in feats]
        out = join_window_agg_features(
            out, fact,
            obs_keys=a0.obs_keys or settings.keys, fact_keys=a0.keys,
            obs_ts=obs_ts_col, fact_ts=a0.source.timestamp_col,
            features=feats,
            obs_ts_format=obs_ts_format,
            fact_ts_format=a0.source.timestamp_format,
            obs_time_range=obs_range,
        )
        for row in (f.name for f in feats if f.name in asof):
            out = unpack_latest_row(out, row, [f.name for f in asof[row]],
                                    {f.name: f.default for f in asof[row]})
        out = _stage_done(out)

    # (4) snapshot anchors without a timestamp: dedup on keys + left join
    for a, feats in sorted(snapshot, key=lambda t: len(t[1])):
        if a.source.timestamp_col:
            continue
        src = _load(a)
        anchor_dfs[a.name] = src
        kcols = [f"__sk{i}" for i in range(len(a.keys))]
        proj = src.select(
            *[F.expr(k).alias(kc) for k, kc in zip(a.keys, kcols)],
            *[F.expr(f.expr).alias(f.name) for f in feats],
        ).dropDuplicates(kcols)
        cond = None
        for okey, kc in zip(a.obs_keys or settings.keys, kcols):
            c = F.expr(okey).eqNullSafe(F.col(kc)) & F.expr(okey).isNotNull()
            cond = c if cond is None else (cond & c)
        out = out.join(proj, cond, "left").drop(*kcols)
        out = out.withColumns({f.name: _with_default(F.col(f.name), f) for f in feats})
        out = _stage_done(out)

    # (5) sequential/lookup features over joined base values. A lookup's
    # value depends on its base value alone: a scalar base joins the
    # expansion's per-key aggregate by value, an array base the
    # expansion's aggregate per distinct base array (no row uid, so no
    # row hash and no monotonically_increasing_id, the reference's
    # retry hazard, SequentialJoinAsDerivation.scala:125-129).
    for lk in lookups:
        exp_anchor, exp_feat = expansions[lk.name]
        exp_df = anchor_dfs.get(lk.expansion_anchor)
        if exp_df is None:
            exp_df = _load(exp_anchor)
        # array-valued base features expand one row per element
        # (SequentialJoinAsDerivation.scala:205-224 explode step)
        out = lookup_join(
            out, lk.base_feature,
            exp_df.select(F.expr(exp_anchor.keys[0]).alias("__ek"),
                          F.expr(exp_feat.expr).alias(lk.expansion_feature)),
            "__ek", lk.expansion_feature, lk.name,
            aggregation=lk.aggregation,
            explode_base=isinstance(out.schema[lk.base_feature].dataType, T.ArrayType),
        )

    # (6) derived features in dependency order
    out = apply_derived_in_order(out, derived)

    # (7) prune to requested features (+ observation columns)
    if obs_ts_col == "__now_ts":
        out = out.drop("__now_ts")
    if requested is not None:
        keep = list(observation.columns) + [c for c in requested if c in out.columns]
        out = out.select(*dict.fromkeys(keep))
    return out
