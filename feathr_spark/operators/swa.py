"""Sliding-window aggregation (SWA) join: the engine's crown jewel.

Joins an observation (label) DataFrame against a time-stamped fact
DataFrame, producing one aggregate feature column per
:class:`~feathr_spark.definitions.SWAFeature`, each computed over the
window ``(t_obs - width - delay, t_obs - delay]`` per entity key —
point-in-time correct, zero temporal leakage.

Two physical strategies, picked automatically:

1. ``union`` (pure JVM / Catalyst / whole-stage codegen): observation
   and fact rows are unioned on (key, ts) and every aggregate becomes a
   Spark SQL window frame ``rangeBetween(-(width+delay)+1, -delay)``
   over int64 microsecond timestamps, evaluated only at observation
   rows. One shuffle + one sort per key; no Python in the hot path.
   Used when every feature is a plain frame-expressible aggregate and
   no hot keys are declared; it does not salt.

2. ``cogroup`` (vectorized Arrow kernel): both sides are cogrouped by a
   hash bucket of the key and merged with numpy ``searchsorted`` +
   prefix sums (:mod:`feathr_spark.operators.kernels`) — the vectorized
   analogue of the reference's sorted-merge iterator
   (feathr-impl/.../swj/SlidingWindowJoin.scala:31-110). One pass per
   bucket: window bounds are computed for every observation at once and
   every aggregate (built-in, grouped top-K, element-wise pooling,
   custom) reads its ``[lo, hi)`` slice of the bucket's (key, ts)-sorted
   fact arrays. Hot-key skew is handled here only, by salting: a hot
   key's timeline is cut into window-wide chunks when every window is
   bounded, otherwise its fact rows are replicated across salt buckets
   (the reference's SaltedSparkJoin.scala:37-130 scheme). AQE cannot
   split a cogroup, so salting is explicit.

Shared optimizations (reference parity):
- fact time-range prefilter ``[min_obs - max(width+delay), max_obs - min(delay)]``
  (AnchorToDataSourceMapper.scala:105-145) → partition pruning at the scan;
  an unbounded window (``WindowSpec(math.inf)``, the planner's as-of
  LATEST) drops the lower bound
- null-key observation segregation: null keys never match and are
  unioned back with null features (SlidingWindowJoinIterator.scala:350-353,
  SlidingWindowAggregationJoiner.scala:232-234,275-278)
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feathr_spark.definitions import CUSTOM_AGGS, FRAME_AGGS, SWAFeature
from feathr_spark.functions.timestamps import to_epoch_micros
from feathr_spark.operators import kernels

_NUMERIC_AGGS = {"SUM", "AVG", "MIN", "MAX"}
_CD_AGGS = {"COUNT_DISTINCT", "APPROX_COUNT_DISTINCT"}
_NUMERIC_FNS = {"SUM": kernels.agg_sum, "COUNT": kernels.agg_count, "AVG": kernels.agg_avg,
                "MIN": kernels.agg_min, "MAX": kernels.agg_max}


# ---------------------------------------------------------------------------
# shared prep
# ---------------------------------------------------------------------------


def _key_cols(n: int) -> list[str]:
    return [f"__k{i}" for i in range(n)]


def _with_keys_ts(df: DataFrame, keys: Sequence[str], ts: str, ts_format: str) -> DataFrame:
    """Append __k0..__kN + __ts. Integral keys widen to long and float
    keys to double so Int<->Long / Float<->Double cross-type joins match
    (reference: SlidingWindowJoinIterator.scala:358-454) AND the bucket
    hash — xxhash64 is type-sensitive — agrees across sides."""
    out = df
    for i, k in enumerate(keys):
        c = F.expr(k)
        dt = df.select(c.alias("_t")).schema[0].dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            c = c.cast("long")
        elif isinstance(dt, T.FloatType):
            c = c.cast("double")
        out = out.withColumn(f"__k{i}", c)
    return out.withColumn("__ts", to_epoch_micros(F.expr(ts), ts_format))


def metric_types(df: DataFrame, features: Sequence[SWAFeature]) -> list:
    """The type of each feature's metric over ``df``, in one analysis."""
    return [fld.dataType for fld in df.select(*[F.expr(f.metric) for f in features]).schema]


def _nan_as_null(c, dtype: T.DataType):
    """``c`` with a float NaN, at any struct depth, made null; ``c``
    itself when ``dtype`` holds no float."""
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return F.when(~F.isnan(c), c)
    if isinstance(dtype, T.StructType):
        kids = [(fld.name, c.getField(fld.name), fld.dataType) for fld in dtype.fields]
        new = [_nan_as_null(k, t) for _, k, t in kids]
        if any(n is not k for n, (_, k, _) in zip(new, kids)):
            return F.when(c.isNotNull(), F.struct(*[
                n.alias(name) for n, (name, _, _) in zip(new, kids)]))
    return c


def metric_expr(f: SWAFeature, dtype: T.DataType):
    """Metric column expr with the reference's COUNT rewrite and filter
    fold (CASE WHEN filter THEN metric ELSE NULL END,
    FeatureTransformer.scala:24-46; COUNT rewrite
    SlidingWindowFeatureUtils.scala:184-188). A NaN metric (or struct
    field) is null: float nulls cross Arrow as NaN and pandas NaN comes
    back null, so that is the one rule every SWA strategy and generation
    can share."""
    raw = _nan_as_null(F.expr(f.metric), dtype)
    if f.agg == "COUNT":
        raw = F.when(raw.isNotNull(), F.lit(1)).otherwise(F.lit(0))
    if f.filter:
        raw = F.when(F.expr(f.filter), raw)
    return raw


def _out_field(f: SWAFeature, metric_dtype: T.DataType) -> T.StructField:
    if f.group_by is not None:
        return T.StructField(
            f.name,
            T.ArrayType(T.StructType([
                T.StructField("group", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ])),
        )
    if f.agg in ("COUNT", "COUNT_DISTINCT", "APPROX_COUNT_DISTINCT"):
        return T.StructField(f.name, T.LongType())
    if f.agg == "LATEST":
        return T.StructField(f.name, metric_dtype)
    if f.agg.endswith("_POOLING"):
        return T.StructField(f.name, T.ArrayType(T.DoubleType()))
    if f.agg in CUSTOM_AGGS:
        return T.StructField(f.name, T._parse_datatype_string(CUSTOM_AGGS[f.agg].dtype))
    return T.StructField(f.name, T.DoubleType())


def _hashable(c, dtype: T.DataType):
    """``c`` as ``xxhash64`` accepts it: a map-containing value as its
    JSON text (as :func:`content_uid_inputs` does), a struct field by
    field, so every map-free value and field hashes as itself."""
    if not _contains_map(dtype):
        return c
    if isinstance(dtype, T.StructType):
        return F.struct(*[_hashable(c.getField(f.name), f.dataType).alias(f.name)
                          for f in dtype.fields])
    return F.to_json(c)


def payload_hash(cols, types):
    """Deterministic order among fact rows sharing (key, ts): the xxhash64
    of their payload (``cols`` of ``types``), the largest wins. Exact
    byte-duplicates hash alike and carry the same payload. A struct
    hashes as its fields in order, so one struct column and its fields
    as separate columns order rows alike."""
    return F.xxhash64(F.struct(*[_hashable(F.col(c) if isinstance(c, str) else c, t)
                                 for c, t in zip(cols, types)]))


def latest_by(m, ts, tiebreak: Optional[T.DataType]):
    """LATEST as one aggregate: the non-null ``m`` with the largest
    ``ts``. With ``tiebreak`` (the type of ``m``), rows sharing that ts
    go to the largest :func:`payload_hash` of ``m`` — the as-of rule, so
    the pick does not depend on row order. A LATEST of the fact ts itself
    passes None: rows sharing a ts hold the same value."""
    order = ts if tiebreak is None else F.struct(ts, payload_hash([m], [tiebreak]))
    return F.max_by(m, F.when(m.isNotNull(), order))


def _isolate_null_keys(obs: DataFrame, n_keys: int) -> DataFrame:
    """Single-pass null-key handling: rows with a null key or null
    timestamp get a unique ``__nk`` partition id (valid rows get 0), so
    they flow through the SAME shuffle isolated in their own one-row
    group — no fact row ever shares it, so every feature comes out null,
    exactly the reference's never-match semantics
    (SlidingWindowJoinIterator.scala:350-353) without the
    two-filter split that re-executes an expensive observation DAG twice.
    ``monotonically_increasing_id`` is safe here: the id only isolates a
    row, so retry nondeterminism cannot change any result value."""
    valid = F.col("__ts").isNotNull()
    for c in _key_cols(n_keys):
        valid = valid & F.col(c).isNotNull()
    return (
        obs.withColumn("__nk", F.when(valid, F.lit(0))
                       .otherwise(F.monotonically_increasing_id() + 1))
        .withColumn("__ts", F.coalesce(F.col("__ts"), F.lit(0)))
    )


def _apply_defaults(df: DataFrame, features: Sequence[SWAFeature]) -> DataFrame:
    for f in features:
        if f.default is not None:
            df = df.withColumn(f.name, F.coalesce(F.col(f.name), F.lit(f.default)))
    return df


def _time_prefilter(obs: DataFrame, fact: DataFrame, features: Sequence[SWAFeature],
                    obs_time_range: Optional[tuple] = None) -> DataFrame:
    """Load fact only for the reachable time range — at scale this is the
    partition-pruning predicate (reference: AnchorToDataSourceMapper.scala:115-128).

    When obs is a raw scan the min/max action is cheap (parquet footer
    stats); when it is a computed pipeline, pass ``obs_time_range``
    (computed once upstream) to avoid re-executing the obs DAG here."""
    if obs_time_range is not None:
        lo, hi = obs_time_range
    else:
        rng = obs.agg(F.min("__ts").alias("lo"), F.max("__ts").alias("hi")).first()
        if rng is None or rng["lo"] is None:
            return fact
        lo, hi = rng["lo"], rng["hi"]
    min_delay = min(f.window.delay_us for f in features)
    keep = F.col("__ts") <= F.lit(int(hi) - min_delay)
    if not any(f.window.unbounded for f in features):
        reach_back = max(f.window.width_us + f.window.delay_us for f in features)
        keep = keep & (F.col("__ts") > F.lit(int(lo) - reach_back))
    return fact.where(keep)


# ---------------------------------------------------------------------------
# strategy 1: union + window frames (pure JVM)
# ---------------------------------------------------------------------------


def _swa_union(obs: DataFrame, fact_proj: DataFrame, features, metric_col,
               n_keys, tiebreak) -> DataFrame:
    obs_u = obs.withColumn("__is_obs", F.lit(1))
    fact_u = fact_proj.withColumn("__is_obs", F.lit(0))
    unioned = obs_u.unionByName(fact_u, allowMissingColumns=True)
    part_cols = _key_cols(n_keys) + ["__nk"]
    # pin the window-stage task count (AQE would coalesce the exchange
    # into ~parallelism fat sort tasks — coarse waves, idle tail; see
    # _swa_cogroup). HashPartitioning(part_cols, b) satisfies the
    # Window's ClusteredDistribution, so no second shuffle appears.
    unioned = unioned.repartition(_default_buckets(obs), *part_cols)

    cols = {}
    for f in features:
        # an unbounded frame grows one running state per partition; a
        # huge finite one would re-aggregate its whole buffer per row
        lo = Window.unboundedPreceding if f.window.unbounded \
            else -(f.window.width_us + f.window.delay_us) + 1
        w = Window.partitionBy(*part_cols).orderBy("__ts") \
            .rangeBetween(lo, -f.window.delay_us)
        m = F.col(metric_col[f.name])
        if f.agg in ("SUM", "COUNT"):
            col = F.sum(m).over(w)
            if f.agg == "COUNT":
                col = col.cast("long")
        elif f.agg == "AVG":
            col = F.avg(m).over(w)
        elif f.agg == "MIN":
            col = F.min(m).over(w)
        elif f.agg == "MAX":
            col = F.max(m).over(w)
        elif f.agg == "LATEST":
            col = latest_by(m, F.col("__ts"), tiebreak.get(f.name)).over(w)
        elif f.agg == "TIMESINCE":
            # the latest row whose (filtered) metric is set; obs rows
            # carry no metric
            col = (F.col("__ts") - F.max(F.when(m.isNotNull(), F.col("__ts"))).over(w)) \
                / F.lit(1e6)
        elif f.agg in ("COUNT_DISTINCT", "APPROX_COUNT_DISTINCT"):
            nonnull = F.count(m).over(w)
            col = F.when(nonnull > 0, F.size(F.collect_set(m).over(w)).cast("long"))
        else:  # pragma: no cover - routed to cogroup by the picker
            raise ValueError(f"union strategy cannot evaluate {f.agg}")
        cols[f.name] = col
    # one projection: every frame (and any precomputed frame argument,
    # e.g. LATEST's order struct) lands in ONE Window node
    return unioned.withColumns(cols).where(F.col("__is_obs") == 1)


# ---------------------------------------------------------------------------
# strategy 2: cogrouped Arrow merge kernel
# ---------------------------------------------------------------------------


def _make_kernel(obs_schema: T.StructType, out_schema: T.StructType, specs: list[dict],
                 seg_cols: list[str]):
    """Bucketed multi-key merge kernel.

    One kernel call receives ALL (obs, fact) rows of a hash bucket of
    keys — not a single key — so per-call Arrow/pandas overhead is paid
    ~num_buckets times instead of num_distinct_keys times (the
    difference is 30s vs 3s on a 12k-key corpus). Inside, both sides are
    sorted by (key-code, ts) and every aggregate is evaluated once over
    the whole bucket on ``kernels.global_window_bounds``.
    """
    obs_out_cols = [f.name for f in obs_schema.fields]
    feat_names = [s["name"] for s in specs]
    int_feats = {
        fld.name for fld in out_schema.fields
        if fld.name in set(feat_names) and isinstance(fld.dataType, T.LongType)
    }
    object_aggs = {"LATEST"}
    # custom-agg callables resolved ONCE at plan time on the driver and
    # closure-captured: the executor-side kernel must not depend on the
    # worker re-importing a registry that was only populated driver-side
    custom_fns = {s["name"]: CUSTOM_AGGS[s["agg"]].fn
                  for s in specs if s["agg"] in CUSTOM_AGGS}

    def _is_object(s):
        return s["agg"] in object_aggs or s["group_col"] is not None \
            or s["agg"].endswith("_POOLING") or s["agg"] in CUSTOM_AGGS

    def kernel(obs_pdf: pd.DataFrame, fact_pdf: pd.DataFrame) -> pd.DataFrame:
        # Null-key/null-ts rows (__nk != 0) never match any fact row by
        # construction (fact __nk is always 0), so answer them directly
        # with all-null features instead of letting their per-row-unique
        # __nk values into the composite key codes. Left inside, each
        # would be a key of its own, inflating the key count by the
        # null-row count and pushing the bucket's (key, ts) composite off
        # the cheap span tier — the null rows must be isolated from the
        # shuffle, not from the fast path.
        if "__nk" in obs_pdf.columns:
            nk_arr = obs_pdf["__nk"].to_numpy()
            bad = nk_arr != 0
            if bad.any():
                nulls = obs_pdf.loc[bad, obs_out_cols].reset_index(drop=True)
                for s in specs:
                    name = s["name"]
                    if name in int_feats:
                        nulls[name] = pd.array([None] * len(nulls), dtype="Int64")
                    elif _is_object(s):
                        nulls[name] = np.full(len(nulls), None, dtype=object)
                    else:
                        nulls[name] = np.full(len(nulls), np.nan)
                if bad.all():
                    return nulls
                valid_res = kernel(obs_pdf[~bad].reset_index(drop=True), fact_pdf)
                return pd.concat([valid_res, nulls], ignore_index=True)
        n = len(obs_pdf)
        if n == 0:
            return pd.DataFrame({c.name: pd.Series(dtype="object") for c in out_schema.fields})
        nf = len(fact_pdf)
        obs_ts_raw = obs_pdf["__ts"].to_numpy(dtype=np.int64)
        oc, fc = kernels.combined_codes(
            [obs_pdf[c] for c in seg_cols], [fact_pdf[c] for c in seg_cols])
        obs_ord = np.lexsort((obs_ts_raw, oc))
        oc_s, obs_ts = oc[obs_ord], obs_ts_raw[obs_ord]
        outs = {s["name"]: np.full(n, None, dtype=object) if _is_object(s)
                else np.full(n, np.nan) for s in specs}

        # One pass over the whole bucket: composite-key searchsorted bounds
        # index the (key, ts)-sorted fact arrays, and since a window never
        # crosses a key every aggregate reads its [lo, hi) slice directly.
        # A bucket with no fact rows keeps every feature null.
        if nf:
            fact_ts_raw = fact_pdf["__ts"].to_numpy(dtype=np.int64)
            fact_ord = np.lexsort((fact_ts_raw, fc))
            fc_s, fact_ts = fc[fact_ord], fact_ts_raw[fact_ord]
            cols: dict = {}
            bounds: dict = {}

            def col(name, dtype):
                if (name, dtype) not in cols:
                    cols[(name, dtype)] = fact_pdf[name].to_numpy(dtype=dtype)[fact_ord]
                return cols[(name, dtype)]

            for s in specs:
                name, agg, win = s["name"], s["agg"], (s["width_us"], s["delay_us"])
                if s["group_col"] is None and agg in _CD_AGGS:
                    # interval-stabbing form (kernels.global_count_distinct):
                    # a per-window np.unique was a measured 6s straggler
                    codes, _ = pd.factorize(pd.Series(col(s["metric"], object)),
                                            use_na_sentinel=True)
                    cnt = kernels.global_count_distinct(
                        fc_s, fact_ts, oc_s, obs_ts, codes.astype(np.int64), *win)
                    outs[name][:] = np.where(cnt > 0, cnt.astype(np.float64), np.nan)
                    continue
                if win not in bounds:
                    bounds[win] = kernels.global_window_bounds(
                        fc_s, fact_ts, oc_s, obs_ts, *win)
                lo, hi = bounds[win]
                if s["group_col"] is not None:
                    codes, groups = pd.factorize(pd.Series(col(s["group_col"], object)))
                    outs[name][:] = kernels.agg_grouped(
                        codes, list(groups), col(s["metric"], np.float64), lo, hi,
                        agg, s["limit"])
                elif agg.endswith("_POOLING"):
                    outs[name][:] = kernels.agg_pooling(col(s["metric"], object), lo, hi, agg)
                elif agg in ("LATEST", "TIMESINCE"):
                    vals = col(s["metric"], object)
                    if s["tiebreak"] is not None:
                        # rows sharing (key, ts) end in payload-hash order,
                        # so the last valid one is the largest hash; a
                        # window never splits such a run
                        vals = vals[np.lexsort(
                            (col(s["tiebreak"], np.int64), fact_ts, fc_s))]
                    idx, ok = kernels.agg_latest(vals, kernels.valid_mask(vals), lo, hi)
                    if agg == "TIMESINCE":
                        outs[name][:] = np.where(ok, (obs_ts - fact_ts[idx]) / 1e6, np.nan)
                        continue
                    picked = vals[idx].copy()
                    picked[~ok] = None
                    outs[name][:] = picked
                elif name in custom_fns:
                    outs[name][:] = custom_fns[name](col(s["metric"], object), fact_ts, lo, hi)
                else:
                    outs[name][:] = _NUMERIC_FNS[agg](col(s["metric"], np.float64), lo, hi)

        result = obs_pdf.iloc[obs_ord][obs_out_cols].reset_index(drop=True)
        for s in specs:
            name = s["name"]
            if name in int_feats:
                result[name] = pd.to_numeric(pd.Series(outs[name]), errors="coerce") \
                    .round().astype("Int64")
            else:
                result[name] = outs[name]
        return result

    return kernel


def _default_buckets(df: DataFrame) -> int:
    """Cogroup hash-bucket count: follow the session's shuffle-partition
    sizing (fixed to the data, not to this session's core count) so the
    same job at N and 4N cores produces identical bucketing — matching
    the real-cluster N -> 4N protocol where partition count is constant."""
    spark = df.sparkSession
    try:
        return max(int(spark.conf.get("spark.sql.shuffle.partitions")), 32)
    except Exception:  # pragma: no cover - "auto" under some AQE configs
        return max(spark.sparkContext.defaultParallelism * 4, 32)


def _salt(obs: DataFrame, fact: DataFrame, n_keys: int, threshold: int, buckets: int,
          hot_keys_df: Optional[DataFrame] = None,
          slice_width_us: Optional[int] = None, span_us: int = 0,
          lo_shift_us: int = 0):
    """Skew handling for hot keys — two schemes, both keeping each
    observation's full visible window inside its (key, salt) fragment.
    Hot keys are ``hot_keys_df`` (the reference's
    PreComputedFrequentItemEstimator:20) or else the keys with more than
    ``threshold`` fact rows, by an exact groupBy-count
    (GroupAndCountFrequentItemEstimator:21).

    - **replicate** (``slice_width_us`` unset; SaltedSparkJoin.scala:88-130
      analogue): hot-key fact rows are copied into every salt bucket,
      hot-key observations hash by (key, ts) into one. Works for
      UNBOUNDED lookback, but the hot key's full fact history is
      sorted/scanned in every fragment — per-fragment cost never shrinks,
      so the hot fragment stays the straggler at high core counts
      (measured: kernel tmax 3.9 s vs a 0.3 s median at 32 cores).

    - **time-slice** (``slice_width_us`` set; requires every window
      bounded by ``span_us`` = max(width+delay)): the hot key's TIMELINE
      is chunked into ``slice_width_us``-wide salt values. An observation
      goes to its own chunk; a fact row at t is copied only into the
      chunks that can see it (t .. t+span) — ceil(span/W)+1 ≈ 2 copies
      instead of ``buckets`` copies, and per-fragment fact volume drops
      from the full history to ~2 chunks' worth. Straggler cost shrinks
      proportionally with chunk width; replication factor is constant.
      The 100 TB shape for bounded windows over zipf-hot entities.
    """
    kcols = _key_cols(n_keys)
    if hot_keys_df is None:
        hot_keys_df = fact.groupBy(*kcols).count().where(F.col("count") > threshold) \
            .select(*kcols)
    hot = hot_keys_df.withColumn("__hot", F.lit(True))
    fact_h = fact.join(F.broadcast(hot), on=kcols, how="left")
    # explode can't sit inside when(); build hot/cold branches and union
    if slice_width_us:
        w = int(slice_width_us)
        # an obs at T sees fact t iff T in [t + delay, t + delay + width):
        # with a NEGATIVE delay the earliest seeing obs sits at t +
        # min_delay < t, so copies must extend DOWN to that chunk
        # (lo_shift_us = min(min_delay, 0); 0 when all delays are >= 0)
        fact_copies = F.sequence(
            F.floor((F.col("__ts") + F.lit(int(lo_shift_us))) / F.lit(w)),
            F.floor((F.col("__ts") + F.lit(int(span_us))) / F.lit(w)))
        # null-ts observations match nothing but still need a valid bucket
        obs_salt = F.coalesce(F.floor(F.col("__ts") / F.lit(w)), F.lit(0))
    else:
        fact_copies = F.sequence(F.lit(0).cast("long"), F.lit(buckets - 1).cast("long"))
        # only the columns that place a row: a payload column may be a
        # map, which xxhash64 rejects, or a wide array not worth hashing
        obs_salt = F.pmod(F.xxhash64(*kcols, "__ts", "__nk"), F.lit(buckets)).cast("long")
    hot_fact = fact_h.where(F.col("__hot").isNotNull()).drop("__hot") \
        .withColumn("__salt", F.explode(fact_copies))
    cold_fact = fact_h.where(F.col("__hot").isNull()).drop("__hot") \
        .withColumn("__salt", F.lit(0).cast("long"))
    fact_salted = hot_fact.unionByName(cold_fact)

    obs_h = obs.join(F.broadcast(hot), on=kcols, how="left")
    obs_salted = obs_h.withColumn(
        "__salt",
        F.when(F.col("__hot").isNotNull(), obs_salt).otherwise(F.lit(0)).cast("long"),
    ).drop("__hot")
    return obs_salted, fact_salted


def _swa_cogroup(obs: DataFrame, fact_proj: DataFrame, features, metric_col, n_keys,
                 tiebreak, obs_schema, out_fields, hot_key_threshold, salt_buckets,
                 hot_keys_df: Optional[DataFrame] = None) -> DataFrame:
    """Cogroup by a bounded hash BUCKET of the key (not the key itself):
    the kernel merges every key in the bucket in one Arrow batch. This
    keeps the number of Python invocations O(buckets) while the shuffle
    still co-locates equal keys; salting moves a hot key's (key, salt)
    fragments into different buckets."""
    kcols = _key_cols(n_keys)
    seg_cols = kcols + ["__nk"]
    if hot_key_threshold or hot_keys_df is not None:
        if hot_keys_df is not None:
            # positional rename to the internal widened key columns
            hot_keys_df = hot_keys_df.select(*[
                F.col(c).alias(f"__k{i}") for i, c in enumerate(hot_keys_df.columns)])
        # bounded windows salt hot keys by TIME SLICE: chunk width = the
        # widest effective window, each fact row copied into <= 2 chunks
        # (see _salt). An unbounded window (or a zero span) replicates.
        span_us = max((f.window.width_us + f.window.delay_us) for f in features)
        lo_shift_us = min(0, min(f.window.delay_us for f in features))
        bounded = span_us > 0 and not any(f.window.unbounded for f in features)
        slice_w = span_us if bounded else None
        obs, fact_proj = _salt(obs, fact_proj, n_keys, hot_key_threshold or 0,
                               salt_buckets, hot_keys_df,
                               slice_width_us=slice_w, span_us=span_us,
                               lo_shift_us=lo_shift_us)
        seg_cols = kcols + ["__nk", "__salt"]

    tb_metrics = {metric_col[n]: t for n, t in tiebreak.items()}
    fact_proj = fact_proj.select("*", *[payload_hash([m], [t]).alias(f"{m}_tb")
                                        for m, t in sorted(tb_metrics.items())])

    b = _default_buckets(obs)
    bucket = F.pmod(F.xxhash64(*seg_cols), F.lit(b)).cast("int")
    # explicit repartition pins the kernel-stage task count at b: AQE's
    # partition coalescing otherwise merges the bucket shuffle down to
    # ~max(defaultParallelism, bytes/64MB) fat tasks, quantizing the
    # stage into 1-2 waves with idle cores at the tail (measured: 128
    # buckets coalesced to 19 tasks of 6.4s at 16 cores — scaling
    # efficiency 0.56). User repartition-by-num is exempt from AQE
    # coalescing, and HashPartitioning(__b, b) satisfies the cogroup's
    # ClusteredDistribution, so no second Exchange is added.
    obs_b = obs.withColumn("__b", bucket).repartition(b, "__b")
    fact_b = fact_proj.withColumn("__b", bucket).repartition(b, "__b")

    specs = [
        {
            "name": f.name,
            "agg": f.agg,
            "metric": metric_col[f.name],
            "group_col": f"__g_{f.name}" if f.group_by is not None else None,
            "width_us": f.window.width_us,
            "delay_us": f.window.delay_us,
            "limit": f.limit,
            "tiebreak": f"{metric_col[f.name]}_tb" if f.name in tiebreak else None,
        }
        for f in features
    ]
    out_schema = T.StructType(list(obs_schema.fields) + out_fields)
    kernel = _make_kernel(obs_schema, out_schema, specs, seg_cols)
    return (
        obs_b.groupBy("__b")
        .cogroup(fact_b.groupBy("__b"))
        .applyInPandas(kernel, out_schema)
    )


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


_SLICK_UIDS = ["_slick_u1", "_slick_u2"]


def _contains_map(dt) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def content_uid_inputs(schema: T.StructType):
    """xxhash64-safe hash inputs covering EVERY column of ``schema``.

    ``xxhash64`` rejects MapType anywhere in a column's type tree (top
    level, array element, struct field). Excluding such columns from a
    content uid is a correctness hazard: rows identical in the hashable
    columns but differing in a map would share a uid, and a downstream
    dedup-on-uid would silently give every duplicate one arbitrary row's
    features. Instead, map-containing columns are rendered with
    ``to_json`` before hashing, so they *contribute* to the uid. Two
    logically-equal maps with different internal entry order hash
    differently — that only costs a missed dedup (both rows computed,
    each joined back to itself), never a wrong share. Determinism across
    plan branches/retries requires the input plan itself to be
    deterministic, same as for any non-map column.
    """
    return [F.to_json(F.col(f.name)) if _contains_map(f.dataType) else F.col(f.name)
            for f in schema.fields]


def slick_trim(obs: DataFrame, exprs: Sequence[str]):
    """The reference's "slick join" observation trim
    (OptimizerUtils.scala:92-105 + DataFrameFeatureJoiner.scala:246-253):
    pin a row uid, project only (uid, join keys, ts) into the feature
    join, and join the wide observation back by uid afterwards — the
    shuffle through the merge then moves a handful of columns instead of
    the full observation row.

    The uid is CONTENT-DERIVED (two independent xxhash64 seeds over the
    row = 128 bits — birthday-safe past 10^12 rows), not
    ``monotonically_increasing_id``: a content hash is identical across
    task retries and across the two plan branches that reference the
    observation, so no ``localCheckpoint`` materialization is needed (at
    100 TB a localCheckpoint is a full extra write of the wide
    observation into executor storage AND is lost on executor death).
    The reference flags the identical retry hazard
    (SequentialJoinAsDerivation.scala:125-129); its stage-checkpoint
    answer is the expensive one.

    Rows that are bytewise-identical share a uid; the trimmed side is
    deduped on uid, and since such rows carry identical keys/timestamps
    their features are identical too, so the join-back gives every
    duplicate the same (correct) feature row and preserves row count.
    Map-containing columns (any nesting) contribute via a to_json
    rendering — see :func:`content_uid_inputs` — so rows differing only
    in a map never share a uid.

    Returns (wide_obs_with_uid, trimmed_obs_deduped).
    """
    hash_in = content_uid_inputs(obs.schema)
    u1 = F.xxhash64(F.lit(0x51C4_0001), *hash_in)
    u2 = F.xxhash64(F.lit(0x51C4_0002), *hash_in)
    wide = obs.withColumn(_SLICK_UIDS[0], u1).withColumn(_SLICK_UIDS[1], u2)
    trimmed = wide.select(
        *_SLICK_UIDS, *[F.expr(e).alias(f"_slick_c{i}") for i, e in enumerate(exprs)]
    ).dropDuplicates(_SLICK_UIDS)
    return wide, trimmed


def _slick_wrap(obs, obs_keys, obs_ts, inner):
    """Run ``inner(trimmed_obs, key_names, ts_name)`` on the trimmed
    projection, then join the produced feature columns back to the wide
    observation by uid (left join: every obs row survives)."""
    exprs = list(obs_keys) + [obs_ts]
    wide, trimmed = slick_trim(obs, exprs)
    key_names = [f"_slick_c{i}" for i in range(len(obs_keys))]
    ts_name = f"_slick_c{len(obs_keys)}"
    joined = inner(trimmed, key_names, ts_name)
    new_cols = [c for c in joined.columns
                if c not in trimmed.columns and not c.startswith("__")]
    back = wide.join(joined.select(*_SLICK_UIDS, *new_cols), on=_SLICK_UIDS, how="left")
    return back.drop(*_SLICK_UIDS)


def join_window_agg_features(
    obs: DataFrame,
    fact: DataFrame,
    obs_keys: Sequence[str],
    fact_keys: Sequence[str],
    obs_ts: str,
    fact_ts: str,
    features: Sequence[SWAFeature],
    obs_ts_format: str = "epoch",
    fact_ts_format: str = "epoch",
    strategy: str = "auto",
    prefilter_time_range: bool = True,
    hot_key_threshold: Optional[int] = None,
    salt_buckets: int = 8,
    slick: bool = False,
    hot_keys_df: Optional[DataFrame] = None,
    obs_time_range: Optional[tuple] = None,
) -> DataFrame:
    """Point-in-time sliding-window aggregation join.

    Returns ``obs`` with one new column per feature; observation rows
    with null keys / null timestamps or no in-window fact rows get null
    (or the feature's declared default). ``slick=True`` shuffles only
    (uid, keys, ts) through the merge and re-joins the wide observation
    afterwards — use when the observation carries wide payload columns.

    ``obs_time_range``: known ``(lo_us, hi_us)`` span of the observation
    timestamps. When given, the fact time prefilter uses it directly
    instead of running a min/max driver action over the observation —
    pass it when obs is itself a computed pipeline (multi-stage plans),
    where the action would re-execute the whole upstream DAG per stage.
    """
    # clash check runs BEFORE the slick trim: the recursive call only sees
    # the trimmed _slick_c* columns, so a feature named like a real
    # observation column would silently duplicate after the join-back
    clash = {f.name for f in features} & set(obs.columns)
    if clash:
        raise ValueError(f"feature names collide with observation columns: {sorted(clash)}")
    if slick:
        return _slick_wrap(
            obs, obs_keys, obs_ts,
            lambda trimmed, keys, ts: join_window_agg_features(
                trimmed, fact, keys, fact_keys, ts, fact_ts, features,
                obs_ts_format=obs_ts_format, fact_ts_format=fact_ts_format,
                strategy=strategy, prefilter_time_range=prefilter_time_range,
                hot_key_threshold=hot_key_threshold, salt_buckets=salt_buckets,
                slick=False, hot_keys_df=hot_keys_df, obs_time_range=obs_time_range,
            ),
        )
    if len(obs_keys) != len(fact_keys):
        raise ValueError("obs_keys and fact_keys must have the same arity")
    n_keys = len(obs_keys)

    obs2 = _with_keys_ts(obs, obs_keys, obs_ts, obs_ts_format)
    fact2 = _with_keys_ts(fact, fact_keys, fact_ts, fact_ts_format)
    fact_null_cond = F.col("__ts").isNotNull()
    for c in _key_cols(n_keys):
        fact_null_cond = fact_null_cond & F.col(c).isNotNull()
    fact2 = fact2.where(fact_null_cond)

    obs_main = _isolate_null_keys(obs2, n_keys)

    # fact projection: keys + ts + deduped metric columns (+ group cols)
    metric_col: dict[str, str] = {}
    proj_exprs: dict[str, object] = {}
    for i, (f, dtype) in enumerate(zip(features, metric_types(fact2, features))):
        sig = (f.metric, f.filter, f.agg == "COUNT")
        existing = next((n for n, s in proj_exprs.items() if s[0] == sig), None)
        if existing is not None and f.group_by is None:
            metric_col[f.name] = existing
        else:
            cname = f"__m{i}"
            expr = metric_expr(f, dtype)
            if f.agg in _NUMERIC_AGGS or f.agg == "COUNT" or f.group_by is not None:
                expr = expr.cast("double")
            proj_exprs[cname] = (sig, expr)
            metric_col[f.name] = cname
    # __nk must be LONG on both sides: xxhash64 hashes int 0 and long 0
    # differently, and the bucket hash must agree across obs/fact
    sel = _key_cols(n_keys) + [F.col("__ts"), F.lit(0).cast("long").alias("__nk")]
    sel += [expr.alias(name) for name, (_, expr) in proj_exprs.items()]
    for f in features:
        if f.group_by is not None:
            sel.append(F.expr(f.group_by).cast("string").alias(f"__g_{f.name}"))
    fact_proj = fact2.select(*sel)

    if prefilter_time_range:
        fact_proj = _time_prefilter(obs_main.where(F.col("__nk") == 0), fact_proj, features,
                                    obs_time_range=obs_time_range)

    # figure output field types (LATEST passes the metric type through)
    proj_dtypes = {f.name: f.dataType for f in fact_proj.schema.fields}
    out_fields = [_out_field(f, proj_dtypes.get(metric_col[f.name], T.DoubleType()))
                  for f in features]

    # LATEST features whose ts ties break by payload hash -> metric type
    tiebreak = {f.name: proj_dtypes[metric_col[f.name]] for f in features
                if f.agg == "LATEST" and f.metric != fact_ts}

    if strategy == "auto":
        frame_ok = all(f.agg in FRAME_AGGS and f.group_by is None for f in features) \
            and not hot_key_threshold and hot_keys_df is None
        strategy = "union" if frame_ok else "cogroup"

    if strategy == "union":
        custom = [f.name for f in features if f.agg in CUSTOM_AGGS]
        if custom:
            raise ValueError(
                f"custom aggregations {custom} require the cogroup strategy "
                "(no Spark window-frame form)")
        if hot_key_threshold or hot_keys_df is not None:
            raise ValueError("hot-key salting runs on the cogroup strategy only; "
                             "use strategy='cogroup' (or 'auto')")
        joined = _swa_union(obs_main, fact_proj, features, metric_col, n_keys, tiebreak)
        helper = [c for c in joined.columns if c.startswith("__")]
        joined = joined.drop(*helper)
    elif strategy == "cogroup":
        joined = _swa_cogroup(
            obs_main, fact_proj, features, metric_col, n_keys, tiebreak,
            obs.schema, out_fields, hot_key_threshold, salt_buckets, hot_keys_df,
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    return _apply_defaults(joined, features)
