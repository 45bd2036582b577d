"""Feature-definition model (spec layer).

Mirrors the reference's user-facing abstractions, re-expressed as plain
dataclasses that drive DataFrame plans:

- WindowSpec / SWAFeature  <- SlidingWindowFeature + WindowSpec + GroupBySpec
  (feathr-impl/.../swj/SlidingWindowDataDef.scala:48-86)
- Anchor                   <- feature anchor (feathr_project/feathr/definition/anchor.py)
- DerivedFeature           <- feature_derivations.py:11-49
- LookupFeature            <- lookup_feature.py:13-44
- ObservationSettings      <- settings.py:32-66

All window widths/delays are in SECONDS (float accepted); the engine
normalizes every timestamp to int64 epoch MICROSECONDS internally, so
sub-second event times compare exactly.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

MICROS = 1_000_000
# the width of an unbounded window: reaches past any int64 microsecond
# timestamp, yet ``t - width - delay`` stays inside int64
UNBOUNDED_US = 1 << 62

# aggregation vocabulary: swj/aggregate/AggregationType.scala:3-6
AGG_TYPES = {
    "SUM",
    "COUNT",
    "AVG",
    "MIN",
    "MAX",
    "LATEST",
    "TIMESINCE",
    "COUNT_DISTINCT",
    "APPROX_COUNT_DISTINCT",
    "SUM_POOLING",
    "AVG_POOLING",
    "MAX_POOLING",
    "MIN_POOLING",
}

# aggregates whose window state is order-independent and expressible as a
# Spark SQL window frame -> eligible for the pure-JVM "union" strategy.
# COUNT_DISTINCT is deliberately excluded: its frame form is
# collect_set().over(rangeBetween(...)), which materializes the set per
# row — O(rows x window) on hot keys — so auto-routing sends it to the
# vectorized cogroup kernel instead.
FRAME_AGGS = {"SUM", "COUNT", "AVG", "MIN", "MAX", "LATEST", "TIMESINCE"}


# User-registered SWA aggregations (the reference's ComplexAggregation /
# custom UDAF surface, TimeWindowFeatureDefinition.scala:24-27): the
# callable runs inside the cogroup Arrow kernel, once per hash bucket.
@dataclass(frozen=True)
class CustomAggregation:
    name: str
    # fn(values: np.ndarray[object], fact_ts: np.ndarray[int64 us],
    #    lo: np.ndarray, hi: np.ndarray) -> np.ndarray of len(lo);
    # values/fact_ts span the bucket's keys, ts-ascending within each key;
    # window i covers values[lo[i]:hi[i]] (never crosses a key),
    # empty -> emit None
    fn: Callable
    dtype: str = "double"  # Spark DDL type of the output column


CUSTOM_AGGS: dict[str, CustomAggregation] = {}


def register_aggregation(name: str, fn: Callable, dtype: str = "double") -> None:
    """Register a custom sliding-window aggregation usable as
    ``SWAFeature(..., agg=name)``. Vectorized contract: ``fn`` receives
    bucket-wide metric values + timestamps (sorted by ts within each key)
    and the per-observation window bounds ``(lo, hi)``, where no window
    crosses a key, and returns one output per observation —
    numpy in, numpy out, no per-row Python outside the fn. Runs on the
    cogroup (Arrow kernel) strategy only; the fn is closure-captured at
    plan time, so registration must happen on the driver before the join
    is built."""
    key = name.upper()
    if key in AGG_TYPES:
        raise ValueError(f"{name!r} is a built-in aggregation")
    CUSTOM_AGGS[key] = CustomAggregation(key, fn, dtype)


@dataclass(frozen=True)
class WindowSpec:
    """Sliding window ``(t_obs - width - delay, t_obs - delay]``.

    Left-exclusive / right-inclusive, exactly as the reference iterator
    (swj/join/SlidingWindowJoinIterator.scala:177-220). ``width=math.inf``
    is an unbounded lookback: every fact row up to ``t_obs - delay``.
    """

    width: float  # seconds
    delay: float = 0.0  # seconds

    @property
    def unbounded(self) -> bool:
        return math.isinf(self.width)

    @property
    def width_us(self) -> int:
        return UNBOUNDED_US if self.unbounded else int(round(self.width * MICROS))

    @property
    def delay_us(self) -> int:
        return int(round(self.delay * MICROS))


@dataclass(frozen=True)
class SWAFeature:
    """One sliding-window aggregate feature over a fact source.

    ``metric`` and ``filter`` are Spark SQL expressions over the fact
    columns (the reference folds filter into the metric as
    ``CASE WHEN filter THEN metric ELSE NULL END``,
    swj/transformer/FeatureTransformer.scala:24-46 — we do the same).
    ``group_by`` + ``limit`` produce ``array<struct<group,value>>``
    top-K output (SlidingWindowDataDef.scala:63-65).
    """

    name: str
    agg: str
    metric: str
    window: WindowSpec
    filter: Optional[str] = None
    group_by: Optional[str] = None
    limit: Optional[int] = None
    default: Any = None
    # per-feature LATERAL VIEW (SlidingWindowDataDef.scala:83-86): the
    # reference attaches the explode to each SWA feature, so two features
    # with different explodes can share one source/anchor. Anchor-level
    # lateral_view remains as sugar for features that leave these unset.
    lateral_view: Optional[str] = None  # e.g. "explode(items)"
    lateral_view_alias: Optional[str] = None
    lateral_view_filter: Optional[str] = None

    def __post_init__(self):
        if self.agg not in AGG_TYPES and self.agg not in CUSTOM_AGGS:
            raise ValueError(
                f"unknown aggregation {self.agg!r}; expected one of "
                f"{sorted(AGG_TYPES | CUSTOM_AGGS.keys())} "
                "(custom aggs: feathr_spark.register_aggregation)")


@dataclass(frozen=True)
class Feature:
    """Row-level (non-windowed) anchored feature: name + SQL expression.

    Reference: SQLConfigurableAnchorExtractor.scala:42-64 — each feature
    is a Spark SQL expression over source columns.
    """

    name: str
    expr: str
    default: Any = None


@dataclass
class Source:
    """A batch source: path + format + optional timestamp settings.

    Reference: feathr_project/feathr/definition/source.py (HdfsSource).
    """

    path: str
    fmt: str = "parquet"
    timestamp_col: Optional[str] = None
    timestamp_format: str = "epoch"  # epoch | epoch_millis | epoch_micros | strftime pattern
    options: dict = field(default_factory=dict)
    preprocessing: Optional[Callable] = None  # DataFrame -> DataFrame, pre-join hook


@dataclass
class Anchor:
    """Binds features to a source with a key expression list.

    Reference: anchor.py + SQLSourceKeyExtractor.scala:33-46 (keys are
    SQL expressions appended as key0..keyN before join/agg).
    """

    name: str
    source: Source
    keys: list  # list[str] of SQL expressions over source columns
    features: list  # list[Feature] | list[SWAFeature]
    lateral_view: Optional[str] = None  # e.g. "explode(features)"
    lateral_view_alias: str = "lv"
    lateral_view_filter: Optional[str] = None
    # observation-side key expressions for THIS anchor, overriding
    # ObservationSettings.keys — the reference's key-tag aliasing, where
    # different features join on different observation columns (e.g.
    # viewer_id vs viewee_id; MultiStageJoinPlanner.scala:319-335 key
    # tags + feature_derivations key aliases)
    obs_keys: Optional[list] = None
    # custom anchor extractor (the reference's SimpleAnchorExtractorSpark /
    # AnchorExtractor plugin surface, offline/anchored/anchorExtractor/*):
    # an AnchorExtractor instance whose transform() maps the loaded source
    # DataFrame to per-feature Columns, applied before key extraction so
    # its outputs are visible to feature expressions / metrics.
    extractor: Optional["AnchorExtractor"] = None


class AnchorExtractor:
    """Protocol for custom anchor extractors (reference:
    offline/anchored/anchorExtractor/SimpleConfigurableAnchorExtractor.scala
    + plugin adaptors offline/client/plugins/): subclass and implement
    ``transform(df) -> dict[str, Column]`` — each entry becomes a column
    on the anchor's source before features evaluate, so feature ``expr``s
    (or SWA ``metric``s) can reference them. Pure-Column contract keeps
    the extractor inside Catalyst (no Python row path)."""

    def transform(self, df):  # pragma: no cover - interface
        raise NotImplementedError

    def apply(self, df):
        cols = self.transform(df)
        if not isinstance(cols, dict):
            raise TypeError("AnchorExtractor.transform must return "
                            "{name: Column}")
        return df.withColumns(cols)


@dataclass(frozen=True)
class DerivedFeature:
    """Row-level expression over already-joined feature columns."""

    name: str
    expr: str
    inputs: tuple = ()


@dataclass(frozen=True)
class LookupFeature:
    """Sequential join: base feature value used as the key into an
    expansion feature, then aggregated back to observation cardinality.

    Reference: lookup_feature.py:13-44 +
    offline/derived/strategies/SequentialJoinAsDerivation.scala:44-167.
    """

    name: str
    base_feature: str  # joined column holding the lookup key (may be array)
    expansion_anchor: str  # anchor name providing the expansion feature
    expansion_feature: str
    aggregation: str = "UNION"  # SUM|AVG|MAX|MIN|UNION|LATEST|FIRST|ELEMENTWISE_*


@dataclass
class ObservationSettings:
    """Observation-side settings (settings.py:32-66)."""

    keys: list
    timestamp_col: str
    timestamp_format: str = "epoch"
    simulate_time_delay: float = 0.0  # seconds, shifts every window by +delay
    # useLatestFeatureData (SlidingWindowAggregationJoiner.scala:225-229):
    # ignore the observation timestamp column and window every feature
    # against "now" — feature generation against the freshest data.
    # ``now_epoch`` (seconds) pins the clock for tests/reproducible runs;
    # None -> driver-side time.time() evaluated once per plan.
    use_latest_feature_data: bool = False
    now_epoch: Optional[float] = None
