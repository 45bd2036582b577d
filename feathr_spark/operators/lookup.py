"""Sequential (lookup) join: use a feature value as the key into another
feature table, then aggregate back to observation cardinality.

Reference: offline/derived/strategies/SequentialJoinAsDerivation.scala:44-167 —
obs ⟕ base feature → (explode array-valued base key :205-224) → join
expansion feature on the base value → groupBy(uid).agg to restore
cardinality; null-key rows are split out and unioned back
(DataFrameSplitterMerger.splitOnNull). The reference's uid is
``monotonically_increasing_id`` (non-deterministic across retries, noted
at :125-129).

No uid is needed: a lookup's value depends on the base value alone. A
scalar base joins the expansion table aggregated per expansion key on
``base == key`` (eager aggregation: the group-by moves below the join),
so the observation is read once. An array base is aggregated per
distinct base array (distinct arrays → explode → join the expansion →
groupBy the array) and that per-array table is left-joined back on the
array value. The second read of the observation projects the base
column alone, so only the base's own lineage is evaluated twice, and
nothing shuffles on a row hash.

ELEMENTWISE_* aggregations (SequentialJoinAsDerivation.scala:300-663 —
the reference's Spark-UDAF family over array-valued expansion features)
are pure JVM here: ``collect_list`` of the arrays per group, then a
higher-order ``aggregate``/``zip_with`` fold. Arrays must share one
length per group (the reference's UDAFs assert the same;
mismatched-length positions come out null via zip_with's null-padding).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LOOKUP_AGGS = {"SUM", "AVG", "MAX", "MIN", "UNION", "LATEST", "FIRST", "COUNT",
               "ELEMENTWISE_SUM", "ELEMENTWISE_AVG", "ELEMENTWISE_MAX",
               "ELEMENTWISE_MIN"}

_EW_MERGE = {
    "ELEMENTWISE_SUM": lambda a, b: a + b,
    "ELEMENTWISE_AVG": lambda a, b: a + b,  # sum now, divide by n after
    "ELEMENTWISE_MAX": lambda a, b: F.greatest(a, b),
    "ELEMENTWISE_MIN": lambda a, b: F.least(a, b),
}


def _elementwise_agg(grouped_src: DataFrame, group_cols: Sequence[str],
                     aggregation: str, out_name: str) -> DataFrame:
    """Fold array-valued ``__val`` rows elementwise per group.

    One groupBy (map-side combine on collect_list) + a codegen'd
    ``aggregate`` fold seeded with the first array — no Python, no
    explode blow-up. Output element type: double.
    """
    merge = _EW_MERGE[aggregation]
    lists = grouped_src.groupBy(*group_cols).agg(
        F.collect_list("__val").alias("__vals"),
        F.count("__val").alias("__n"),
    )
    vals = F.col("__vals")
    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.zip_with(acc, x, merge),
    )
    if aggregation == "ELEMENTWISE_AVG":
        folded = F.transform(folded, lambda x: x / F.col("__n"))
    out = F.when(F.size(vals) > 0, folded)
    return lists.select(*group_cols, out.alias(out_name))


def _aggregate(rows: DataFrame, group_cols: Sequence[str], aggregation: str,
               out_name: str) -> DataFrame:
    """One row per group: ``aggregation`` over the group's ``__val``s
    (nulls skipped)."""
    if aggregation.startswith("ELEMENTWISE_"):
        return _elementwise_agg(rows.where(F.col("__val").isNotNull()),
                                group_cols, aggregation, out_name)
    if aggregation == "UNION":
        agg = F.collect_list("__val")
    elif aggregation == "COUNT":
        agg = F.count("__val")
    elif aggregation in ("FIRST", "LATEST"):
        agg = F.first("__val", ignorenulls=True)
    else:
        agg = getattr(F, aggregation.lower())("__val")
    return rows.groupBy(*group_cols).agg(agg.alias(out_name))


def lookup_join(
    obs: DataFrame,
    base_key: str,
    expansion: DataFrame,
    expansion_key: str,
    expansion_value: str,
    out_name: str,
    aggregation: str = "UNION",
    explode_base: bool = False,
    broadcast_expansion: bool = False,
) -> DataFrame:
    """Join ``expansion`` on ``obs[base_key]`` and aggregate
    ``expansion_value`` to one value per observation row.

    ``aggregation``: UNION → collect_list, SUM/AVG/MAX/MIN/COUNT → the
    numeric aggregate, FIRST/LATEST → arbitrary single value (FIRST),
    ELEMENTWISE_SUM/AVG/MAX/MIN → elementwise fold over array-valued
    expansion values — matching
    feathr_project/feathr/definition/aggregation.py:4-27. Null expansion
    values are skipped. A null base gives null; a base with no expansion
    row gives 0 for COUNT, ``[]`` for UNION and null otherwise.

    A scalar base joins the per-key aggregate of ``expansion`` by value.
    ``explode_base=True`` (an array-valued base) expands each distinct
    base array one row per element, aggregates the matched expansion
    rows per array and joins that per-array aggregate by value: rows with
    equal arrays get the one computed result. An empty array, or one of
    null elements only, gives null.
    """
    aggregation = aggregation.upper()
    if aggregation not in LOOKUP_AGGS:
        raise ValueError(f"unknown lookup aggregation {aggregation}")
    if out_name in obs.columns:
        raise ValueError(f"output column {out_name} already exists")

    val_expr = F.expr(expansion_value)
    if aggregation.startswith("ELEMENTWISE_"):
        val_expr = F.transform(val_expr, lambda x: x.cast("double"))
    exp = expansion.select(
        F.col(expansion_key).alias("__bk"),
        val_expr.alias("__val"),
    ).where(F.col("__bk").isNotNull())

    if explode_base:
        # null elements never match and must not shuffle-skew
        matched = obs.select(F.col(base_key).alias("__ba")).distinct() \
            .select("__ba", F.explode("__ba").alias("__bk")) \
            .where(F.col("__bk").isNotNull())
        if broadcast_expansion:
            exp = F.broadcast(exp)
        per_array = _aggregate(matched.join(exp, on="__bk", how="left"),
                               ["__ba"], aggregation, out_name)
        return obs.join(per_array, F.col(base_key) == F.col("__ba"), "left") \
            .drop("__ba")

    per_key = _aggregate(exp, ["__bk"], aggregation, out_name)
    if broadcast_expansion:
        per_key = F.broadcast(per_key)
    out = obs.join(per_key, F.col(base_key) == F.col("__bk"), "left").drop("__bk")
    # a base with no expansion row: what the empty group aggregates to
    empty = {"COUNT": F.lit(0).cast("long"),
             "UNION": F.array().cast(per_key.schema[out_name].dataType)}.get(aggregation)
    if empty is not None:
        out = out.withColumn(out_name, F.when(
            F.col(base_key).isNotNull(), F.coalesce(F.col(out_name), empty)))
    return out
