"""Property-based randomized cross-check of the SWA join.

Hypothesis generates small observation/fact tables with adversarial
structure — integer timestamps in a tiny range (so window boundaries
collide with event times constantly), shared keys, null observation
keys, keys with no fact rows, duplicate observation (key, ts) — and a
pure-pandas brute force recomputes every feature row-by-row from the
window contract ``(t - width - delay, t - delay]`` (left-exclusive /
right-inclusive, reference SlidingWindowJoinIterator.scala:177-220).
Both engine strategies (union window-frame path and Arrow cogroup
kernel path) must match the brute force exactly.

The reference ships no property-based tests (SURVEY.md §5); this goes
beyond it: any semantic drift between the two strategies or against the
contract shows up as a falsifying example with a minimal shrink.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from feathr_spark import SWAFeature, WindowSpec, register_aggregation
from feathr_spark.definitions import CUSTOM_AGGS
from feathr_spark.operators.swa import join_window_agg_features

KEYS = ["a", "b", "c", None]
FACT_KEYS = ["a", "b"]  # "c" never has fact rows; None is the null-key path

fact_rows = st.lists(
    st.tuples(st.sampled_from(FACT_KEYS),          # key
              st.integers(0, 20),                  # ts
              st.integers(-5, 5),                  # metric value
              st.sampled_from(["x", "y"])),        # category
    min_size=0, max_size=12,
    # LATEST/TIMESINCE are only well-defined with unique (key, ts)
    unique_by=lambda r: (r[0], r[1]),
)
obs_rows = st.lists(
    st.tuples(st.sampled_from(KEYS), st.integers(0, 20)),
    min_size=1, max_size=8,
)
windows = st.tuples(st.integers(1, 15), st.integers(0, 5))  # (width, delay)


def brute_force(obs, fact, width, delay):
    """Per-obs-row window aggregates straight from the contract."""
    out = []
    for i, (k, t) in enumerate(obs):
        lo, hi = t - width - delay, t - delay
        rows = [] if k is None else [
            (ts, v, c) for (fk, ts, v, c) in fact
            if fk == k and lo < ts <= hi
        ]
        if not rows:
            out.append(dict(obs_id=i, s=None, n=None, av=None, mn=None,
                            mx=None, lt=None, tsince=None, cd=None))
            continue
        vals = [v for (_, v, _) in rows]
        latest_ts = max(ts for (ts, _, _) in rows)
        latest_v = [v for (ts, v, _) in rows if ts == latest_ts][0]
        out.append(dict(
            obs_id=i,
            s=float(sum(vals)),
            n=len(vals),
            av=sum(vals) / len(vals),
            mn=float(min(vals)),
            mx=float(max(vals)),
            lt=float(latest_v),
            tsince=float(hi - latest_ts + delay),  # t_obs - latest event ts
            cd=len({c for (_, _, c) in rows}),
        ))
    return out


# cogroup-only features: group-by top-K and a registered custom aggregate
# (FIRST = the earliest value in the window), all read off the kernel's
# bucket-wide window bounds
GROUPED = {"g_sum": ("SUM", 1), "g_avg": ("AVG", None),
           "g_min": ("MIN", 2), "g_max": ("MAX", 1)}


def brute_force_grouped(obs, fact, width, delay):
    """Per obs row: {feature: [(group, value), ...] or None} + FIRST."""
    out = []
    for k, t in obs:
        lo, hi = t - width - delay, t - delay
        rows = [] if k is None else sorted(
            (ts, v, c) for (fk, ts, v, c) in fact if fk == k and lo < ts <= hi)
        want = {"first": float(rows[0][1]) if rows else None}
        for name, (agg, limit) in GROUPED.items():
            by = {}
            for _, v, c in rows:
                by.setdefault(c, []).append(v)
            fn = {"SUM": sum, "MIN": min, "MAX": max,
                  "AVG": lambda vs: sum(vs) / len(vs)}[agg]
            pairs = sorted(((c, float(fn(vs))) for c, vs in by.items()),
                           key=lambda p: (-p[1], p[0]))
            want[name] = pairs[:limit] if limit else pairs
            if not rows:
                want[name] = None
        out.append(want)
    return out


@pytest.mark.parametrize("strategy", ["union", "cogroup"])
@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(fact=fact_rows, obs=obs_rows, win=windows)
def test_swa_matches_brute_force(spark, strategy, fact, obs, win):
    width, delay = win
    obs_df = spark.createDataFrame(
        [(i, k, float(t)) for i, (k, t) in enumerate(obs)],
        "obs_id long, k string, ts double")
    fact_df = spark.createDataFrame(
        [(k, float(ts), float(v), c) for (k, ts, v, c) in fact],
        "k string, ts double, v double, cat string")
    feats = [
        SWAFeature("s", "SUM", "v", WindowSpec(width, delay)),
        SWAFeature("n", "COUNT", "v", WindowSpec(width, delay)),
        SWAFeature("av", "AVG", "v", WindowSpec(width, delay)),
        SWAFeature("mn", "MIN", "v", WindowSpec(width, delay)),
        SWAFeature("mx", "MAX", "v", WindowSpec(width, delay)),
        SWAFeature("lt", "LATEST", "v", WindowSpec(width, delay)),
        SWAFeature("tsince", "TIMESINCE", "v", WindowSpec(width, delay)),
        SWAFeature("cd", "COUNT_DISTINCT", "cat", WindowSpec(width, delay)),
    ]
    if strategy == "cogroup":
        # defined here so the worker unpickles it by value, not by module
        def first_in_window(values, ts, lo, hi):
            out = np.full(len(lo), None, dtype=object)
            nonempty = hi > lo
            out[nonempty] = values[lo[nonempty]]
            return out

        register_aggregation("FIRST", first_in_window)
        feats += [SWAFeature(name, agg, "v", WindowSpec(width, delay),
                             group_by="cat", limit=limit)
                  for name, (agg, limit) in GROUPED.items()]
        feats.append(SWAFeature("first", "FIRST", "v", WindowSpec(width, delay)))
    try:
        got = {r["obs_id"]: r for r in join_window_agg_features(
            obs_df, fact_df, ["k"], ["k"], "ts", "ts", feats,
            strategy=strategy).collect()}
    finally:
        CUSTOM_AGGS.pop("FIRST", None)
    for want in brute_force(obs, fact, width, delay):
        g = got[want["obs_id"]]
        for name in ("s", "n", "av", "mn", "mx", "lt", "tsince", "cd"):
            w, v = want[name], g[name]
            ctx = (f"obs {want['obs_id']} {name} ({strategy}, w={width} "
                   f"d={delay}): want {w} got {v}\nobs={obs}\nfact={fact}")
            if w is None:
                assert v is None, ctx
            else:
                assert v is not None and math.isclose(float(v), float(w),
                                                      rel_tol=1e-9), ctx
    if strategy != "cogroup":
        return
    for i, want in enumerate(brute_force_grouped(obs, fact, width, delay)):
        g = got[i]
        ctx = (f"obs {i} (w={width} d={delay}): want {want} got {g}"
               f"\nobs={obs}\nfact={fact}")
        assert g["first"] == want["first"], ctx
        for name in GROUPED:
            v = None if g[name] is None else [(r["group"], r["value"]) for r in g[name]]
            if want[name] is None:
                assert v is None, ctx
            else:
                assert v is not None and [c for c, _ in v] == [c for c, _ in want[name]] \
                    and all(math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
                            for (_, a), (_, b) in zip(v, want[name])), ctx


# ---------------------------------------------------------------------------
# as-of join property test (same generator, all three strategies)
# ---------------------------------------------------------------------------


def brute_force_asof(obs, fact, delay, tolerance):
    out = []
    for i, (k, t) in enumerate(obs):
        hi = t - delay
        lo = hi - tolerance if tolerance is not None else None
        rows = [] if k is None else [
            (ts, v, c) for (fk, ts, v, c) in fact
            if fk == k and ts <= hi and (lo is None or ts > lo)
        ]
        if not rows:
            out.append(dict(obs_id=i, last_v=None, last_cat=None))
        else:
            ts, v, c = max(rows)  # unique (key, ts) => max ts row
            out.append(dict(obs_id=i, last_v=float(v), last_cat=c))
    return out


@pytest.mark.parametrize("strategy", ["union", "prune"])
@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(fact=fact_rows, obs=obs_rows,
       delay=st.integers(0, 4),
       tolerance=st.one_of(st.none(), st.integers(1, 10)))
def test_asof_matches_brute_force(spark, strategy, fact, obs, delay, tolerance):
    from feathr_spark.operators.asof import asof_join

    obs_df = spark.createDataFrame(
        [(i, k, float(t)) for i, (k, t) in enumerate(obs)],
        "obs_id long, k string, ts double")
    fact_df = spark.createDataFrame(
        [(k, float(ts), float(v), c) for (k, ts, v, c) in fact],
        "k string, ts double, v double, cat string")
    got = {r["obs_id"]: r for r in asof_join(
        obs_df, fact_df, ["k"], ["k"], "ts", "ts",
        ["v as last_v", "cat as last_cat"],
        delay=float(delay),
        tolerance=None if tolerance is None else float(tolerance),
        strategy=strategy).collect()}
    for want in brute_force_asof(obs, fact, delay, tolerance):
        g = got[want["obs_id"]]
        ctx = (f"obs {want['obs_id']} ({strategy}, delay={delay} "
               f"tol={tolerance}): want {want} got "
               f"({g['last_v']}, {g['last_cat']})\nobs={obs}\nfact={fact}")
        if want["last_v"] is None:
            assert g["last_v"] is None and g["last_cat"] is None, ctx
        else:
            assert g["last_v"] is not None and math.isclose(
                float(g["last_v"]), want["last_v"], rel_tol=1e-9), ctx
            assert g["last_cat"] == want["last_cat"], ctx


# ---------------------------------------------------------------------------
# pooling aggregation property test (cogroup kernel, array-valued metric)
# ---------------------------------------------------------------------------


vec_fact_rows = st.lists(
    st.tuples(st.sampled_from(FACT_KEYS),
              st.integers(0, 20),                               # ts
              st.lists(st.integers(-4, 4), min_size=3, max_size=3)),  # vec
    min_size=0, max_size=10,
    unique_by=lambda r: (r[0], r[1]),
)


def brute_force_pooling(obs, fact, width):
    out = []
    for i, (k, t) in enumerate(obs):
        vecs = [] if k is None else [
            v for (fk, ts, v) in fact if fk == k and t - width < ts <= t]
        if not vecs:
            out.append(dict(obs_id=i, mx=None, mn=None, sm=None, av=None))
        else:
            cols = list(zip(*vecs))
            out.append(dict(
                obs_id=i,
                mx=[float(max(c)) for c in cols],
                mn=[float(min(c)) for c in cols],
                sm=[float(sum(c)) for c in cols],
                av=[sum(c) / len(c) for c in cols],
            ))
    return out


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(fact=vec_fact_rows, obs=obs_rows, width=st.integers(1, 15))
def test_pooling_matches_brute_force(spark, fact, obs, width):
    obs_df = spark.createDataFrame(
        [(i, k, float(t)) for i, (k, t) in enumerate(obs)],
        "obs_id long, k string, ts double")
    fact_df = spark.createDataFrame(
        [(k, float(ts), [float(x) for x in v]) for (k, ts, v) in fact],
        "k string, ts double, vec array<double>")
    feats = [
        SWAFeature("mx", "MAX_POOLING", "vec", WindowSpec(width)),
        SWAFeature("mn", "MIN_POOLING", "vec", WindowSpec(width)),
        SWAFeature("sm", "SUM_POOLING", "vec", WindowSpec(width)),
        SWAFeature("av", "AVG_POOLING", "vec", WindowSpec(width)),
    ]
    got = {r["obs_id"]: r for r in join_window_agg_features(
        obs_df, fact_df, ["k"], ["k"], "ts", "ts", feats,
        strategy="cogroup").collect()}
    for want in brute_force_pooling(obs, fact, width):
        g = got[want["obs_id"]]
        for name in ("mx", "mn", "sm", "av"):
            w, v = want[name], g[name]
            ctx = (f"obs {want['obs_id']} {name} (w={width}): want {w} "
                   f"got {v}\nobs={obs}\nfact={fact}")
            if w is None:
                assert v is None, ctx
            else:
                assert v is not None and len(v) == len(w) and all(
                    math.isclose(float(a), float(b), rel_tol=1e-9)
                    for a, b in zip(v, w)), ctx


# ---------------------------------------------------------------------------
# salted variants: every key forced hot — the entire dataset runs through
# the salt machinery (cogroup, the only salted strategy). A bounded window
# salts by time slice, an unbounded one replicates.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("bounded", [True, False], ids=["bounded", "unbounded"])
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(fact=fact_rows, obs=obs_rows, win=windows)
def test_salted_swa_matches_brute_force(spark, bounded, fact, obs, win):
    width, delay = win
    if not bounded:
        width = math.inf
    obs_df = spark.createDataFrame(
        [(i, k, float(t)) for i, (k, t) in enumerate(obs)],
        "obs_id long, k string, ts double")
    fact_df = spark.createDataFrame(
        [(k, float(ts), float(v), c) for (k, ts, v, c) in fact],
        "k string, ts double, v double, cat string")
    hot = spark.createDataFrame([(k,) for k in FACT_KEYS], "k string")
    feats = [
        SWAFeature("s", "SUM", "v", WindowSpec(width, delay)),
        SWAFeature("n", "COUNT", "v", WindowSpec(width, delay)),
        SWAFeature("mx", "MAX", "v", WindowSpec(width, delay)),
        SWAFeature("lt", "LATEST", "v", WindowSpec(width, delay)),
        SWAFeature("cd", "COUNT_DISTINCT", "cat", WindowSpec(width, delay)),
    ]
    got = {r["obs_id"]: r for r in join_window_agg_features(
        obs_df, fact_df, ["k"], ["k"], "ts", "ts", feats,
        strategy="cogroup", hot_keys_df=hot, salt_buckets=3).collect()}
    for want in brute_force(obs, fact, width, delay):
        g = got[want["obs_id"]]
        for name in ("s", "n", "mx", "lt", "cd"):
            w, v = want[name], g[name]
            ctx = (f"obs {want['obs_id']} {name} (salted, "
                   f"w={width} d={delay}): want {w} got {v}\n"
                   f"obs={obs}\nfact={fact}")
            if w is None:
                assert v is None, ctx
            else:
                assert v is not None and math.isclose(float(v), float(w),
                                                      rel_tol=1e-9), ctx
