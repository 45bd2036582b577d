"""As-of (point-in-time) join tests incl. DuckDB ASOF JOIN oracle."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feathr_spark.datagen import corpus
from feathr_spark.operators.asof import asof_join

STRATEGIES = ["union", "prune"]


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_golden(spark, strategy):
    obs = spark.createDataFrame(
        [(1, "a", 100.0), (2, "a", 200.0), (3, "b", 150.0), (4, "c", 100.0), (5, None, 100.0)],
        "obs_id long, k string, ts double",
    )
    fact = spark.createDataFrame(
        [("a", 50.0, 1.0, "x"), ("a", 100.0, 2.0, "y"), ("a", 150.0, 3.0, "x"),
         ("b", 149.0, 10.0, "x"), ("b", 150.0, None, "y")],
        "k string, ts double, v double, cat string",
    )
    out = asof_join(obs, fact, ["k"], ["k"], "ts", "ts",
                    ["v as last_v", "cat as last_cat"], strategy=strategy)
    rows = {r["obs_id"]: r for r in out.collect()}
    assert rows[1]["last_v"] == 2.0 and rows[1]["last_cat"] == "y"  # ts==obs ts inclusive
    assert rows[2]["last_v"] == 3.0 and rows[2]["last_cat"] == "x"
    # latest ROW for b@150 is (150, null, 'y') -> the row is picked atomically
    assert rows[3]["last_v"] is None and rows[3]["last_cat"] == "y"
    assert rows[4]["last_v"] is None and rows[5]["last_v"] is None


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_tolerance_and_delay(spark, strategy):
    obs = spark.createDataFrame([(1, "a", 100.0), (2, "a", 500.0), (3, "b", 100.0),
                                 (4, "b", 99.0)],
                                "obs_id long, k string, ts double")
    fact = spark.createDataFrame([("a", 90.0, 1.0), ("a", 100.0, 2.0), ("b", 45.0, 3.0)],
                                 "k string, ts double, v double")
    out = asof_join(obs, fact, ["k"], ["k"], "ts", "ts", ["v"],
                    delay=5.0, tolerance=50.0, strategy=strategy)
    rows = {r["obs_id"]: r for r in out.collect()}
    # obs1 effective ts = 95: row@100 invisible, row@90 within tolerance
    assert rows[1]["v"] == 1.0
    # obs2 effective ts = 495: latest row@100 is outside tolerance 50
    assert rows[2]["v"] is None
    # the tolerance is exclusive on the left: a row exactly at
    # obs - delay - tolerance (100 - 5 - 50 = 45) is not matched, one
    # second inside it is
    assert rows[3]["v"] is None
    assert rows[4]["v"] == 3.0


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_duckdb_oracle(spark, strategy):
    """Cross-check against DuckDB's native ASOF JOIN on the corpus."""
    fact, obs = corpus(spark, sf=0.0005)
    out = asof_join(obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts",
                    ["n_tok as asof_n_tok", "source as asof_source"],
                    strategy=strategy).orderBy("obs_id").toPandas()

    fpd = fact.select("doc_id", "event_ts", "n_tok", "source").toPandas()
    opd = obs.toPandas()
    con = duckdb.connect()
    con.register("f", fpd)
    con.register("o", opd)
    oracle = con.execute("""
        SELECT o.obs_id, f.n_tok AS asof_n_tok, f.source AS asof_source
        FROM o ASOF LEFT JOIN f
          ON o.doc_id = f.doc_id AND f.event_ts <= o.ts
        ORDER BY o.obs_id
    """).df()
    got = out.sort_values("obs_id").reset_index(drop=True)
    assert len(got) == len(oracle)
    a = got["asof_n_tok"].astype("float").fillna(-1).to_numpy()
    b = oracle["asof_n_tok"].astype("float").fillna(-1).to_numpy()
    assert np.array_equal(a, b)
    assert (got["asof_source"].fillna("∅").to_numpy()
            == oracle["asof_source"].fillna("∅").to_numpy()).all()


def test_asof_prune_union_exact_parity(spark):
    """prune (two-phase slim-match + pruned payload fetch) must equal the
    union strategy bit-for-bit — including on exact-timestamp duplicate
    fact rows, where both pick the max-payload-hash row."""
    fact, obs = corpus(spark, sf=0.002)
    # inject exact-ts ties with differing payloads on a hot key, and a
    # NaN payload tied with a number (NaN reads null on both strategies)
    dup = fact.limit(40).selectExpr(
        "doc_id", "event_ts", "tokens", "n_tok + 7 as n_tok", "'tie' as source")
    fact = fact.unionByName(dup.select(*fact.columns))
    fact = fact.withColumn("x", F.when(F.col("source") == "tie", F.lit(float("nan")))
                           .otherwise(F.col("n_tok").cast("double")))
    kw = dict(obs_ts_format="epoch", fact_ts_format="epoch")
    args = (obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts",
            ["n_tok as a_n_tok", "source as a_src", "x as a_x"])
    base = asof_join(*args, strategy="union", **kw)
    pruned = asof_join(*args, strategy="prune", **kw)
    assert base.exceptAll(pruned).count() == 0
    assert pruned.exceptAll(base).count() == 0
    tie = base.where(F.col("a_src") == "tie")
    assert tie.count() > 0 and tie.where(F.col("a_x").isNotNull()).count() == 0


def test_asof_unknown_strategy_raises(spark):
    """Only ``union`` and ``prune`` remain; the former as-of cogroup
    kernel is gone and its name is rejected."""
    obs = spark.createDataFrame([(1, "a", 100.0)], "obs_id long, k string, ts double")
    fact = spark.createDataFrame([("a", 50.0, 1.0)], "k string, ts double, v double")
    with pytest.raises(ValueError, match="unknown strategy"):
        asof_join(obs, fact, ["k"], ["k"], "ts", "ts", ["v"], strategy="cogroup")


def test_asof_prune_plan_is_pinned_shuffle_fetch(spark, sf_dir):
    """prune = SWA LATEST(ts) match + asof_fetch(broadcast_threshold=None):
    two SHUFFLE_HASH joins (semi prune, join-back), no broadcast, and no
    job runs before the caller's action (no pair-count job, slim is
    persisted lazily)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.where("event_type = 'purchase'")
    obs = ev.select("event_id", "user_id", "ts")
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("asof_prune_plan", "asof_prune_plan")
    try:
        out = asof_join(obs, purchases, ["user_id"], ["user_id"], "ts", "ts",
                        ["value as v", "event_type as kind"],
                        obs_ts_format="timestamp", fact_ts_format="timestamp",
                        strategy="prune")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert tracker.getJobIdsForGroup("asof_prune_plan") == []
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert plan.count("ShuffledHashJoin") == 2
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert out.count() == obs.count()


def test_asof_salted_union_parity(spark):
    """Salted as-of is the fused SWA path: an unbounded ``LATEST`` of the
    fact ts on the cogroup kernel with hot keys salted, then
    :func:`asof_fetch`. It must equal the plain union strategy."""
    from feathr_spark import SWAFeature, WindowSpec, asof_fetch, join_window_agg_features

    fact, obs = corpus(spark, sf=0.0005)
    kw = dict(obs_ts_format="epoch", fact_ts_format="epoch")
    base = asof_join(obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts",
                     ["n_tok as a_n_tok"], strategy="union", **kw) \
        .orderBy("obs_id").toPandas()
    vec = join_window_agg_features(
        obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts",
        [SWAFeature("m_ts", "LATEST", "event_ts", WindowSpec(math.inf))],
        strategy="cogroup", hot_key_threshold=15, salt_buckets=4, **kw)
    salted = asof_fetch(vec, fact, ["doc_id"], ["doc_id"], "m_ts", "event_ts",
                        ["n_tok as a_n_tok"]).orderBy("obs_id").toPandas()
    a = base["a_n_tok"].astype("float").fillna(-1).to_numpy()
    b = salted["a_n_tok"].astype("float").fillna(-1).to_numpy()
    assert np.array_equal(a, b)


def test_asof_fetch_fused_matches_tolerance_join(spark):
    """LATEST(fact_ts) SWA feature + asof_fetch == asof_join(tolerance=w):
    the fused path (match computed inside the SWA cogroup kernel, payload
    fetched by hash join) must reproduce the standalone as-of join."""
    from feathr_spark import SWAFeature, WindowSpec, asof_fetch, join_window_agg_features

    fact, obs = corpus(spark, sf=0.0005)
    w = 7 * 86400 + 11  # odd width: no fact sits exactly on the left boundary
    kw = dict(obs_ts_format="epoch", fact_ts_format="epoch")
    vec = join_window_agg_features(
        obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts",
        [SWAFeature("tok_sum", "SUM", "n_tok", WindowSpec(86400)),
         SWAFeature("m_ts", "LATEST", "event_ts", WindowSpec(w))],
        strategy="cogroup", **kw)
    fused = asof_fetch(vec, fact, ["doc_id"], ["doc_id"], "m_ts", "event_ts",
                       ["n_tok as a_n_tok", "source as a_src"]) \
        .orderBy("obs_id").toPandas()
    base = asof_join(obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts",
                     ["n_tok as a_n_tok", "source as a_src"],
                     tolerance=float(w), strategy="union", **kw) \
        .orderBy("obs_id").toPandas()
    assert len(fused) == len(base) == obs.count()
    a = base["a_n_tok"].astype("float").fillna(-1).to_numpy()
    b = fused["a_n_tok"].astype("float").fillna(-1).to_numpy()
    assert np.array_equal(a, b)
    assert (base["a_src"].fillna("∅").to_numpy()
            == fused["a_src"].fillna("∅").to_numpy()).all()
    # unmatched rows must survive with null payloads
    assert fused["a_n_tok"].isna().sum() == base["a_n_tok"].isna().sum()


def test_asof_fetch_tie_collapse(spark):
    """Exact-duplicate (key, ts) fact rows collapse to ONE deterministic
    payload row — no row explosion in the fetch join."""
    from feathr_spark import asof_fetch

    fact = spark.createDataFrame(
        [("k1", 100, "a"), ("k1", 100, "b"), ("k1", 50, "c")],
        "k string, ts long, v string")
    obs = spark.createDataFrame(
        [(1, "k1", 100), (2, "k1", 100), (3, "k2", None)],
        "obs_id long, k string, m_ts long")
    out = asof_fetch(obs, fact, ["k"], ["k"], "m_ts", "ts", ["v as got"]) \
        .orderBy("obs_id").toPandas()
    assert len(out) == 3
    assert out["got"].iloc[0] == out["got"].iloc[1]  # same deterministic winner
    assert out["got"].iloc[0] in ("a", "b")
    assert out["got"].isna().iloc[2]


def test_asof_fetch_regimes_identical(spark, sf_dir):
    """Broadcast-pairs and shuffle-hash fetch plans return identical
    rows; broadcast_threshold=None pins the shuffle plan without the
    pair-count job."""
    from feathr_spark import SWAFeature, WindowSpec, asof_fetch, join_window_agg_features

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    obs = ev.select("event_id", "user_id", "ts")
    feats = [SWAFeature("last_ts", "LATEST", "ts", WindowSpec(7 * 86400))]
    vec = join_window_agg_features(
        obs, ev, ["user_id"], ["user_id"], "ts", "ts", feats,
        obs_ts_format="timestamp", fact_ts_format="timestamp").persist()
    vec.count()
    args = (vec, ev, ["user_id"], ["user_id"], "last_ts", "ts",
            ["value as last_value"])
    a = asof_fetch(*args)                            # broadcast regime
    b = asof_fetch(*args, broadcast_threshold=None)  # pinned shuffle
    ka = sorted((r["event_id"], r["last_value"]) for r in a.collect())
    kb = sorted((r["event_id"], r["last_value"]) for r in b.collect())
    assert ka == kb and len(ka) > 0
    # broadcast plan: the wide obs side must not exchange for the join
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    vec.unpersist()


def test_asof_fetch_string_width_keeps_text_payload_off_broadcast(spark):
    """Strings are estimated at KB scale, not 48 B: a document-text
    payload under the row thresholds but over ``broadcast_max_bytes`` at
    KB-per-string must take the shuffle fetch — no broadcast of either
    the string-keyed pairs or the matched payloads. A 48 B estimate
    (n * 104 B for key + ts + text) would grant both broadcasts here."""
    from feathr_spark import asof_fetch

    n = 200
    fact = spark.createDataFrame(
        [(f"doc{i}", 100 + i, "x" * 4096) for i in range(n)],
        "k string, ts long, text string")
    obs = spark.createDataFrame(
        [(i, f"doc{i}", 100 + i) for i in range(n)],
        "obs_id long, k string, m_ts long")
    out = asof_fetch(obs, fact, ["k"], ["k"], "m_ts", "ts", ["text as got"],
                     broadcast_max_bytes=n * 500)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert plan.count("ShuffledHashJoin") == 2
    got = out.orderBy("obs_id").collect()
    assert len(got) == n and all(r["got"] == "x" * 4096 for r in got)


def test_asof_fetch_byte_cap_overrides_row_threshold(spark, sf_dir):
    """ADVICE r4: the broadcast regimes are capped by estimated BYTES,
    not just rows — an array-typed payload (2 KB/row estimate) under
    the row threshold but over broadcast_max_bytes must fall back to
    the shuffle join-back, while a tight byte budget kills even the
    pairs broadcast. Results are identical either way."""
    from pyspark.sql import functions as F

    from feathr_spark import SWAFeature, WindowSpec, asof_fetch, join_window_agg_features

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "arr", F.array(F.col("value"), F.col("value") + 1))
    obs = ev.select("event_id", "user_id", "ts")
    feats = [SWAFeature("last_ts", "LATEST", "ts", WindowSpec(7 * 86400))]
    vec = join_window_agg_features(
        obs, ev, ["user_id"], ["user_id"], "ts", "ts", feats,
        obs_ts_format="timestamp", fact_ts_format="timestamp").persist()
    n = vec.where(F.col("last_ts").isNotNull()).count()
    args = (vec, ev, ["user_id"], ["user_id"], "last_ts", "ts",
            ["arr as last_arr"])
    # n rows x ~2 KB payload estimate: a byte cap below n*2048 must
    # disable the payload broadcast even though n << the row threshold
    tight = asof_fetch(*args, broadcast_max_bytes=max(1024, n))
    roomy = asof_fetch(*args)
    plan_tight = tight._jdf.queryExecution().executedPlan().toString()
    plan_roomy = roomy._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_roomy
    # the tight cap is below even the pairs estimate -> zero broadcasts
    assert "BroadcastHashJoin" not in plan_tight
    ka = sorted((r["event_id"], tuple(r["last_arr"] or ()))
                for r in tight.collect())
    kb = sorted((r["event_id"], tuple(r["last_arr"] or ()))
                for r in roomy.collect())
    assert ka == kb and len(ka) > 0
    vec.unpersist()


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_map_value(spark, strategy):
    """A MAP value joins on both strategies; rows tied at one ts go to
    one winner whatever their order (maps hash as their JSON text)."""
    obs = spark.createDataFrame([(1, "a", 100), (2, "b", 100)],
                                "obs_id long, k string, ts long")
    tied = [("a", 50, 1), ("a", 50, 2), ("a", 30, 3)]
    got = set()
    for order in (tied, tied[::-1]):
        fact = spark.createDataFrame(order, "k string, ts long, v int").coalesce(1)
        out = asof_join(obs, fact, ["k"], ["k"], "ts", "ts",
                        ["map('v', v) as mp", "v"], strategy=strategy)
        rows = {r["obs_id"]: r for r in out.collect()}
        assert rows[2]["mp"] is None
        assert rows[1]["mp"] == {"v": rows[1]["v"]} and rows[1]["v"] in (1, 2)
        got.add(rows[1]["v"])
    assert len(got) == 1
