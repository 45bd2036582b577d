"""Planner (multi-anchor join_features) + source/sink layer tests."""

from __future__ import annotations

import math
import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from feathr_spark.definitions import (
    Anchor,
    DerivedFeature,
    Feature,
    LookupFeature,
    ObservationSettings,
    Source,
    SWAFeature,
    WindowSpec,
)
from feathr_spark.plans import FeatureGroups, join_features
from feathr_spark.sources import read_batch, read_time_partitioned, write_partitioned

T0 = 1_700_000_000


@pytest.fixture(scope="module")
def frames(spark):
    obs = spark.createDataFrame(
        [(1, "u1", T0 + 7200, 10.0), (2, "u2", T0 + 7200, 20.0),
         (3, "u3", T0 + 7200, 30.0)],
        "obs_id long, uid string, ts long, raw double")
    events = spark.createDataFrame(
        [("u1", T0 + 100, 5.0), ("u1", T0 + 200, 7.0), ("u2", T0 + 300, 11.0),
         ("u1", T0 + 9999, 99.0)],  # future row: must never leak
        "uid string, ts long, v double")
    profile = spark.createDataFrame(
        [("u1", "US", 3), ("u2", "DE", 5)],
        "uid string, country string, tier int")
    countries = spark.createDataFrame(
        [("US", 330.0), ("DE", 83.0)], "code string, population double")
    return obs, events, profile, countries


def test_join_features_end_to_end(spark, frames):
    obs, events, profile, countries = frames
    anchors = [
        Anchor("ev", Source("mem://events", timestamp_col="ts"), ["uid"], [
            SWAFeature("v_sum_1d", "SUM", "v", WindowSpec(86400)),
            SWAFeature("v_cnt_1d", "COUNT", "v", WindowSpec(86400)),
        ]),
        Anchor("prof", Source("mem://profile"), ["uid"], [
            Feature("country", "country"),
            Feature("tier", "tier", default=0),
        ]),
        Anchor("geo", Source("mem://countries"), ["code"], [
            Feature("population", "population"),
        ]),
        Anchor("pt", Source("passthrough"), [], [
            Feature("raw_x2", "raw * 2"),
        ]),
    ]
    lookups = [LookupFeature("country_pop", "country", "geo", "population",
                             aggregation="FIRST")]
    derived = [DerivedFeature("v_avg_alt", "v_sum_1d / v_cnt_1d",
                              inputs=("v_sum_1d", "v_cnt_1d"))]
    out = join_features(
        spark, obs, ObservationSettings(["uid"], "ts"),
        anchors, derived=derived, lookups=lookups,
        requested=["v_sum_1d", "v_cnt_1d", "country", "tier", "raw_x2",
                   "country_pop", "v_avg_alt"],
        source_cache={"mem://events": events, "mem://profile": profile,
                      "mem://countries": countries},
    )
    rows = {r["obs_id"]: r for r in out.collect()}
    r1, r2, r3 = rows[1], rows[2], rows[3]
    assert math.isclose(r1["v_sum_1d"], 12.0)       # 5 + 7; future 99 excluded
    assert r1["v_cnt_1d"] == 2
    assert math.isclose(r1["v_avg_alt"], 6.0)
    assert r1["country"] == "US" and r1["tier"] == 3
    assert math.isclose(r1["country_pop"], 330.0)
    assert math.isclose(r2["v_sum_1d"], 11.0)
    assert r2["country"] == "DE"
    assert r3["v_sum_1d"] is None                    # no events for u3
    assert r3["country"] is None and r3["tier"] == 0  # default applied
    assert r3["country_pop"] is None
    assert math.isclose(r3["raw_x2"], 60.0)



def test_lookup_without_its_expansion_anchor_or_feature_raises(spark, frames):
    """An anchor list without the lookup's expansion anchor, or with one
    that lacks the expansion feature, is a ValueError naming both."""
    from dataclasses import replace

    obs, _, profile, countries = frames
    prof = Anchor("prof", Source("mem://profile"), ["uid"],
                  [Feature("country", "country")])
    geo = Anchor("geo", Source("mem://countries"), ["code"],
                 [Feature("population", "population")])
    lk = LookupFeature("country_pop", "country", "geo", "population",
                       aggregation="FIRST")
    cache = {"mem://profile": profile, "mem://countries": countries}
    settings = ObservationSettings(["uid"], "ts")
    with pytest.raises(ValueError, match="'country_pop'.*'geo'.*'population'"):
        join_features(spark, obs, settings, [prof], lookups=[lk],
                      source_cache=cache)
    geo_other = replace(geo, features=[Feature("pop2", "population")])
    with pytest.raises(ValueError, match="'country_pop'.*'geo'.*'population'"):
        join_features(spark, obs, settings, [prof, geo_other], lookups=[lk],
                      source_cache=cache)


def test_resolve_requests_binds_keys_delays_and_names():
    """Clone names, obs_keys, override delays and ride-along expansion
    anchors of one resolved request list."""
    from feathr_spark.config import FeatureRequest as Req
    from feathr_spark.plans.planner import resolve_requests

    src = Source("mem://events", timestamp_col="ts")
    ev = Anchor("ev", src, ["uid"], [
        SWAFeature("v_sum", "SUM", "v", WindowSpec(3600)),
        SWAFeature("v_cnt", "COUNT", "v", WindowSpec(3600))])
    prof = Anchor("prof", Source("mem://profile"), ["uid"],
                  [Feature("country", "country")])
    geo = Anchor("geo", Source("mem://countries"), ["code"],
                 [Feature("population", "population")])
    rate = DerivedFeature("rate", "v_sum / v_cnt", inputs=("v_sum", "v_cnt"))
    lk = LookupFeature("country_pop", "country", "geo", "population")
    anchors, derived, lookups, columns = resolve_requests(
        [ev, prof, geo], [rate], [lk],
        [Req(keys=["alt"], features=["v_cnt"], override_time_delay=60.0),
         Req(keys=None, features=["rate", "country_pop"], override_time_delay=None)])
    assert columns == ["v_cnt__alt", "rate", "country_pop"]
    assert [(a.name, a.obs_keys, [f.name for f in a.features]) for a in anchors] == [
        ("ev", None, ["v_sum", "v_cnt"]),
        ("ev__alt", ["alt"], ["v_cnt__alt"]),
        ("prof", None, ["country"]),
        ("geo", None, ["population"])]
    assert anchors[1].features[0].window == WindowSpec(3600, 60.0)
    assert anchors[0].features[1].window == WindowSpec(3600)
    assert derived == [rate] and lookups == [lk]
    with pytest.raises(KeyError, match="unknown feature 'nope'"):
        resolve_requests([ev], [], [], [Req(keys=None, features=["nope"],
                                            override_time_delay=None)])

def test_feature_groups_classification(frames):
    anchors = [
        Anchor("a", Source("p", timestamp_col="ts"), ["k"],
               [SWAFeature("s", "SUM", "v", WindowSpec(60))]),
        Anchor("b", Source("p2"), ["k"], [Feature("f", "x")]),
        Anchor("c", Source("passthrough"), [], [Feature("g", "y")]),
    ]
    g = FeatureGroups.classify(anchors)
    assert len(g.window_agg) == 1 and len(g.snapshot) == 1 and len(g.passthrough) == 1
    assert sorted(g.all_feature_names()) == ["f", "g", "s"]


def test_swa_source_scanned_once(spark, frames):
    """Two anchors on the same (source, keys) fuse into one engine call."""
    obs, events, _, _ = frames
    src = Source("mem://events", timestamp_col="ts")
    anchors = [
        Anchor("a1", src, ["uid"], [SWAFeature("s1", "SUM", "v", WindowSpec(86400))]),
        Anchor("a2", src, ["uid"], [SWAFeature("s2", "MAX", "v", WindowSpec(3600 * 48))]),
    ]
    out = join_features(spark, obs, ObservationSettings(["uid"], "ts"), anchors,
                        source_cache={"mem://events": events})
    # one SWA stage -> exactly one FlatMapCoGroupsInPandas/Window chain;
    # cheap proxy: both features present and correct
    r1 = {r["obs_id"]: r for r in out.collect()}[1]
    assert math.isclose(r1["s1"], 12.0) and math.isclose(r1["s2"], 7.0)


def test_read_batch_csv_tsv_retry(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = read_batch(spark, str(p))
    assert df.count() == 2 and set(df.columns) == {"a", "b"}
    tsv = tmp_path / "t.tsv"
    tsv.write_text("a\tb\n1\tx\n")
    assert read_batch(spark, str(tsv)).collect()[0]["b"] == "x"
    with pytest.raises(Exception):
        read_batch(spark, str(tmp_path / "missing.parquet"), retries=2, retry_wait_s=0.01)


def test_time_partitioned_scan(spark, tmp_path):
    base = str(tmp_path / "ts")
    df1 = spark.range(3).withColumnRenamed("id", "x")
    from pyspark.sql import functions as F
    df2 = spark.range(2).withColumnRenamed("id", "x").withColumn("extra", F.col("x") * 2)
    day1, day2 = 1_700_000_000, 1_700_000_000 + 86400
    write_partitioned(df1, base, day1)
    write_partitioned(df2, base, day2)
    # the writer uses daily/yyyy/MM/dd; the scanner consumes that layout
    out = read_time_partitioned(spark, os.path.join(base, "daily"),
                                day1, day2 + 1, timestamp_col="pt")
    assert out.count() == 5
    assert set(out.columns) == {"x", "extra", "pt"}
    pts = {r["pt"] for r in out.select("pt").distinct().collect()}
    assert len(pts) == 2  # partition time synthesized per day
    # schema drift reconciled: day1 rows carry null extra
    assert out.where("extra is null").count() == 3


def test_per_anchor_obs_key_aliasing(spark):
    """Features keyed by DIFFERENT observation columns (the reference's
    key-tag aliasing): one anchor joins on sender, another on receiver."""
    from feathr_spark.definitions import (Anchor, Feature, ObservationSettings,
                                          Source)
    from feathr_spark.plans.planner import join_features

    obs = spark.createDataFrame(
        [(1, "u1", "u2"), (2, "u2", "u3"), (3, "u3", "u9")],
        "txn_id long, sender string, receiver string")
    profiles = spark.createDataFrame(
        [("u1", 10.0), ("u2", 20.0), ("u3", 30.0)], "uid string, score double")
    src = Source(path="profiles")
    anchors = [
        Anchor("snd", src, keys=["uid"], features=[Feature("sender_score", "score")],
               obs_keys=["sender"]),
        Anchor("rcv", src, keys=["uid"], features=[Feature("receiver_score", "score")],
               obs_keys=["receiver"]),
    ]
    out = join_features(
        spark, obs, ObservationSettings(keys=["sender"], timestamp_col="txn_id"),
        anchors, source_cache={"profiles": profiles},
    ).orderBy("txn_id").collect()
    assert [r["sender_score"] for r in out] == [10.0, 20.0, 30.0]
    assert [r["receiver_score"] for r in out] == [20.0, 30.0, None]


def test_simulate_time_delay_wired(spark):
    """settings.simulate_time_delay shifts every window back: with a 100s
    sim delay, a fact row 50s before the observation falls OUT of the
    window while one 150s before stays in."""
    from pyspark.sql import functions as F

    obs = spark.createDataFrame([(1, "u1", T0 + 1000)], "oid long, k string, ts long")
    fact = spark.createDataFrame(
        [("u1", T0 + 950, 5.0),    # 50s before obs: excluded under sim=100
         ("u1", T0 + 850, 3.0)],   # 150s before obs: included
        "k string, ts long, v double")
    src = Source(path="mem", timestamp_col="ts")
    anchor = Anchor("a", src, keys=["k"],
                    features=[SWAFeature("s", "SUM", "v", WindowSpec(3600))])
    out_plain = join_features(
        spark, obs, ObservationSettings(keys=["k"], timestamp_col="ts"),
        [anchor], source_cache={"mem": fact})
    out_sim = join_features(
        spark, obs,
        ObservationSettings(keys=["k"], timestamp_col="ts", simulate_time_delay=100),
        [anchor], source_cache={"mem": fact})
    assert out_plain.first()["s"] == 8.0
    assert out_sim.first()["s"] == 3.0


def test_per_feature_lateral_view(spark):
    """Two SWA features with DIFFERENT explodes share one anchor/source;
    each must aggregate over its own exploded view
    (SlidingWindowDataDef.scala:83-86)."""
    obs = spark.createDataFrame([(1, "u1", T0 + 100)], "oid long, k string, ts long")
    fact = spark.createDataFrame(
        [("u1", T0 + 50, [1.0, 2.0], [10.0])],
        "k string, ts long, xs array<double>, ys array<double>")
    src = Source(path="mem", timestamp_col="ts")
    anchor = Anchor("a", src, keys=["k"], features=[
        SWAFeature("x_sum", "SUM", "x", WindowSpec(3600),
                   lateral_view="explode(xs)", lateral_view_alias="x"),
        SWAFeature("y_sum", "SUM", "y", WindowSpec(3600),
                   lateral_view="explode(ys)", lateral_view_alias="y"),
    ])
    out = join_features(
        spark, obs, ObservationSettings(keys=["k"], timestamp_col="ts"),
        [anchor], source_cache={"mem": fact}).first()
    assert out["x_sum"] == 3.0 and out["y_sum"] == 10.0


_LK_OBS = [(1, None), (2, "none"), (3, "a"), (4, "a"), (5, "n"), (6, "z")]
# key a: two rows; n: a null-valued row beside a valued one; z: only a
# null-valued row; a null expansion key never matches
_LK_EXP = [("a", 1.0), ("a", 3.0), ("n", None), ("n", 4.0), ("z", None), (None, 5.0)]
# key a's arrays each hold one elementwise maximum
_LK_EXP_ARRAYS = [("a", [1.0, 9.0]), ("a", [4.0, 2.0]), ("n", None), ("n", [4.0, 4.0]),
                  ("z", None), (None, [5.0, 5.0])]
_LK_WANT = {  # uid -> value; a set lists the values an arbitrary pick may give
    "SUM": {3: 4.0, 4: 4.0, 5: 4.0},
    "AVG": {3: 2.0, 4: 2.0, 5: 4.0},
    "MAX": {3: 3.0, 4: 3.0, 5: 4.0},
    "MIN": {3: 1.0, 4: 1.0, 5: 4.0},
    "COUNT": {2: 0, 3: 2, 4: 2, 5: 1, 6: 0},
    "UNION": {2: [], 3: [1.0, 3.0], 4: [1.0, 3.0], 5: [4.0], 6: []},
    "FIRST": {3: {1.0, 3.0}, 4: {1.0, 3.0}, 5: 4.0},
    "LATEST": {3: {1.0, 3.0}, 4: {1.0, 3.0}, 5: 4.0},
    "ELEMENTWISE_SUM": {3: [5.0, 11.0], 4: [5.0, 11.0], 5: [4.0, 4.0]},
    "ELEMENTWISE_AVG": {3: [2.5, 5.5], 4: [2.5, 5.5], 5: [4.0, 4.0]},
    "ELEMENTWISE_MAX": {3: [4.0, 9.0], 4: [4.0, 9.0], 5: [4.0, 4.0]},
    "ELEMENTWISE_MIN": {3: [1.0, 2.0], 4: [1.0, 2.0], 5: [4.0, 4.0]},
}


@pytest.mark.parametrize("base", ["scalar", "array"])
@pytest.mark.parametrize("agg", sorted(_LK_WANT))
def test_lookup_aggregation_semantics(spark, agg, base):
    """Every lookup aggregation on a null base (null), a base with no
    expansion row (0 for COUNT, [] for UNION, null otherwise), a base
    matching two rows, and null expansion values (skipped). An array base
    wraps each key in a one-element array and must give the same values."""
    from feathr_spark.operators.lookup import LOOKUP_AGGS, lookup_join

    assert set(_LK_WANT) == LOOKUP_AGGS
    if agg.startswith("ELEMENTWISE_"):
        exp = spark.createDataFrame(_LK_EXP_ARRAYS, "ek string, v array<double>")
    else:
        exp = spark.createDataFrame(_LK_EXP, "ek string, v double")
    obs = spark.createDataFrame(_LK_OBS, "uid long, bk string")
    if base == "array":
        from pyspark.sql import functions as F

        obs = obs.withColumn("bk", F.when(F.col("bk").isNotNull(), F.array("bk")))
    out = lookup_join(obs, base_key="bk", expansion=exp,
                      expansion_key="ek", expansion_value="v", out_name="out",
                      aggregation=agg, explode_base=base == "array")
    got = {r["uid"]: r["out"] for r in out.collect()}
    assert sorted(got) == [uid for uid, _ in _LK_OBS]
    for uid, _ in _LK_OBS:
        want = _LK_WANT[agg].get(uid)
        if agg == "UNION" and got[uid] is not None:
            got[uid] = sorted(got[uid])
        if isinstance(want, set):
            assert got[uid] in want, (uid, got[uid])
        else:
            assert got[uid] == want, (uid, got[uid])


def test_kafka_options_plumbing(spark):
    from feathr_spark.streaming.kafka import KafkaConfig, kafka_options

    cfg = KafkaConfig(brokers=["b1:9092", "b2:9092"], topics=["t1", "t2"],
                      starting_offsets="earliest", max_offsets_per_trigger=5000,
                      options={"kafka.security.protocol": "SSL"})
    opts = kafka_options(cfg)
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "t1,t2"
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "false"
    assert opts["maxOffsetsPerTrigger"] == "5000"
    assert opts["kafka.security.protocol"] == "SSL"


def test_use_latest_feature_data(spark):
    """useLatestFeatureData: windows anchor to "now" (pinned via
    now_epoch), ignoring the observation timestamp column entirely
    (SlidingWindowAggregationJoiner.scala:225-229)."""
    obs = spark.createDataFrame([(1, "u1", 12345)], "oid long, k string, ts long")
    fact = spark.createDataFrame(
        [("u1", T0 - 50, 2.0),     # 50s before "now": in the 100s window
         ("u1", T0 - 200, 9.0)],   # 200s before: out
        "k string, ts long, v double")
    src = Source(path="mem", timestamp_col="ts")
    anchor = Anchor("a", src, keys=["k"],
                    features=[SWAFeature("s", "SUM", "v", WindowSpec(100))])
    out = join_features(
        spark, obs,
        ObservationSettings(keys=["k"], timestamp_col="ts",
                            use_latest_feature_data=True, now_epoch=T0),
        [anchor], source_cache={"mem": fact})
    row = out.first()
    assert row["s"] == 2.0
    assert "__now_ts" not in out.columns


def test_checkpoint_every_truncates_lineage(spark, tmp_path):
    """Per-stage reliable checkpoint: values unchanged; the final plan no
    longer contains the first stage's scan lineage (FeathrClient.scala:
    182-192 analogue)."""
    obs = spark.createDataFrame([(1, "u1", T0 + 100)], "oid long, k string, ts long")
    fact = spark.createDataFrame([("u1", T0 + 50, 5.0)], "k string, ts long, v double")
    src = Source(path="mem", timestamp_col="ts")
    anchors = [
        Anchor("a1", src, keys=["k"],
               features=[SWAFeature("s1", "SUM", "v", WindowSpec(3600))]),
        Anchor("a2", src, keys=["k"],
               features=[SWAFeature("s2", "COUNT", "v", WindowSpec(3600))]),
    ]
    settings = ObservationSettings(keys=["k"], timestamp_col="ts")
    plain = join_features(spark, obs, settings, anchors, source_cache={"mem": fact})
    ckpt = join_features(spark, obs, settings, anchors, source_cache={"mem": fact},
                         checkpoint_every=1, checkpoint_dir=str(tmp_path / "ck"))
    p, c = plain.first(), ckpt.first()
    assert (p["s1"], p["s2"]) == (c["s1"], c["s2"]) == (5.0, 1)


def test_custom_anchor_extractor(spark):
    """AnchorExtractor protocol: transform() returns {name: Column};
    outputs are visible to both snapshot feature exprs and SWA metrics
    (SimpleConfigurableAnchorExtractor parity, Column-native)."""
    from pyspark.sql import functions as F

    from feathr_spark.definitions import AnchorExtractor

    class Doubler(AnchorExtractor):
        def transform(self, df):
            return {"v2": F.col("v") * 2}

    obs = spark.createDataFrame([(1, "u1", T0 + 100)], "oid long, k string, ts long")
    fact = spark.createDataFrame([("u1", T0 + 50, 5.0)], "k string, ts long, v double")
    src = Source(path="mem", timestamp_col="ts")
    anchors = [
        Anchor("swa", src, keys=["k"], extractor=Doubler(),
               features=[SWAFeature("s2", "SUM", "v2", WindowSpec(3600))]),
        Anchor("snap", Source(path="mem"), keys=["k"], extractor=Doubler(),
               features=[Feature("latest_v2", "v2")]),
    ]
    out = join_features(spark, obs, ObservationSettings(keys=["k"], timestamp_col="ts"),
                        anchors, source_cache={"mem": fact}).first()
    assert out["s2"] == 10.0 and out["latest_v2"] == 10.0


def test_planner_single_time_range_action(spark, frames, monkeypatch):
    """Multi-stage plans compute the observation time range ONCE in the
    planner and hand it to every SWA stage — no per-stage min/max action
    re-executing the upstream DAG (each stage's obs input embeds all
    prior stages' work)."""
    import feathr_spark.plans.planner as planner_mod

    obs, events, profile, _ = frames
    seen_ranges = []
    real = planner_mod.join_window_agg_features

    def spy(*args, **kwargs):
        seen_ranges.append(kwargs.get("obs_time_range"))
        return real(*args, **kwargs)

    monkeypatch.setattr(planner_mod, "join_window_agg_features", spy)
    anchors = [
        Anchor("ev", Source("mem://events", timestamp_col="ts"), ["uid"], [
            SWAFeature("v_sum_1d", "SUM", "v", WindowSpec(86400)),
        ]),
        Anchor("ev2", Source("mem://events2", timestamp_col="ts"), ["uid"], [
            SWAFeature("v_max_2d", "MAX", "v", WindowSpec(2 * 86400)),
        ]),
    ]
    out = join_features(
        spark, obs, ObservationSettings(["uid"], "ts"), anchors,
        source_cache={"mem://events": events, "mem://events2": events},
    ).collect()
    # two SWA stages, both fed the SAME precomputed range
    assert len(seen_ranges) == 2
    assert all(r is not None for r in seen_ranges)
    assert seen_ranges[0] == seen_ranges[1]
    lo, hi = seen_ranges[0]
    assert lo == (T0 + 7200) * 1_000_000 and hi == (T0 + 7200) * 1_000_000
    got = {(r["obs_id"]): (r["v_sum_1d"], r["v_max_2d"]) for r in out}
    assert got[1] == (12.0, 7.0) and got[2] == (11.0, 11.0)
    assert got[3] == (None, None)


def test_stage_grouping_keys_on_preprocessing_and_timestamp(spark):
    """Anchors over one path that differ in preprocessing or in the
    timestamp column read different facts, so they never share a stage."""
    fact = spark.createDataFrame([(1, 10, 100, 1.0), (1, 20, 0, 5.0)],
                                 "k long, ts long, ts2 long, v double")
    obs = spark.createDataFrame([(1, 30)], "k long, t long")
    win = WindowSpec(100)
    anchors = [
        Anchor("all", Source("mem://f", timestamp_col="ts"), ["k"],
               [SWAFeature("s_all", "SUM", "v", win)]),
        Anchor("big", Source("mem://f", timestamp_col="ts",
                             preprocessing=lambda df: df.where("v > 2")), ["k"],
               [SWAFeature("s_big", "SUM", "v", win)]),
        Anchor("ts2", Source("mem://f", timestamp_col="ts2"), ["k"],
               [SWAFeature("s_ts2", "SUM", "v", win)]),
    ]
    row = join_features(spark, obs, ObservationSettings(keys=["k"], timestamp_col="t"),
                        anchors, source_cache={"mem://f": fact}).first()
    assert (row["s_all"], row["s_big"], row["s_ts2"]) == (6.0, 5.0, 5.0)


@pytest.mark.parametrize("swa_agg", [None, "SUM", "COUNT_DISTINCT"])
def test_asof_anchor_rides_the_window_stage(spark, swa_agg):
    """A time-stamped snapshot anchor is evaluated in its source's window
    pass — alone, beside a union-routed SWA feature, or beside one that
    ``auto`` routes to cogroup — and equals ``asof_join``: ties at one ts
    go to the largest payload hash, nulls in the picked row stay, the
    simulated delay shifts the match, null keys never match. A NaN field
    reads null, the NaN rule every SWA strategy shares."""
    from feathr_spark.operators.asof import asof_join
    from feathr_spark.operators.swa import join_window_agg_features

    fact = spark.createDataFrame(
        [("x", 50, 1.0, "p"), ("x", 50, 2.0, None), ("x", 50, None, "o"),
         ("x", 80, None, "q"), ("x", 95, 7.0, "late"), ("y", 30, 3.0, "r"),
         ("y", 35, float("nan"), "s"),
         (None, 40, 9.0, "n"), ("y", None, 4.0, "t")],
        "k string, ts long, a double, b string")
    obs = spark.createDataFrame(
        [(1, "x", 100), (2, "x", 60), (3, "y", 100), (4, None, 100), (5, "z", 100),
         (6, "x", None), (7, "x", 55)],
        "obs_id long, k string, t long")
    src = Source("mem://f", timestamp_col="ts")
    swa = [SWAFeature("s", swa_agg, "b" if swa_agg == "COUNT_DISTINCT" else "a",
                      WindowSpec(100))] if swa_agg else []
    anchors = [Anchor("snap", src, ["k"], [Feature("fa", "a"), Feature("fb", "b", default="-")])]
    anchors += [Anchor("win", src, ["k"], swa)] if swa else []
    settings = ObservationSettings(keys=["k"], timestamp_col="t", simulate_time_delay=10)
    out = join_features(spark, obs, settings, anchors, source_cache={"mem://f": fact})
    want = asof_join(obs, fact, ["k"], ["k"], "t", "ts", ["a as fa", "b as fb"], delay=10)
    got = {r["obs_id"]: (r["fa"], r["fb"]) for r in out.collect()}
    assert got == {r["obs_id"]: (None if math.isnan(r["fa"] or 0) else r["fa"], r["fb"] or "-")
                   for r in want.collect()}
    assert got[1] == (None, "q") and got[3] == (None, "s") and got[4] == (None, "-")
    if swa:
        direct = join_window_agg_features(obs, fact, ["k"], ["k"], "t", "ts",
                                          [replace(swa[0], window=WindowSpec(100, 10))])
        assert {r["obs_id"]: r["s"] for r in out.collect()} == \
            {r["obs_id"]: r["s"] for r in direct.collect()}
    # the final adaptive plan, without the initial plan printed after it
    plan = out._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert "FlatMapCoGroupsInPandas" in plan if swa_agg == "COUNT_DISTINCT" else \
        plan.count("Window [") == 1


def test_asof_anchor_with_a_map_feature(spark):
    """A time-stamped snapshot anchor with a MAP feature joins in a
    union-routed window stage; rows tied at one ts go to one winner."""
    fact = spark.createDataFrame([("x", 50, 1), ("x", 50, 2), ("x", 30, 3)],
                                 "k string, ts long, v int")
    obs = spark.createDataFrame([(1, "x", 100), (2, "y", 100)], "obs_id long, k string, t long")
    src = Source("mem://f", timestamp_col="ts")
    anchors = [Anchor("snap", src, ["k"], [Feature("fm", "map('v', v)"), Feature("fv", "v")]),
               Anchor("win", src, ["k"], [SWAFeature("s", "SUM", "v", WindowSpec(100))])]
    got = set()
    for order in (fact, fact.orderBy(F.desc("v")).coalesce(1)):
        out = join_features(spark, obs, ObservationSettings(keys=["k"], timestamp_col="t"),
                            anchors, source_cache={"mem://f": order})
        rows = {r["obs_id"]: r for r in out.collect()}
        assert rows[2]["fm"] is None and rows[1]["s"] == 6.0
        assert rows[1]["fm"] == {"v": rows[1]["fv"]} and rows[1]["fv"] in (1, 2)
        got.add(rows[1]["fv"])
        assert "FlatMapCoGroupsInPandas" not in out._jdf.queryExecution().executedPlan().toString()
    assert len(got) == 1
