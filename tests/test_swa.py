"""SWA join: golden window-boundary tests (reference semantics:
SlidingWindowJoinIterator.scala:177-220), brute-force oracle
cross-check on the synthesized corpus, strategy equivalence, leakage.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feathr_spark import SWAFeature, WindowSpec
from feathr_spark.datagen import corpus
from feathr_spark.operators.swa import join_window_agg_features

STRATEGIES = ["union", "cogroup"]


@pytest.fixture(scope="module")
def toy(spark):
    obs = spark.createDataFrame(
        [
            (1, "a", 100.0, 0.5),
            (2, "a", 200.0, 0.6),
            (3, "b", 150.0, 0.7),
            (4, "c", 100.0, 0.8),  # key with no fact rows
            (5, None, 100.0, 0.9),  # null key
            (6, "a", 100.0, 1.0),  # duplicate (key, ts)
        ],
        "obs_id long, k string, ts double, label double",
    )
    fact = spark.createDataFrame(
        [
            ("a", 50.0, 1.0, "x"),
            ("a", 100.0, 2.0, "y"),  # exactly at obs ts (right-inclusive)
            ("a", 150.0, 3.0, "x"),
            ("a", 0.0, 7.0, "z"),  # exactly window before obs1 (left-exclusive)
            ("b", 149.0, 10.0, "x"),
            ("b", 150.0, None, "y"),  # null metric
        ],
        "k string, ts double, v double, cat string",
    )
    return obs, fact


FEATS = [
    SWAFeature("v_sum", "SUM", "v", WindowSpec(100)),
    SWAFeature("v_cnt", "COUNT", "v", WindowSpec(100)),
    SWAFeature("v_avg", "AVG", "v", WindowSpec(100)),
    SWAFeature("v_min", "MIN", "v", WindowSpec(100)),
    SWAFeature("v_max", "MAX", "v", WindowSpec(100)),
    SWAFeature("v_latest", "LATEST", "v", WindowSpec(100)),
    SWAFeature("v_timesince", "TIMESINCE", "v", WindowSpec(100)),
    SWAFeature("v_cd", "COUNT_DISTINCT", "cat", WindowSpec(100)),
    SWAFeature("v_sum_x", "SUM", "v", WindowSpec(100), filter="cat = 'x'"),
    SWAFeature("v_sum_delay", "SUM", "v", WindowSpec(100, delay=50)),
]

GOLDEN = {
    # obs 1: key a @100, window (0,100]: rows 50->1.0, 100->2.0 (0->7.0 excluded)
    1: dict(v_sum=3.0, v_cnt=2, v_avg=1.5, v_min=1.0, v_max=2.0, v_latest=2.0,
            v_timesince=0.0, v_cd=2, v_sum_x=1.0, v_sum_delay=1.0),
    # obs 2: key a @200, window (100,200]: 150->3.0 only
    2: dict(v_sum=3.0, v_cnt=1, v_avg=3.0, v_min=3.0, v_max=3.0, v_latest=3.0,
            v_timesince=50.0, v_cd=1, v_sum_x=3.0, v_sum_delay=3.0),
    # obs 3: key b @150, window (50,150]: 149->10.0, 150->null (the null
    # metric is no TIMESINCE event either)
    3: dict(v_sum=10.0, v_cnt=1, v_avg=10.0, v_min=10.0, v_max=10.0, v_latest=10.0,
            v_timesince=1.0, v_cd=2, v_sum_x=10.0, v_sum_delay=10.0),
    4: dict(v_sum=None, v_cnt=None, v_avg=None, v_min=None, v_max=None, v_latest=None,
            v_timesince=None, v_cd=None, v_sum_x=None, v_sum_delay=None),
    5: dict(v_sum=None, v_cnt=None, v_avg=None, v_min=None, v_max=None, v_latest=None,
            v_timesince=None, v_cd=None, v_sum_x=None, v_sum_delay=None),
    6: dict(v_sum=3.0, v_cnt=2, v_avg=1.5, v_min=1.0, v_max=2.0, v_latest=2.0,
            v_timesince=0.0, v_cd=2, v_sum_x=1.0, v_sum_delay=1.0),
}
# v_sum_delay for obs1 (@100, w=100 d=50): window (-50, 50]: rows 0->7.0, 50->1.0 => 8.0
GOLDEN[1]["v_sum_delay"] = 8.0
# obs2 (@200): window (50,150]: 100->2.0, 150->3.0 => 5.0
GOLDEN[2]["v_sum_delay"] = 5.0
# obs3 (b @150): window (0,100]: none => null
GOLDEN[3]["v_sum_delay"] = None
GOLDEN[6]["v_sum_delay"] = 8.0


def _check_golden(rows):
    for r in rows:
        exp = GOLDEN[r["obs_id"]]
        for name, want in exp.items():
            got = r[name]
            if want is None:
                assert got is None, f"obs {r['obs_id']} {name}: want null got {got}"
            else:
                assert got is not None and math.isclose(float(got), want, rel_tol=1e-9), \
                    f"obs {r['obs_id']} {name}: want {want} got {got}"


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_swa_golden(toy, strategy):
    obs, fact = toy
    out = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", FEATS,
                                   strategy=strategy)
    _check_golden(out.collect())


def test_strategies_agree_on_corpus(spark):
    fact, obs = corpus(spark, sf=0.0005)
    feats = [
        SWAFeature("tok_sum_1d", "SUM", "n_tok", WindowSpec(86400)),
        SWAFeature("ev_cnt_7d", "COUNT", "n_tok", WindowSpec(7 * 86400)),
        SWAFeature("tok_avg_7d", "AVG", "n_tok", WindowSpec(7 * 86400)),
        SWAFeature("tok_max_1d", "MAX", "n_tok", WindowSpec(86400)),
        SWAFeature("latest_src_7d", "LATEST", "source", WindowSpec(7 * 86400)),
        SWAFeature("ts_since", "TIMESINCE", "event_ts", WindowSpec(30 * 86400)),
        SWAFeature("src_cd_7d", "COUNT_DISTINCT", "source", WindowSpec(7 * 86400)),
        SWAFeature("web_cnt_7d", "COUNT", "n_tok", WindowSpec(7 * 86400), filter="source = 'web'"),
    ]
    kwargs = dict(obs_keys=["doc_id"], fact_keys=["doc_id"], obs_ts="ts",
                  fact_ts="event_ts", features=feats)
    a = join_window_agg_features(obs, fact, strategy="union", **kwargs) \
        .orderBy("obs_id").toPandas().set_index("obs_id")
    b = join_window_agg_features(obs, fact, strategy="cogroup", **kwargs) \
        .orderBy("obs_id").toPandas().set_index("obs_id")
    assert len(a) == len(b) == obs.count()
    for f in feats:
        av, bv = a[f.name], b[f.name]
        if av.dtype == object:
            assert (av.fillna("∅") == bv.fillna("∅")).all(), f.name
        else:
            assert np.allclose(av.astype(float).fillna(-1e18),
                               bv.astype(float).fillna(-1e18), rtol=1e-9), f.name


def test_bruteforce_oracle(spark):
    """Per-row pandas recompute — order-independent ground truth."""
    fact, obs = corpus(spark, sf=0.0005)
    w, d = 3 * 86400, 3600
    feats = [
        SWAFeature("s", "SUM", "n_tok", WindowSpec(w, d)),
        SWAFeature("c", "COUNT", "n_tok", WindowSpec(w, d)),
        SWAFeature("mn", "MIN", "n_tok", WindowSpec(w, d)),
        SWAFeature("mx", "MAX", "n_tok", WindowSpec(w, d)),
    ]
    got = join_window_agg_features(obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts",
                                   feats, strategy="cogroup") \
        .orderBy("obs_id").toPandas()
    fpd = fact.select("doc_id", "event_ts", "n_tok").toPandas()
    opd = obs.toPandas().sort_values("obs_id").reset_index(drop=True)
    by_key = dict(tuple(fpd.groupby("doc_id")))
    for _, r in opd.sample(n=min(300, len(opd)), random_state=0).iterrows():
        g = got[got.obs_id == r.obs_id].iloc[0]
        if r.doc_id is None or pd.isna(r.doc_id) or r.doc_id not in by_key:
            assert pd.isna(g.s) and pd.isna(g.c)
            continue
        kf = by_key[r.doc_id]
        in_w = kf[(kf.event_ts > r.ts - w - d) & (kf.event_ts <= r.ts - d)]
        if len(in_w) == 0:
            assert pd.isna(g.s), f"obs {r.obs_id}"
        else:
            assert math.isclose(g.s, in_w.n_tok.sum(), rel_tol=1e-9), f"obs {r.obs_id}"
            assert g.c == len(in_w)
            assert g.mn == in_w.n_tok.min() and g.mx == in_w.n_tok.max()


def test_no_temporal_leakage(spark):
    """Mutating every future fact row must not change any feature."""
    fact, obs = corpus(spark, sf=0.0003)
    feats = [SWAFeature("s", "SUM", "n_tok", WindowSpec(86400, delay=3600))]
    base = join_window_agg_features(obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts",
                                    feats).orderBy("obs_id").toPandas()
    # push every fact row's metric to an absurd value when it is in the
    # "future" of every obs for its doc: join-free approximation — shift
    # all fact timestamps forward past every window; features must go null
    from pyspark.sql import functions as F
    shifted = fact.withColumn("event_ts", F.col("event_ts") + F.lit(10**9))
    leaked = join_window_agg_features(obs, shifted, ["doc_id"], ["doc_id"], "ts",
                                      "event_ts", feats).orderBy("obs_id").toPandas()
    assert leaked["s"].isna().all()
    assert len(base) == len(leaked)


def test_latest_ties_at_one_ts_follow_the_asof_rule(spark):
    """Fact rows sharing (key, ts) give LATEST one value whatever their
    order: the largest xxhash64 of the value, the rule ``asof_join`` uses.
    SWA on both strategies and ``generate_features`` agree with it."""
    from feathr_spark.materialize import GenSpec, generate_features
    from feathr_spark.operators.asof import asof_join

    obs = spark.createDataFrame([(1, "a", 100)], "obs_id long, k string, ts long")
    tied = [("a", 50, 1.0), ("a", 50, 2.0), ("a", 50, None)]
    # two LATEST features over one metric share its projected column
    feats = [SWAFeature("v_latest", "LATEST", "v", WindowSpec(100)),
             SWAFeature("v_latest_2", "LATEST", "v", WindowSpec(200))]
    got = {}
    for order in (tied, tied[::-1]):
        # one partition keeps the listed order into the shuffle
        fact = spark.createDataFrame(order, "k string, ts long, v double").coalesce(1)
        got[("asof", tuple(order))] = asof_join(
            obs, fact.where(F.col("v").isNotNull()), ["k"], ["k"], "ts", "ts",
            ["v"]).first()["v"]
        for strategy in STRATEGIES:
            row = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats,
                                           strategy=strategy).first()
            got[(strategy, tuple(order))] = row["v_latest"]
            got[(strategy + "_2", tuple(order))] = row["v_latest_2"]
        spec = GenSpec(keys=["k"], key_names=["k"], ts_col="ts", features=feats)
        got[("generate", tuple(order))] = generate_features(fact, spec, 100).first()["v_latest"]
    assert len(set(got.values())) == 1, got
    assert None not in got.values()


def test_grouped_topk_and_pooling(spark, toy):
    obs, fact = toy
    feats = [
        SWAFeature("by_cat", "SUM", "v", WindowSpec(1000), group_by="cat", limit=2),
        SWAFeature("cat_cnt", "COUNT", "v", WindowSpec(1000), group_by="cat"),
    ]
    out = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats) \
        .orderBy("obs_id").collect()
    r2 = next(r for r in out if r["obs_id"] == 2)  # key a @200: all 4 rows in window
    pairs = {p["group"]: p["value"] for p in r2["by_cat"]}
    # sums: z=7 (t=0), x=1+3=4, y=2 -> top-2 = z,x
    assert pairs == {"z": 7.0, "x": 4.0}
    cnt = {p["group"]: p["value"] for p in r2["cat_cnt"]}
    assert cnt == {"x": 2.0, "y": 1.0, "z": 1.0}


def test_pooling(spark):
    obs = spark.createDataFrame([(1, "a", 100.0)], "obs_id long, k string, ts double")
    fact = spark.createDataFrame(
        [("a", 10.0, [1.0, 5.0]), ("a", 20.0, [3.0, 2.0]), ("a", 30.0, None)],
        "k string, ts double, vec array<double>",
    )
    feats = [
        SWAFeature("vmax", "MAX_POOLING", "vec", WindowSpec(100)),
        SWAFeature("vsum", "SUM_POOLING", "vec", WindowSpec(100)),
        SWAFeature("vavg", "AVG_POOLING", "vec", WindowSpec(100)),
    ]
    r = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats).first()
    assert r["vmax"] == [3.0, 5.0]
    assert r["vsum"] == [4.0, 7.0]
    assert r["vavg"] == [2.0, 3.5]


def test_salted_cogroup_matches_unsalted(spark):
    fact, obs = corpus(spark, sf=0.0005)
    feats = [
        SWAFeature("s", "SUM", "n_tok", WindowSpec(7 * 86400)),
        SWAFeature("m", "MAX", "n_tok", WindowSpec(7 * 86400)),
        SWAFeature("lt", "LATEST", "n_tok", WindowSpec(7 * 86400)),
    ]
    kwargs = dict(obs_keys=["doc_id"], fact_keys=["doc_id"], obs_ts="ts",
                  fact_ts="event_ts", features=feats, strategy="cogroup")
    plain = join_window_agg_features(obs, fact, **kwargs).orderBy("obs_id").toPandas()
    salted = join_window_agg_features(obs, fact, hot_key_threshold=50, salt_buckets=4,
                                      **kwargs).orderBy("obs_id").toPandas()
    for c in ("s", "m", "lt"):
        assert np.allclose(plain[c].astype(float).fillna(-1),
                           salted[c].astype(float).fillna(-1), rtol=1e-9), c


def test_time_slice_salt_matches_replicate(spark):
    """Time-sliced salting (hot key chunked by window width, <=2 fact
    copies), which a bounded battery picks, must give what full
    replication gives: the unsalted run — including per-feature delays,
    which widen the visibility span. Replication itself is checked by
    the unbounded leg of test_salted_swa_matches_brute_force."""
    fact, obs = corpus(spark, sf=0.0005)
    feats = [
        SWAFeature("s1", "SUM", "n_tok", WindowSpec(86400)),
        SWAFeature("s7", "SUM", "n_tok", WindowSpec(7 * 86400)),
        SWAFeature("cd", "COUNT_DISTINCT", "source", WindowSpec(7 * 86400)),
        SWAFeature("dl", "SUM", "n_tok", WindowSpec(2 * 86400, delay=86400)),
    ]
    kwargs = dict(obs_keys=["doc_id"], fact_keys=["doc_id"], obs_ts="ts",
                  fact_ts="event_ts", features=feats, strategy="cogroup")
    plain = join_window_agg_features(obs, fact, **kwargs).orderBy("obs_id").toPandas()
    sliced = join_window_agg_features(obs, fact, hot_key_threshold=50, salt_buckets=4,
                                      **kwargs).orderBy("obs_id").toPandas()
    for c in ("s1", "s7", "cd", "dl"):
        assert np.allclose(plain[c].astype(float).fillna(-1),
                           sliced[c].astype(float).fillna(-1), rtol=1e-9), c


def test_negative_delay_salted_matches_unsalted(spark):
    """A negative delay lets an observation see FUTURE fact rows; the
    time-sliced salt must copy hot-key fact rows DOWN into earlier
    chunks (lo_shift) or matches silently vanish. Parity of unsalted and
    time-slice salted."""
    fact, obs = corpus(spark, sf=0.0005)
    feats = [
        SWAFeature("fw", "SUM", "n_tok", WindowSpec(2 * 86400, delay=-86400)),
        SWAFeature("bk", "SUM", "n_tok", WindowSpec(86400)),
    ]
    kwargs = dict(obs_keys=["doc_id"], fact_keys=["doc_id"], obs_ts="ts",
                  fact_ts="event_ts", features=feats, strategy="cogroup")
    plain = join_window_agg_features(obs, fact, **kwargs).orderBy("obs_id").toPandas()
    sliced = join_window_agg_features(obs, fact, hot_key_threshold=50, salt_buckets=4,
                                      **kwargs).orderBy("obs_id").toPandas()
    assert plain["fw"].notna().any()  # future-window matches actually exist
    for c in ("fw", "bk"):
        assert np.allclose(plain[c].astype(float).fillna(-1),
                           sliced[c].astype(float).fillna(-1), rtol=1e-9), c


def test_salt_scheme_follows_the_windows(spark, monkeypatch):
    """The salt scheme is derived from the battery, seen through how
    many copies a hot fact row gets: a bounded battery slices the hot
    key's timeline (<= ceil(span/W)+1 copies, W = span), a battery with
    an unbounded window replicates into every salt bucket. Both equal
    the unsalted run."""
    from feathr_spark.operators import swa

    obs = spark.createDataFrame([(1, t) for t in (120, 250, 380, 500)] + [(2, 500)],
                                "k long, ts long")
    fact = spark.createDataFrame([(1, t, 1.0) for t in range(0, 500, 20)] + [(2, 5, 9.0)],
                                 "k long, ts long, v double")
    bounded = [SWAFeature("s100", "SUM", "v", WindowSpec(100)),
               SWAFeature("s50", "SUM", "v", WindowSpec(40, delay=10))]
    seen = []

    def spy(*a, **kw):
        obs_s, fact_s = orig(*a, **kw)
        seen.append(fact_s)
        return obs_s, fact_s

    orig = swa._salt
    monkeypatch.setattr(swa, "_salt", spy)

    def copies_per_hot_fact_row(feats):
        kw = dict(strategy="cogroup", prefilter_time_range=False)  # keep every fact row
        plain = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats, **kw)
        salted = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats,
                                          hot_key_threshold=1, salt_buckets=4, **kw)
        assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
        counts = seen.pop().where("__k0 = 1").groupBy("__ts").count().collect()
        assert len(counts) == 25  # every fact row of the hot key
        return {r["count"] for r in counts}

    # span 100 s = W: at most ceil(100/100) + 1 copies
    assert max(copies_per_hot_fact_row(bounded)) <= 2
    unbounded = bounded + [SWAFeature("lt", "LATEST", "v", WindowSpec(math.inf))]
    assert copies_per_hot_fact_row(unbounded) == {4}


def test_replicate_salt_accepts_map_observation_column(spark):
    """Replicate salting (an unbounded window) places a hot observation
    by a hash of its key, ts and null-key id only: a map-typed
    observation column, which xxhash64 rejects, must neither fail the
    plan nor change the result."""
    obs = spark.createDataFrame(
        [(1, 100, {"a": 1}), (1, 300, {"b": 2}), (2, 300, None), (None, 300, {"c": 3})],
        "k long, ts long, m map<string,int>")
    fact = spark.createDataFrame(
        [(1, 50, 1.0), (1, 150, 2.0), (1, 250, 4.0), (2, 10, 8.0)],
        "k long, ts long, v double")
    feats = [SWAFeature("vs", "SUM", "v", WindowSpec(math.inf))]

    def run(**salt):
        out = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats,
                                       strategy="cogroup", **salt)
        return sorted(((r["k"], r["ts"], r["vs"]) for r in out.collect()),
                      key=lambda t: (t[0] is None, t[0] or 0, t[1]))

    plain = run()
    assert plain == [(1, 100, 1.0), (1, 300, 7.0), (2, 300, 8.0), (None, 300, None)]
    assert run(hot_key_threshold=1, salt_buckets=4) == plain


def test_slick_map_columns_hash_into_uid(spark):
    """Map-typed obs columns (top-level AND nested in an array) must not
    crash the content uid, and rows differing ONLY in a map — including
    when the JOIN KEY is read out of the map — keep distinct uids and
    get their own correct features."""
    obs = spark.createDataFrame(
        [(1, 10.0, {"k": "a"}, [{"t": "p"}]),
         (2, 10.0, {"k": "b"}, [{"t": "q"}])],  # differs only in maps
        "obs_id long, ts double, m map<string,string>, am array<map<string,string>>")
    fact = spark.createDataFrame(
        [("a", 5.0, 2.0), ("b", 5.0, 30.0)], "k string, ts double, v double")
    feats = [SWAFeature("vsum", "SUM", "v", WindowSpec(100))]
    out = join_window_agg_features(
        obs.withColumn("k", F.col("m")["k"]), fact, ["k"], ["k"], "ts", "ts",
        feats, slick=True).orderBy("obs_id").collect()
    assert [r["vsum"] for r in out] == [2.0, 30.0]


def test_release_caches(spark):
    """Operator-internal persists registered via track_cache are freed by
    feathr_spark.release_caches()."""
    import feathr_spark as fs
    from feathr_spark.operators.asof import asof_join

    obs = spark.createDataFrame([(1, "a", 100.0)], "obs_id long, k string, ts double")
    fact = spark.createDataFrame([("a", 50.0, 1.0)], "k string, ts double, v double")
    out = asof_join(obs, fact, ["k"], ["k"], "ts", "ts", ["v"], strategy="prune")
    assert out.count() == 1
    assert fs.release_caches() >= 1
    assert fs.release_caches() == 0  # registry drained


def test_defaults_and_simulate_delay(toy):
    obs, fact = toy
    feats = [SWAFeature("v_sum", "SUM", "v", WindowSpec(100), default=0.0)]
    out = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats)
    vals = {r["obs_id"]: r["v_sum"] for r in out.collect()}
    assert vals[4] == 0.0 and vals[5] == 0.0 and vals[1] == 3.0


def test_swa_slick_parity(spark):
    """slick=True (uid-trimmed merge + wide join-back) must match the
    direct formulation row-for-row, preserving all observation columns."""
    from feathr_spark import SWAFeature, WindowSpec, join_window_agg_features
    from feathr_spark.datagen import corpus

    fact, obs = corpus(spark, sf=0.0005)
    feats = [SWAFeature("s1", "SUM", "n_tok", WindowSpec(86400)),
             SWAFeature("c1", "COUNT", "n_tok", WindowSpec(86400))]
    kw = dict(obs_ts_format="epoch", fact_ts_format="epoch")
    base = join_window_agg_features(
        obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts", feats, **kw
    ).orderBy("obs_id").toPandas()
    slick = join_window_agg_features(
        obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts", feats, slick=True, **kw
    ).orderBy("obs_id").toPandas()
    assert list(base.columns) == list(slick.columns)
    assert len(base) == len(slick)
    for c in ("obs_id", "label", "s1", "c1"):
        a = base[c].astype("float").fillna(-1).to_numpy()
        b = slick[c].astype("float").fillna(-1).to_numpy()
        assert np.allclose(a, b), c


def test_hot_key_estimators_agree(spark):
    """A precomputed hot-key list produces correct (parity with
    unsalted) results."""
    from feathr_spark import SWAFeature, WindowSpec, join_window_agg_features
    from feathr_spark.datagen import corpus

    fact, obs = corpus(spark, sf=0.0005)
    feats = [SWAFeature("s1", "SUM", "n_tok", WindowSpec(86400))]
    kw = dict(obs_ts_format="epoch", fact_ts_format="epoch", strategy="cogroup")
    base = join_window_agg_features(
        obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts", feats, **kw
    ).orderBy("obs_id").toPandas()
    pre = join_window_agg_features(
        obs, fact, ["doc_id"], ["doc_id"], "ts", "event_ts", feats,
        hot_keys_df=spark.createDataFrame([("doc_0",), ("doc_1",)], "doc_id string"),
        salt_buckets=4, **kw
    ).orderBy("obs_id").toPandas()
    a = base["s1"].astype("float").fillna(-1).to_numpy()
    b = pre["s1"].astype("float").fillna(-1).to_numpy()
    assert np.allclose(a, b)


def test_slick_no_checkpoint_and_duplicates(spark):
    """slick uid is content-derived: no localCheckpoint (ExistingRDD scan)
    in the plan, and bytewise-duplicate observation rows each survive the
    join-back with identical (correct) features."""
    from feathr_spark import join_window_agg_features

    # inputs built from spark.range (plans as Range): createDataFrame from
    # local rows ALSO scans as ExistingRDD, which would false-positive the
    # checkpoint assertion below. Row (k=1, ts=10) is duplicated.
    obs = spark.range(3).select(
        F.when(F.col("id") < 2, 1).otherwise(2).cast("long").alias("k"),
        F.when(F.col("id") < 2, 10).otherwise(25).cast("long").alias("ts"))
    fact = spark.range(3).select(
        F.when(F.col("id") < 2, 1).otherwise(2).cast("long").alias("k"),
        F.element_at(F.array(F.lit(5), F.lit(9), F.lit(20)),
                     (F.col("id") + 1).cast("int")).cast("long").alias("ts"),
        F.element_at(F.array(F.lit(2.0), F.lit(3.0), F.lit(7.0)),
                     (F.col("id") + 1).cast("int")).alias("v"))
    feats = [SWAFeature("vsum", "SUM", "v", WindowSpec(100))]
    out = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats,
                                   slick=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, "localCheckpoint crept back into slick"
    rows = sorted([(r["k"], r["ts"], r["vsum"]) for r in out.collect()])
    assert rows == [(1, 10, 5.0), (1, 10, 5.0), (2, 25, 7.0)]


def test_global_count_distinct_matches_loop():
    """Interval-stabbing COUNT_DISTINCT == a per-obs-row brute-force
    mask + np.unique on randomized multi-key buckets (incl. nulls,
    delays, obs keys with no facts, obs times outside the fact span)."""
    import numpy as np
    import pandas as pd

    from feathr_spark.operators import kernels

    rng = np.random.default_rng(7)
    for trial in range(3):
        nf, no, nk = 5000, 2000, 23
        fc = np.sort(rng.integers(0, nk, nf))
        fts_raw = rng.integers(0, 10**7, nf)
        ordf = np.lexsort((fts_raw, fc)); fc, fts = fc[ordf], fts_raw[ordf]
        oc = np.sort(rng.integers(0, nk + 3, no))
        ots_raw = rng.integers(-10**5, int(1.1e7), no).astype(np.int64)
        ordo = np.lexsort((ots_raw, oc)); oc, ots = oc[ordo], ots_raw[ordo]
        vals = rng.integers(0, 12, nf).astype(object)
        vals[rng.random(nf) < 0.1] = None
        codes, _ = pd.factorize(pd.Series(vals), use_na_sentinel=True)
        codes = codes.astype(np.int64)
        W = int(rng.integers(10**5, 5 * 10**6))
        D = int(rng.integers(0, 5 * 10**5)) if trial % 2 else 0
        got = kernels.global_count_distinct(fc, fts, oc, ots, codes, W, D)
        want = np.zeros(no, dtype=np.int64)
        for i in range(no):
            m = (fc == oc[i]) & (fts > ots[i] - W - D) & (fts <= ots[i] - D) \
                & (codes >= 0)
            want[i] = len(np.unique(codes[m]))
        assert (got == want).all(), f"trial {trial}"


def test_custom_aggregation_registry(spark):
    """register_aggregation: a user-defined RANGE agg (max - min) runs
    inside the cogroup kernel on bucket-wide window bounds; union
    strategy rejects it with a clear error."""
    import feathr_spark
    from feathr_spark.definitions import CUSTOM_AGGS

    def value_range(values, ts, lo, hi):
        out = np.full(len(lo), None, dtype=object)
        for i in range(len(lo)):
            w = [float(v) for v in values[lo[i]:hi[i]] if v is not None]
            if w:
                out[i] = max(w) - min(w)
        return out

    feathr_spark.register_aggregation("RANGE", value_range, dtype="double")
    try:
        obs = spark.createDataFrame([(1, 100), (2, 100)], "k long, ts long")
        fact = spark.createDataFrame(
            [(1, 50, 2.0), (1, 60, 7.0), (1, 90, 4.0), (2, 10, 1.0)],
            "k long, ts long, v double")
        feats = [SWAFeature("vrange", "RANGE", "v", WindowSpec(80))]
        out = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats)
        rows = {r["k"]: r["vrange"] for r in out.collect()}
        assert rows[1] == 5.0  # window (20,100]: values 2,7,4
        assert rows[2] is None  # fact at ts=10 outside (20,100]
        with pytest.raises(ValueError, match="cogroup"):
            join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats,
                                     strategy="union")
        with pytest.raises(ValueError, match="built-in"):
            feathr_spark.register_aggregation("SUM", value_range)
    finally:
        CUSTOM_AGGS.pop("RANGE", None)


def test_null_key_rows_stay_off_the_global_composite():
    """Null-key/null-ts observations carry per-row-unique __nk ids; left
    inside the kernel's composite key codes each would be a key of its
    own, inflating the key count by the null-row count and pushing the
    bucket's (key, ts) composite off the cheap span tier. The kernel must
    answer them directly (all-null features) and pass only the valid
    rows' keys to the global searchsorted pass."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    from feathr_spark.operators import kernels, swa

    n = 4000
    rng = np.random.default_rng(3)
    DAY = 86_400_000_000
    fact = pd.DataFrame({
        "__k0": [f"k{i % 300}" for i in range(n)],
        "__ts": rng.integers(0, 30 * DAY, n),
        "__nk": np.zeros(n, dtype=np.int64),
        "__m0": rng.random(n) * 10,
    })
    nk = np.where(np.arange(n) % 2 == 1, np.arange(n) + 1, 0)
    obs = pd.DataFrame({
        "__k0": [f"k{i % 300}" if i % 2 == 0 else None for i in range(n)],
        "obs_id": np.arange(n),
        "__ts": rng.integers(0, 31 * DAY, n),
        "__nk": nk.astype(np.int64),
    })
    obs_schema = T.StructType([
        T.StructField("__k0", T.StringType()), T.StructField("obs_id", T.LongType()),
        T.StructField("__ts", T.LongType()), T.StructField("__nk", T.LongType())])
    out_schema = T.StructType(list(obs_schema.fields) + [
        T.StructField("vsum", T.DoubleType()), T.StructField("vcd", T.LongType())])
    specs = [dict(name="vsum", agg="SUM", metric="__m0", group_col=None,
                  width_us=7 * DAY, delay_us=0, limit=None),
             dict(name="vcd", agg="COUNT_DISTINCT", metric="__m0", group_col=None,
                  width_us=7 * DAY, delay_us=0, limit=None)]
    kern = swa._make_kernel(obs_schema, out_schema, specs, ["__k0", "__nk"])

    key_counts = []
    orig = kernels.global_window_bounds

    def spy(fc, fts, oc, *a, **k):
        key_counts.append(int(max(fc.max(), oc.max())) + 1)
        return orig(fc, fts, oc, *a, **k)

    kernels.global_window_bounds = spy
    try:
        res = kern(obs, fact)
    finally:
        kernels.global_window_bounds = orig
    # only the 300 valid keys reach the composite, not the n/2 null ids
    assert key_counts and max(key_counts) <= 300
    assert len(res) == n
    by_id = res.set_index("obs_id")
    odd = by_id.loc[[i for i in range(1, n, 2)]]
    assert odd["vsum"].isna().all() and odd["vcd"].isna().all()
    even = by_id.loc[[i for i in range(0, n, 2)]]
    assert even["vsum"].notna().any()


def test_rank_compressed_composite_tier_matches_span_tier():
    """When key-cardinality x timestamp-span overflows int64, the global
    kernels fall back to rank-compressed composites, not the per-key
    loop; results must be identical to the span tier on the same data
    (exercised by scaling timestamps+widths 10^6x, which preserves every
    window membership)."""
    import numpy as np

    from feathr_spark.operators import kernels

    rng = np.random.default_rng(11)
    nf, no, nk = 8000, 3000, 40
    fc = np.sort(rng.integers(0, nk, nf))
    fts_raw = rng.integers(0, 10**7, nf)
    ordf = np.lexsort((fts_raw, fc)); fc, fts = fc[ordf], fts_raw[ordf]
    oc = np.sort(rng.integers(0, nk + 3, no))
    ots_raw = rng.integers(-10**5, int(1.1e7), no).astype(np.int64)
    ordo = np.lexsort((ots_raw, oc)); oc, ots = oc[ordo], ots_raw[ordo]
    W, D = 2 * 10**6, 3 * 10**5
    S = 4 * 10**11  # scale => span*kmax >> 2^62 => rank tier
    lo1, hi1 = kernels.global_window_bounds(fc, fts, oc, ots, W, D)
    lo2, hi2 = kernels.global_window_bounds(fc, fts * S, oc, ots * S, W * S, D * S)
    assert (lo1 == lo2).all() and (hi1 == hi2).all()

    vals = rng.integers(0, 9, nf).astype(np.int64)
    cd1 = kernels.global_count_distinct(fc, fts, oc, ots, vals, W, D)
    cd2 = kernels.global_count_distinct(fc, fts * S, oc, ots * S, vals, W * S, D * S)
    assert (cd1 == cd2).all()


def test_salted_union_matches_unsalted_and_cogroup(spark):
    """Salting runs on the cogroup strategy only: unsalted union ==
    salted cogroup, incl. a delayed window and COUNT_DISTINCT, and union
    with hot keys (a threshold or a precomputed list) raises, naming
    cogroup."""
    fact, obs = corpus(spark, sf=0.0005)
    feats = [
        SWAFeature("s1", "SUM", "n_tok", WindowSpec(86400)),
        SWAFeature("a7", "AVG", "n_tok", WindowSpec(7 * 86400)),
        SWAFeature("lt", "LATEST", "n_tok", WindowSpec(7 * 86400)),
        SWAFeature("cd", "COUNT_DISTINCT", "source", WindowSpec(7 * 86400)),
        SWAFeature("dl", "SUM", "n_tok", WindowSpec(2 * 86400, delay=86400)),
    ]
    kwargs = dict(obs_keys=["doc_id"], fact_keys=["doc_id"], obs_ts="ts",
                  fact_ts="event_ts", features=feats)
    plain = join_window_agg_features(obs, fact, strategy="union", **kwargs) \
        .orderBy("obs_id").toPandas()
    cg = join_window_agg_features(
        obs, fact, strategy="cogroup", hot_key_threshold=50, salt_buckets=4,
        **kwargs).orderBy("obs_id").toPandas()
    for c in ("s1", "a7", "lt", "cd", "dl"):
        assert np.allclose(plain[c].astype(float).fillna(-1),
                           cg[c].astype(float).fillna(-1), rtol=1e-9), c
    hot = fact.select("doc_id").limit(3)
    for hot_kw in (dict(hot_key_threshold=50), dict(hot_keys_df=hot)):
        with pytest.raises(ValueError, match="cogroup"):
            join_window_agg_features(obs, fact, strategy="union", **hot_kw, **kwargs)


def test_dense_codes_keep_high_cardinality_composite_keys_global():
    """A 3-column key with ~45k values per column: the folded key codes
    must stay dense (at most the bucket's distinct keys), so
    global_window_bounds returns bounds on a bucket whose sparse
    combination (~1e14 codes x 150k distinct timestamps) would overflow
    the int64 composite — and the bounds equal a brute-force window
    match on the raw key tuples."""
    from feathr_spark.operators import kernels

    rng = np.random.default_rng(5)
    tuples = rng.integers(0, 100_000, size=(60_000, 3))
    nf, no = 150_000, 20_000
    fk = tuples[rng.integers(0, len(tuples), nf)]
    ok = np.vstack([tuples[rng.integers(0, len(tuples), no - 500)],
                    rng.integers(100_000, 200_000, size=(500, 3))])  # unmatched
    fts = rng.integers(0, 10**9, nf)
    ots = rng.integers(0, int(1.1e9), no)
    W, D = 2 * 10**8, 10**7
    oc, fc = kernels.combined_codes([pd.Series(ok[:, j]) for j in range(3)],
                                    [pd.Series(fk[:, j]) for j in range(3)])
    n_keys = len(np.unique(np.vstack([ok, fk]), axis=0))
    assert max(oc.max(), fc.max()) < n_keys
    fo, oo = np.lexsort((fts, fc)), np.lexsort((ots, oc))
    lo, hi = kernels.global_window_bounds(fc[fo], fts[fo], oc[oo], ots[oo], W, D)

    # brute force on the raw key tuples: equi-join + window filter
    fdf = pd.DataFrame({"a": fk[fo, 0], "b": fk[fo, 1], "c": fk[fo, 2],
                        "fts": fts[fo], "pos": np.arange(nf)})
    odf = pd.DataFrame({"a": ok[oo, 0], "b": ok[oo, 1], "c": ok[oo, 2],
                        "ots": ots[oo], "i": np.arange(no)})
    m = odf.merge(fdf, on=["a", "b", "c"])
    m = m[(m["fts"] > m["ots"] - W - D) & (m["fts"] <= m["ots"] - D)]
    assert len(m) > 1000
    want = m.groupby("i")["pos"].agg(["min", "max", "count"]) \
        .reindex(range(no), fill_value=0)
    got_n = hi - lo
    assert (got_n == want["count"].to_numpy()).all()
    hit = got_n > 0
    # matches are contiguous in (key, ts) order, so [lo, hi) is exact
    assert (lo[hit] == want["min"].to_numpy()[hit]).all()
    assert (hi[hit] - 1 == want["max"].to_numpy()[hit]).all()


def test_nan_metric_is_null_on_every_path(spark):
    """A NaN metric is null for SWA on both strategies and for
    ``generate_features``: it is skipped by every aggregate and not
    counted."""
    from feathr_spark.materialize import GenSpec, generate_features

    obs = spark.createDataFrame([(1, "a", 100)], "obs_id long, k string, ts long")
    fact = spark.createDataFrame([("a", 40, 1.0), ("a", 50, float("nan"))],
                                 "k string, ts long, v double")
    feats = [SWAFeature(f"v_{agg.lower()}", agg, "v", WindowSpec(100))
             for agg in ("LATEST", "MAX", "MIN", "SUM", "AVG", "COUNT")]
    want = {"v_latest": 1.0, "v_max": 1.0, "v_min": 1.0, "v_sum": 1.0, "v_avg": 1.0,
            "v_count": 1}
    for strategy in STRATEGIES:
        row = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats,
                                       strategy=strategy).first()
        assert {f.name: row[f.name] for f in feats} == want, strategy
    spec = GenSpec(keys=["k"], key_names=["k"], ts_col="ts", features=feats)
    row = generate_features(fact, spec, 100).first()
    assert {f.name: row[f.name] for f in feats} == want


def test_timesince_reads_the_latest_set_filtered_metric(spark):
    """TIMESINCE is the time since the latest fact row whose (filtered)
    metric is set, on both SWA strategies and in ``generate_features``:
    a later row with a null metric, or one the filter drops, is not an
    event of that feature."""
    from feathr_spark.materialize import GenSpec, generate_features

    obs = spark.createDataFrame([(1, "a", 100)], "obs_id long, k string, ts long")
    fact = spark.createDataFrame([("a", 40, 1.0, "web"), ("a", 50, None, "app")],
                                 "k string, ts long, v double, src string")
    feats = [SWAFeature("since_v", "TIMESINCE", "v", WindowSpec(100)),
             SWAFeature("since_web", "TIMESINCE", "v", WindowSpec(100), filter="src = 'web'")]
    want = {"since_v": 60.0, "since_web": 60.0}
    for strategy in STRATEGIES:
        row = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts", feats,
                                       strategy=strategy).first()
        assert {f.name: row[f.name] for f in feats} == want, strategy
    spec = GenSpec(keys=["k"], key_names=["k"], ts_col="ts", features=feats)
    row = generate_features(fact, spec, 100).first()
    assert {f.name: row[f.name] for f in feats} == want
