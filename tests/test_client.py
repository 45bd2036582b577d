"""FeathrClient façade: the reference's four-call user flow
(build_features -> get_offline_features -> materialize_features ->
get_online_features) driven in-session, checked against direct engine
calls on the same data (reference: feathr_project/feathr/client.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feathr_spark import (
    Anchor,
    DerivedFeature,
    FeathrClient,
    Feature,
    FeatureQuery,
    LookupFeature,
    MaterializationSettings,
    ObservationSettings,
    Source,
    SWAFeature,
    WindowSpec,
)
from feathr_spark.materialize import BackfillTime


def _anchor(sf_dir):
    src = Source(path=f"{sf_dir}/events.parquet", fmt="parquet",
                 timestamp_col="ts", timestamp_format="timestamp")
    return Anchor(
        name="ev_swa", source=src, keys=["user_id"],
        features=[
            SWAFeature("v_sum_1h", "SUM", "value", WindowSpec(3600)),
            SWAFeature("n_1d", "COUNT", "value", WindowSpec(86400)),
        ],
    )


def _obs(spark, sf_dir):
    return (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("event_id", "user_id", "ts"))


def test_client_offline_matches_direct_join(spark, sf_dir):
    client = FeathrClient(spark)
    client.build_features(
        anchor_list=[_anchor(sf_dir)],
        derived_feature_list=[
            DerivedFeature("v_avg_like", "v_sum_1h / greatest(n_1d, 1)",
                           inputs=("v_sum_1h", "n_1d"))],
    )
    settings = ObservationSettings(keys=["user_id"], timestamp_col="ts",
                                   timestamp_format="timestamp")
    got = client.get_offline_features(
        _obs(spark, sf_dir),
        FeatureQuery(["v_sum_1h", "v_avg_like"]), settings)
    # derived requested -> its inputs joined via closure, output pruned
    assert set(got.columns) == {"event_id", "user_id", "ts",
                                "v_sum_1h", "v_avg_like"}

    from feathr_spark import join_window_agg_features

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = join_window_agg_features(
        _obs(spark, sf_dir), ev, ["user_id"], ["user_id"], "ts", "ts",
        [SWAFeature("v_sum_1h", "SUM", "value", WindowSpec(3600)),
         SWAFeature("n_1d", "COUNT", "value", WindowSpec(86400))],
        obs_ts_format="timestamp", fact_ts_format="timestamp",
    ).withColumn("v_avg_like",
                 F.expr("v_sum_1h / greatest(n_1d, 1)"))

    def canon(df):
        return sorted(
            (r["event_id"],
             None if r["v_sum_1h"] is None else round(r["v_sum_1h"], 6),
             None if r["v_avg_like"] is None else round(r["v_avg_like"], 6))
            for r in df.select("event_id", "v_sum_1h", "v_avg_like").collect())

    assert canon(got) == canon(want)


def test_client_query_key_binding(spark, sf_dir):
    """A FeatureQuery key override binds that feature's anchor to a
    different observation key expression (the reference's key tags)."""
    client = FeathrClient(spark)
    client.build_features(anchor_list=[_anchor(sf_dir)])
    settings = ObservationSettings(keys=["user_id"], timestamp_col="ts",
                                   timestamp_format="timestamp")
    obs = _obs(spark, sf_dir).withColumn("uid2", F.col("user_id"))
    a = client.get_offline_features(
        obs, FeatureQuery(["v_sum_1h"], key=["uid2"]), settings)
    b = client.get_offline_features(
        obs, FeatureQuery(["v_sum_1h"]), settings)
    ca = sorted((r["event_id"], r["v_sum_1h"]) for r in
                a.select("event_id", "v_sum_1h").collect())
    cb = sorted((r["event_id"], r["v_sum_1h"]) for r in
                b.select("event_id", "v_sum_1h").collect())
    assert ca == cb  # same key values through the other column


def test_client_default_binding_keeps_the_plain_name(spark, sf_dir):
    """A feature under the default keys and under a key override: the
    default binding keeps the name, whichever query lists it first, and
    the other is ``<name>__<keytag>``, as in a HOCON join config."""
    client = FeathrClient(spark)
    client.build_features(anchor_list=[_anchor(sf_dir)])
    settings = ObservationSettings(keys=["user_id"], timestamp_col="ts",
                                   timestamp_format="timestamp")
    obs = _obs(spark, sf_dir).withColumn("uid2", (F.col("user_id") + 1) % 20)
    got = client.get_offline_features(
        obs, [FeatureQuery(["v_sum_1h"], key=["uid2"]),
              FeatureQuery(["v_sum_1h"])], settings)
    assert got.columns == obs.columns + ["v_sum_1h__uid2", "v_sum_1h"]
    plain = client.get_offline_features(obs, FeatureQuery(["v_sum_1h"]), settings)
    tagged = client.get_offline_features(
        obs, FeatureQuery(["v_sum_1h"], key=["uid2"]), settings)
    want = plain.join(tagged.select(
        "event_id", F.col("v_sum_1h").alias("v_sum_1h__uid2")), "event_id")
    assert got.exceptAll(want.select(got.columns)).isEmpty()


def test_client_guards(spark, sf_dir):
    client = FeathrClient(spark)
    with pytest.raises(RuntimeError, match="build_features"):
        client.get_offline_features(
            _obs(spark, sf_dir), FeatureQuery(["x"]),
            ObservationSettings(keys=["user_id"], timestamp_col="ts"))
    a = _anchor(sf_dir)
    with pytest.raises(RuntimeError, match="conflict"):
        client.build_features(anchor_list=[
            a, Anchor(name="dup", source=a.source, keys=["user_id"],
                      features=[SWAFeature("v_sum_1h", "SUM", "value",
                                           WindowSpec(60))])])
    client.build_features(anchor_list=[a])
    with pytest.raises(KeyError, match="unknown feature"):
        client.get_offline_features(
            _obs(spark, sf_dir), FeatureQuery(["nope"]),
            ObservationSettings(keys=["user_id"], timestamp_col="ts"))


def test_client_materialize_and_online_roundtrip(spark, sf_dir, tmp_path):
    client = FeathrClient(spark, online_store_dir=str(tmp_path / "online"))
    client.build_features(anchor_list=[_anchor(sf_dir)])

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hi = ev.select(F.max(F.unix_timestamp(F.col("ts").cast("timestamp")))).first()[0]
    cutoff = int(hi) + 1
    settings = MaterializationSettings(
        name="ev_daily", feature_names=["v_sum_1h", "n_1d"],
        backfill_time=BackfillTime(cutoff - 3600, cutoff, 3600),
        sink_path=str(tmp_path / "sink"), online_table="ev_table")
    report = client.materialize_features(settings)
    assert len(report["written"]) == 2
    assert report["online_table"] == "ev_table"

    # resume: nothing rewritten
    report2 = client.materialize_features(settings)
    assert report2["written"] == [] and len(report2["skipped"]) == 2

    # online values == latest-cutoff snapshot values
    # snapshot key columns take the key's identifier, as a generation config's do
    snap = spark.read.parquet(str(tmp_path / "sink") + f"/cutoff={cutoff}")
    assert set(snap.columns) == {"user_id", "v_sum_1h", "n_1d"}
    row = snap.orderBy("user_id").first()
    got = client.get_online_features("ev_table", row["user_id"],
                                     ["v_sum_1h", "n_1d", "missing"])
    def _num(x):
        return None if x is None else round(float(x), 6)
    assert _num(got[0]) == _num(row["v_sum_1h"])
    assert got[1] == row["n_1d"]
    assert got[2] is None

    # batch form
    keys = [r["user_id"] for r in snap.orderBy("user_id").limit(3).collect()]
    multi = client.multi_get_online_features("ev_table", keys, ["n_1d"])
    want = {str(r["user_id"]): [r["n_1d"]] for r in
            snap.where(F.col("user_id").isin(keys)).collect()}
    assert multi == want


def test_client_materialize_rejects_multi_anchor(spark, sf_dir):
    client = FeathrClient(spark)
    a = _anchor(sf_dir)
    b = Anchor(name="other", source=a.source, keys=["user_id"],
               features=[SWAFeature("other_sum", "SUM", "value",
                                    WindowSpec(60))])
    client.build_features(anchor_list=[a, b])
    with pytest.raises(RuntimeError, match="one\\s+anchor"):
        client.materialize_features(MaterializationSettings(
            name="x", feature_names=["v_sum_1h", "other_sum"],
            backfill_time=BackfillTime(0, 0, 1)))


def test_client_registry_roundtrip(spark, sf_dir, tmp_path):
    """register_features -> fresh client -> get_features_from_registry
    rebuilds the same context: same feature list, same join results."""
    reg = str(tmp_path / "registry")
    c1 = FeathrClient(spark, registry_dir=reg)
    c1.build_features(
        anchor_list=[_anchor(sf_dir)],
        derived_feature_list=[
            DerivedFeature("v_avg_like", "v_sum_1h / greatest(n_1d, 1)",
                           inputs=("v_sum_1h", "n_1d"))])
    path = c1.register_features("proj_a")
    assert path.endswith("proj_a.json")

    c2 = FeathrClient(spark, registry_dir=reg)
    assert sorted(c2.list_registered_features("proj_a")) == [
        "n_1d", "v_avg_like", "v_sum_1h"]
    feats, keys = c2.get_features_from_registry("proj_a", return_keys=True)
    assert keys["v_sum_1h"] == ["user_id"]
    assert feats["v_sum_1h"].window.width == 3600

    settings = ObservationSettings(keys=["user_id"], timestamp_col="ts",
                                   timestamp_format="timestamp")
    q = FeatureQuery(["v_avg_like"])
    a = c1.get_offline_features(_obs(spark, sf_dir), q, settings)
    b = c2.get_offline_features(_obs(spark, sf_dir), q, settings)
    ca = sorted((r["event_id"],
                 None if r["v_avg_like"] is None else round(r["v_avg_like"], 6))
                for r in a.select("event_id", "v_avg_like").collect())
    cb = sorted((r["event_id"],
                 None if r["v_avg_like"] is None else round(r["v_avg_like"], 6))
                for r in b.select("event_id", "v_avg_like").collect())
    assert ca == cb

    with pytest.raises(KeyError, match="no registered project"):
        c2.get_features_from_registry("nope")


def test_client_registry_rejects_code_hooks(spark, sf_dir, tmp_path):
    a = _anchor(sf_dir)
    a.source.preprocessing = lambda df: df
    c = FeathrClient(spark, registry_dir=str(tmp_path / "reg"))
    c.build_features(anchor_list=[a])
    with pytest.raises(ValueError, match="code hook"):
        c.register_features()


def test_client_offline_fds_output(spark, sf_dir):
    """output_format='fds' re-encodes the requested feature columns into
    Quince-FDS tensors and leaves key/timestamp columns raw."""
    client = FeathrClient(spark)
    client.build_features(anchor_list=[_anchor(sf_dir)])
    settings = ObservationSettings(keys=["user_id"], timestamp_col="ts",
                                   timestamp_format="timestamp")
    raw = client.get_offline_features(
        _obs(spark, sf_dir), FeatureQuery(["v_sum_1h", "n_1d"]), settings)
    got = client.get_offline_features(
        _obs(spark, sf_dir), FeatureQuery(["v_sum_1h", "n_1d"]), settings,
        output_format="fds")
    dt = dict(got.dtypes)
    assert dt["v_sum_1h"] == "float" and dt["n_1d"] == "float"
    assert dt["user_id"] == dict(raw.dtypes)["user_id"]  # keys untouched
    assert client.last_inferred_feature_types == {
        "v_sum_1h": "NUMERIC", "n_1d": "NUMERIC"}
    r = {x["event_id"]: x for x in raw.collect()}
    g = {x["event_id"]: x for x in got.collect()}
    import numpy as np
    for eid, row in g.items():
        want = r[eid]["v_sum_1h"]
        if want is None:
            assert row["v_sum_1h"] is None
        else:
            assert np.isclose(row["v_sum_1h"], np.float32(want))


def test_registry_lineage_and_search(spark, sf_dir, tmp_path):
    """Project lineage graph + per-feature BFS mirror the reference
    registry's /projects/{p} and /features/{f}/lineage payloads
    (sql-registry db_registry.py:150-183, models.py:113-117)."""
    reg = str(tmp_path / "registry")
    c = FeathrClient(spark, registry_dir=reg)
    c.build_features(
        anchor_list=[_anchor(sf_dir)],
        derived_feature_list=[
            DerivedFeature("v_avg_like", "v_sum_1h / greatest(n_1d, 1)",
                           inputs=("v_sum_1h", "n_1d"))])
    c.register_features("proj_l")

    # search mirrors GET /projects/{p}/features?keyword=
    assert c.search_features("v_", "proj_l") == ["v_sum_1h", "v_avg_like"] \
        or sorted(c.search_features("v_", "proj_l")) == ["v_avg_like", "v_sum_1h"]
    assert c.search_features("nope", "proj_l") == []

    g = c.get_project_lineage("proj_l")
    types = {n["id"]: n["type"] for n in g["nodes"]}
    assert types["feature:v_sum_1h"] == "anchor_feature"
    assert types["feature:v_avg_like"] == "derived_feature"
    assert any(t == "source" for t in types.values())
    etypes = {(e["from"], e["to"], e["type"]) for e in g["edges"]}
    anchor_id = next(i for i, t in types.items() if t == "anchor")
    src_id = next(i for i, t in types.items() if t == "source")
    assert (anchor_id, src_id, "Consumes") in etypes
    assert (anchor_id, "feature:v_sum_1h", "Produces") in etypes
    assert ("feature:v_avg_like", "feature:v_sum_1h", "Consumes") in etypes

    # upstream of the derived feature reaches inputs -> anchor -> source
    lin = c.get_feature_lineage("v_avg_like", "proj_l")
    ids = {n["id"] for n in lin["nodes"]}
    assert {"feature:v_avg_like", "feature:v_sum_1h", "feature:n_1d",
            anchor_id, src_id} <= ids

    # downstream of an anchor feature reaches the derived feature
    lin2 = c.get_feature_lineage("v_sum_1h", "proj_l")
    assert "feature:v_avg_like" in {n["id"] for n in lin2["nodes"]}

    with pytest.raises(KeyError, match="not registered"):
        c.get_feature_lineage("ghost", "proj_l")


def test_lineage_unresolved_inputs_get_nodes(spark, sf_dir, tmp_path):
    """An edge to a feature no anchor/derived/lookup defines must still
    resolve against the nodes list (type 'unresolved'), not dangle."""
    reg = str(tmp_path / "registry")
    c = FeathrClient(spark, registry_dir=reg)
    c.build_features(
        anchor_list=[_anchor(sf_dir)],
        derived_feature_list=[
            DerivedFeature("odd", "v_sum_1h + ghost_feature",
                           inputs=("v_sum_1h", "ghost_feature"))])
    c.register_features("proj_g")
    g = c.get_project_lineage("proj_g")
    types = {n["id"]: n["type"] for n in g["nodes"]}
    assert types.get("feature:ghost_feature") == "unresolved"
    ids = {n["id"] for n in g["nodes"]}
    for e in g["edges"]:
        assert e["from"] in ids and e["to"] in ids


def test_registry_rejects_project_names_outside_registry_dir(spark, sf_dir,
                                                             tmp_path):
    """A project name is one path segment: '../x' must raise on both the
    write and the read path and leave nothing outside registry_dir."""
    reg = tmp_path / "registry"
    c = FeathrClient(spark, registry_dir=str(reg))
    c.build_features(anchor_list=[_anchor(sf_dir)])
    with pytest.raises(ValueError, match="invalid project name"):
        c.register_features("../x")
    with pytest.raises(ValueError, match="invalid project name"):
        c.get_features_from_registry("../x")
    assert not list(tmp_path.rglob("*x.json*"))


def _plan_nodes(plan):
    """Every node of an executed plan, through adaptive and query-stage
    wrappers."""
    yield plan
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        kids = [plan.children().apply(i) for i in range(plan.children().size())]
    for k in kids:
        yield from _plan_nodes(k)


def _doc_lookup_query(spark):
    """Run the client query of a SWA anchor, an as-of snapshot anchor and a
    lookup through an expansion anchor; check every looked-up weight and
    return the executed frame."""
    from feathr_spark.datagen import DAY, SOURCES, observations, sequences

    fact = sequences(spark, 2000, 40, seed=1, skew=1.0).drop("tokens")
    obs = observations(spark, 500, 40, seed=1, skew=1.0)
    weights = [(s, float(i + 1)) for i, s in enumerate(SOURCES)]
    meta = spark.createDataFrame(weights, "source string, weight double")
    seq = Source("mem://sequences", timestamp_col="event_ts")
    client = FeathrClient(spark)
    client.build_features(
        anchor_list=[
            Anchor("doc_swa", seq, ["doc_id"],
                   [SWAFeature("tok_sum_1d", "SUM", "n_tok", WindowSpec(DAY))]),
            Anchor("doc_last", seq, ["doc_id"], [Feature("last_source", "source")]),
            Anchor("source_meta", Source("mem://source_meta"), ["source"],
                   [Feature("weight", "weight")]),
        ],
        derived_feature_list=[
            LookupFeature("src_weight", "last_source", "source_meta", "weight",
                          aggregation="FIRST"),
        ],
    )
    out = client.get_offline_features(
        obs, FeatureQuery(["tok_sum_1d", "last_source", "src_weight"]),
        ObservationSettings(keys=["doc_id"], timestamp_col="ts"),
        source_cache={"mem://sequences": fact, "mem://source_meta": meta})
    rows = out.collect()
    by_source = dict(weights)
    assert any(r["last_source"] is not None for r in rows)
    assert all(r["src_weight"] == by_source.get(r["last_source"]) for r in rows)
    return out


def test_lookup_expansion_anchor_is_not_joined_onto_the_observation(spark):
    """An anchor present only as a lookup's expansion anchor is read by the
    lookup stage; the snapshot stage must not left-join it onto the
    observation (``doc_id <=> source``) nor carry its ``weight`` column."""
    out = _doc_lookup_query(spark)

    def names(node):
        return {node.output().apply(i).name() for i in range(node.output().size())}

    for node in _plan_nodes(out._jdf.queryExecution().executedPlan()):
        text = node.simpleString(1000)
        if "Join" in text and "doc_id#" in text:  # no doc_id <=> source join
            below = set().union(*(names(n) for n in _plan_nodes(node) if n is not node))
            assert "weight" not in below, text
        assert not {"doc_id", "weight"} <= names(node), text


def test_client_plan_evaluates_each_stage_once(spark):
    """The SWA anchor and the as-of anchor share one source and key, so
    one fact exchange feeds one Window for both; a scalar-base lookup
    joins a per-key aggregate by value, so the observation is read once,
    and no exchange or aggregate is keyed on a row hash."""
    out = _doc_lookup_query(spark)
    nodes = list(_plan_nodes(out._jdf.queryExecution().executedPlan()))
    kinds = [n.getClass().getSimpleName() for n in nodes]
    assert kinds.count("WindowExec") == 1, kinds
    fact_exchanges = [n for n, k in zip(nodes, kinds) if k == "ShuffleExchangeExec"
                      and "hashpartitioning(__k0" in n.simpleString(1000)]
    assert len(fact_exchanges) == 1, [n.simpleString(1000) for n in fact_exchanges]
    for node, kind in zip(nodes, kinds):
        text = node.simpleString(1000)
        assert "__lk_uid" not in text, text
        if "Exchange" in kind or "Aggregate" in kind:
            assert "xxhash64" not in text, text


def test_array_base_lookup_plans_like_a_scalar_base(spark):
    """An array base aggregates the expansion per distinct base array and
    joins that back by value: with the base from a snapshot anchor, the
    client query plans as many Windows as the scalar-base query, and no
    exchange is keyed on a row hash."""
    from feathr_spark.datagen import DAY, SOURCES, observations, sequences

    fact = sequences(spark, 2000, 40, seed=1, skew=1.0).drop("tokens")
    obs = observations(spark, 500, 40, seed=1, skew=1.0)
    weights = [(s, float(i + 1)) for i, s in enumerate(SOURCES)]
    cache = {"mem://sequences": fact,
             "mem://doc_meta": fact.select("doc_id", "source").dropDuplicates(["doc_id"]),
             "mem://source_meta": spark.createDataFrame(weights, "source string, weight double")}
    by_source = dict(weights)
    windows = {}
    for base, expr, times in (("scalar", "source", 1), ("array", "array(source, source)", 2)):
        client = FeathrClient(spark)
        client.build_features(
            anchor_list=[
                Anchor("doc_swa", Source("mem://sequences", timestamp_col="event_ts"),
                       ["doc_id"],
                       [SWAFeature("tok_sum_1d", "SUM", "n_tok", WindowSpec(DAY))]),
                Anchor("doc_meta", Source("mem://doc_meta"), ["doc_id"],
                       [Feature("doc_source", expr)]),
                Anchor("source_meta", Source("mem://source_meta"), ["source"],
                       [Feature("weight", "weight")]),
            ],
            derived_feature_list=[
                LookupFeature("src_weight", "doc_source", "source_meta", "weight",
                              aggregation="SUM"),
            ],
        )
        out = client.get_offline_features(
            obs, FeatureQuery(["tok_sum_1d", "doc_source", "src_weight"]),
            ObservationSettings(keys=["doc_id"], timestamp_col="ts"), source_cache=cache)
        rows = out.collect()
        assert len(rows) == 500 and any(r["doc_source"] is not None for r in rows)
        for r in rows:
            src = r["doc_source"] if base == "scalar" else (r["doc_source"] or [None])[0]
            want = None if src is None else times * by_source[src]
            assert r["src_weight"] == want, (r["doc_source"], r["src_weight"])
        nodes = list(_plan_nodes(out._jdf.queryExecution().executedPlan()))
        kinds = [n.getClass().getSimpleName() for n in nodes]
        windows[base] = kinds.count("WindowExec")
        for node, kind in zip(nodes, kinds):
            text = node.simpleString(1000)
            assert "__lk_uid" not in text, text
            if "Exchange" in kind:
                assert "xxhash64" not in text, text
    assert windows["array"] == windows["scalar"] == 1, windows
