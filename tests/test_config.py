"""HOCON config compatibility: parser, loader on REAL reference test
configs, and config-driven execution (reference dialect:
offline/config/FeathrConfigLoader.scala, FeatureJoinConfig.scala,
FeatureGenConfig.scala)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from feathr_spark.config import (
    HoconParseError,
    gen_spec_from_feature_def,
    load_feature_def,
    load_gen_config,
    load_join_config,
    loads,
    parse_duration,
    run_join_config,
)
from feathr_spark.definitions import Feature, LookupFeature, SWAFeature

REF = "/root/reference"

# Hand-written stand-ins for the reference test configs the loader tests
# read (SURVEY.md:683-687 — HOCON compatibility, checked by this module;
# SURVEY.md:249-250 — the reference's config loaders). Each holds the
# fields its test asserts, in the reference's grammar; none is copied
# from the reference tree, which this checkout does not carry.

# feathr-compute/src/test/resources/swa.conf
SWA_CONF = """
sources: {
  swaSource: {
    location: { path: "slidingWindowAgg/daily" }
    timePartitionPattern: "yyyy/MM/dd"
    timeWindowParameters: {
      timestampColumn: "timestamp"
      timestampColumnFormat: "yyyy-MM-dd"
    }
  }
}
anchors: {
  swaAnchor: {
    source: "swaSource"
    key: [x]
    features: {
      memberEmbeddingLatest: {
        def: "embedding"
        aggregation: LATEST
        window: 3d
      }
    }
  }
}
"""

# feathr-compute/src/test/resources/seqJoinFeature.conf
SEQ_JOIN_FEATURE_CONF = """
anchors: {
  industry-local: {
    source: "seqJoin/industry.avro.json"
    key.sqlExpr: [industryId]
    features: {
      MemberIndustryName.def.sqlExpr: "industryName"
    }
  }
  waterloo-member-geolocation-local: {
    source: "seqJoin/member.avro.json"
    key.sqlExpr: "concat('',x)"
    features: {
      MemberIndustryId: {
        def.sqlExpr: "profileIndustryId"
        default: 0
      }
    }
  }
}
derivations: {
  seq_join_industry_names: {
    key: [x]
    join: {
      base: { key: [x], feature: MemberIndustryId }
      expansion: { key: [industryId], feature: MemberIndustryName }
    }
    aggregation: UNION
  }
}
"""

# feathr-impl/src/test/generated/config/feathr.conf
FEATHR_CONF = """
sources: {
  ptSource: { type: "PASSTHROUGH" }
}
anchors: {
  anchor1: {
    source: "anchor1-source.csv"
    key: "mId"
    features: {
      aa: "a"
      bb: { def: "b", default: 3 }
    }
  }
  anchor2: {
    source: "anchor2-source.csv"
    extractor: "com.linkedin.feathr.offline.anchored.anchorExtractor.SimpleConfigurableAnchorExtractor"
    key: "mId"
    features: [cc, dd]
  }
}
derivations: {
  multiply_a_b: "toNumeric(aa) * toNumeric(bb)"
  categorical_b: {
    key: [foo]
    inputs: { foo_b: { key: foo, feature: bb } }
    definition: "foo_b"
  }
}
"""

# feathr-impl/src/test/resources/testAnchorsAsIs/joinconfig.conf
JOINCONFIG_CONF = """
settings: {
  joinTimeSettings: {
    timestampColumn: { def: "creationTime", format: "epoch" }
  }
}
features: [
  { key: [x], featureList: ["f1", "f2", "f3", "f4"] }
  { key: [y], featureList: ["f2"] }
]
"""

# feathr-impl/src/test/resources/testAnchorsAsIs/featureGenConfig.conf
FEATURE_GEN_CONFIG_CONF = """
operational: {
  name: generateWithDefaultParams
  endTime: "2019-09-24"
  endTimeFormat: "yyyy-MM-dd"
  resolution: DAILY
  output: []
}
features: [f1]
"""

# feathr-config/src/test/resources/dir2/features-1-ei.conf and the prod
# config it includes from the classpath (resolved against the
# test-resources root)
FEATURES_1_EI_CONF = """
include classpath("dir1/features-1-prod.conf")
sources.MemberPreferenceData.d2Uri: "d2://EI_ESPRESSO_MT2"
"""
FEATURES_1_PROD_CONF = """
sources: {
  MemberPreferenceData: {
    type: ESPRESSO
    database: "CareersPreferenceDB"
    table: "MemberPreference"
    d2Uri: "d2://ESPRESSO_MT2"
    keyExpr: "key[0]"
  }
}
anchors: {
  member-preferences: {
    source: MemberPreferenceData
    key: "x"
    features: { jobPreferenceCount: "toNumeric(count)" }
  }
}
"""


# ---------------------------------------------------------------------------
# HOCON parser
# ---------------------------------------------------------------------------


def test_hocon_scalars_arrays_objects():
    doc = loads("""
        a: 1
        b: -2.5
        c: true
        d: null
        e: hello world   // trailing comment
        f: [1, 2, 3]
        g: { x: "quoted \\" escape", y: [a, b] }
        # full-line comment
        h: 2019-09-24
    """)
    assert doc["a"] == 1 and doc["b"] == -2.5 and doc["c"] is True
    assert doc["d"] is None
    assert doc["e"] == "hello world"
    assert doc["f"] == [1, 2, 3]
    assert doc["g"]["x"] == 'quoted " escape'
    assert doc["g"]["y"] == ["a", "b"]
    assert doc["h"] == "2019-09-24"  # date stays a string


def test_hocon_dotted_keys_and_merge():
    doc = loads("""
        a.b.c: 1
        a.b.d: 2
        a: { b: { e: 3 } }
    """)
    assert doc["a"]["b"] == {"c": 1, "d": 2, "e": 3}


def test_hocon_newline_separated_objects_no_commas():
    doc = loads("""
        features: [
          { key: x
            featureList: [f1, f2] }
          { key: [x, y]
            featureList: [f3] }
        ]
    """)
    assert len(doc["features"]) == 2
    assert doc["features"][1]["key"] == ["x", "y"]


def test_hocon_key_before_brace_and_unquoted_parens():
    doc = loads("anchor{ lateralViewDef: explode(features) }")
    assert doc["anchor"]["lateralViewDef"] == "explode(features)"


def test_hocon_rejects_substitutions_and_unbalanced():
    with pytest.raises(HoconParseError):
        loads("a: ${ref}")
    with pytest.raises(HoconParseError):
        loads("a: { b: 1")


def test_parse_duration():
    assert parse_duration("3d") == 3 * 86400
    assert parse_duration("12h") == 12 * 3600
    assert parse_duration("30m") == 1800
    assert parse_duration("45s") == 45
    with pytest.raises(ValueError):
        parse_duration("3 fortnights")


# ---------------------------------------------------------------------------
# loader on REAL reference configs
# ---------------------------------------------------------------------------


def test_load_reference_swa_conf():
    # feathr-compute/src/test/resources/swa.conf: time-partitioned SWA
    # source + LATEST window anchor
    m = load_feature_def(SWA_CONF)
    src = m.sources["swaSource"]
    assert src.timestamp_col == "timestamp"
    assert src.timestamp_format == "yyyy-MM-dd"
    assert src.options["time_partition_pattern"] == "yyyy/MM/dd"
    (a,) = m.anchors
    assert a.keys == ["x"]
    (f,) = a.features
    assert isinstance(f, SWAFeature)
    assert f.agg == "LATEST" and f.metric == "embedding"
    assert f.window.width == 3 * 86400


def test_load_reference_seqjoin_conf():
    # feathr-compute/src/test/resources/seqJoinFeature.conf: key.sqlExpr
    # dotted keys, def.sqlExpr features, sequential-join derivation
    m = load_feature_def(SEQ_JOIN_FEATURE_CONF)
    by_name = {a.name: a for a in m.anchors}
    assert by_name["industry-local"].keys == ["industryId"]
    assert by_name["waterloo-member-geolocation-local"].keys == ["concat('',x)"]
    (lk,) = m.lookups
    assert isinstance(lk, LookupFeature)
    assert lk.base_feature == "MemberIndustryId"
    assert lk.expansion_anchor == "industry-local"
    assert lk.expansion_feature == "MemberIndustryName"
    assert lk.aggregation == "UNION"


def test_load_reference_feathr_conf_lenient():
    # feathr-impl/src/test/generated/config/feathr.conf: passthrough
    # source, defaults, MVEL derivations, a JVM-extractor anchor
    # (skipped in lenient mode)
    m = load_feature_def(FEATHR_CONF, strict=False)
    (a1,) = [a for a in m.anchors if a.name == "anchor1"]
    feats = {f.name: f for f in a1.features}
    assert isinstance(feats["aa"], Feature) and feats["aa"].expr == "a"
    assert feats["bb"].default == 3
    d = {d.name: d for d in m.derived}
    assert d["multiply_a_b"].expr == "(CAST(aa AS DOUBLE) * CAST(bb AS DOUBLE))"
    # alias-bound derivation: foo_b -> bb substituted
    assert "bb" in d["categorical_b"].expr
    assert any("anchor2" in name for name, _ in m.skipped)
    # strict mode refuses the JVM extractor instead of silently skipping
    with pytest.raises(ValueError, match="extractor"):
        load_feature_def(FEATHR_CONF)


def test_load_reference_join_config():
    jc = load_join_config(JOINCONFIG_CONF)
    assert jc.timestamp_col == "creationTime"
    assert jc.timestamp_format == "epoch"
    assert jc.requests[0].keys == ["x"]
    assert jc.requests[0].features == ["f1", "f2", "f3", "f4"]
    # second bag re-requests f2 under key y
    assert jc.requests[1].keys == ["y"] and jc.requests[1].features == ["f2"]


def test_load_reference_swa_integ_join_config():
    # the join config string exercised by SlidingWindowAggIntegTest.scala
    jc = load_join_config("""
        settings: {
         observationDataTimeSettings: {
            absoluteTimeRange: {
                startTime: "2018-05-01"
                endTime: "2018-05-03"
                timeFormat: "yyyy-MM-dd"
            }
         }
         joinTimeSettings: {
            timestampColumn: {
              def: timestamp
              format: "yyyy-MM-dd"
            }
            simulateTimeDelay: 1d
         }
        }
        features: [
           { key: [x], featureList: ["f1", "f1Sum"] }
        ]
    """)
    assert jc.abs_time_range == ("2018-05-01", "2018-05-03", "yyyy-MM-dd")
    assert jc.simulate_time_delay == 86400
    assert jc.requests[0].features == ["f1", "f1Sum"]


def test_load_reference_gen_config():
    gc = load_gen_config(FEATURE_GEN_CONFIG_CONF)
    assert gc.name == "generateWithDefaultParams"
    assert gc.resolution == "DAILY"
    assert gc.features == ["f1"]
    # 2019-09-24 UTC midnight
    assert gc.end_time_epoch == 1569283200.0


# ---------------------------------------------------------------------------
# config-driven execution
# ---------------------------------------------------------------------------


_FDEF = """
sources: {
  evSource: {
    location: { path: "events" }
    timeWindowParameters: { timestampColumn: "ts", timestampColumnFormat: "timestamp" }
  }
}
anchors: {
  swaAnchor: {
    source: "evSource"
    key: "user_id"
    features: {
      v_sum_1h: { def: "value", aggregation: SUM, window: 1h }
      v_cnt_1h: { def: "value", aggregation: COUNT, window: 1h }
    }
  }
}
derivations: {
  v_avg_1h: "toNumeric(v_sum_1h) / toNumeric(v_cnt_1h)"
}
"""


def test_run_join_config_matches_python_api(spark, sf_dir):
    """The HOCON route must produce byte-identical features to the
    direct Python-API route."""
    from feathr_spark import SWAFeature, WindowSpec, join_window_agg_features

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    obs = ev.select("event_id", "user_id", "ts")

    fdef = load_feature_def(_FDEF)
    jc = load_join_config("""
        settings: { joinTimeSettings: { timestampColumn: { def: ts, format: timestamp } } }
        features: [ { key: user_id, featureList: [v_sum_1h, v_cnt_1h, v_avg_1h] } ]
    """)
    got = run_join_config(spark, obs, fdef, jc, source_cache={"events": ev})

    want = join_window_agg_features(
        obs, ev, ["user_id"], ["user_id"], "ts", "ts",
        [SWAFeature("v_sum_1h", "SUM", "value", WindowSpec(3600)),
         SWAFeature("v_cnt_1h", "COUNT", "value", WindowSpec(3600))],
        obs_ts_format="timestamp", fact_ts_format="timestamp",
    ).withColumn("v_avg_1h",
                 F.col("v_sum_1h").cast("double") / F.col("v_cnt_1h").cast("double"))

    cols = ["event_id", "v_sum_1h", "v_cnt_1h", "v_avg_1h"]
    diff = got.select(cols).exceptAll(want.select(cols))
    assert diff.count() == 0
    assert got.count() == obs.count()


def test_run_join_config_key_tags_two_groups(spark, sf_dir):
    """Same feature under two key tags (the reference's f2-under-x-and-y
    case): the second group's output is renamed, and each group joins on
    its own observation key."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # synthetic second key: shift user ids so the two groups differ
    obs = ev.select("event_id", "user_id", "ts",
                    ((F.col("user_id") + 1) % 20).alias("alt_id"))
    fdef = load_feature_def(_FDEF)
    jc = load_join_config("""
        settings: { joinTimeSettings: { timestampColumn: { def: ts, format: timestamp } } }
        features: [
          { key: user_id, featureList: [v_cnt_1h] }
          { key: alt_id,  featureList: [v_cnt_1h] }
        ]
    """)
    out = run_join_config(spark, obs, fdef, jc, source_cache={"events": ev})
    assert "v_cnt_1h" in out.columns and "v_cnt_1h__alt_id" in out.columns
    # group 2 must genuinely join on alt_id: spot-check one row against a
    # direct window count on the shifted key
    row = out.where("event_id = 0").first()
    t0, alt0 = obs.where("event_id = 0").select("ts", "alt_id").first()
    expect = ev.where(
        (F.col("user_id") == alt0)
        & (F.col("ts") > F.lit(t0) - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts") <= F.lit(t0))).count()
    # empty window -> NULL (engine COUNT semantics match the reference:
    # missing feature is null unless a default is declared)
    assert (row["v_cnt_1h__alt_id"] or 0) == expect


def test_run_join_config_abs_time_range(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    obs = ev.select("event_id", "user_id", "ts")
    fdef = load_feature_def(_FDEF)
    jc = load_join_config("""
        settings: {
          observationDataTimeSettings: {
            absoluteTimeRange: {
              startTime: "2024-01-02", endTime: "2024-01-03",
              timeFormat: "yyyy-MM-dd"
            }
          }
          joinTimeSettings: { timestampColumn: { def: ts, format: timestamp } }
        }
        features: [ { key: user_id, featureList: [v_cnt_1h] } ]
    """)
    out = run_join_config(spark, obs, fdef, jc, source_cache={"events": ev})
    expect = ev.where("ts >= '2024-01-02' AND ts < '2024-01-04'").count()
    assert out.count() == expect


def test_run_join_config_seqjoin_from_config(spark):
    """Sequential-join derivation loaded from config executes through
    lookup_join."""
    fdef = load_feature_def("""
        anchors: {
          memberAnchor: {
            source: "member"
            key.sqlExpr: m_id
            features: { industryId.def.sqlExpr: ind_id }
          }
          industryAnchor: {
            source: "industry"
            key.sqlExpr: i_id
            features: { industryName.def.sqlExpr: i_name }
          }
        }
        derivations: {
          member_industry: {
            key: "x"
            join: {
              base: { key: x, feature: industryId }
              expansion: { key: i_id, feature: industryName }
            }
            aggregation: "UNION"
          }
        }
    """)
    jc = load_join_config("""
        features: [ { key: m, featureList: [member_industry] } ]
    """)
    member = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99)], "m_id int, ind_id int")
    industry = spark.createDataFrame(
        [(10, "tech"), (20, "law")], "i_id int, i_name string")
    obs = spark.createDataFrame([(1,), (2,), (3,)], "m int")
    out = run_join_config(spark, obs, fdef, jc,
                          source_cache={"member": member, "industry": industry})
    got = {r["m"]: r["member_industry"] for r in out.collect()}
    assert got[1] == ["tech"] and got[2] == ["law"]
    assert got[3] in (None, [])



# ---------------------------------------------------------------------------
# one resolver behind both front ends
# ---------------------------------------------------------------------------


_FRONT_FDEF = """
sources: {
  evSource: {
    location: { path: "events" }
    timeWindowParameters: { timestampColumn: "ts", timestampColumnFormat: "timestamp" }
  }
}
anchors: {
  swaAnchor: {
    source: "evSource"
    key: "user_id"
    features: {
      v_sum_1h: { def: "value", aggregation: SUM, window: 1h }
      v_cnt_1h: { def: "value", aggregation: COUNT, window: 1h }
    }
  }
  memberAnchor: {
    source: "member"
    key.sqlExpr: m_id
    features: { industryId.def.sqlExpr: ind_id }
  }
  industryAnchor: {
    source: "industry"
    key.sqlExpr: i_id
    features: {
      industryName.def.sqlExpr: i_name
      industrySize.def.sqlExpr: i_size
    }
  }
}
derivations: {
  v_rate: { sqlExpr: "v_sum_1h / v_cnt_1h" }
  v_rate_g: { sqlExpr: "v_sum_1h / greatest(v_cnt_1h, 1)" }
  v_avg_1h: "toNumeric(v_sum_1h) / toNumeric(v_cnt_1h)"
  member_industry: {
    key: "x"
    join: {
      base: { key: x, feature: industryId }
      expansion: { key: i_id, feature: industryName }
    }
    aggregation: "UNION"
  }
}
"""

# case -> [(observation keys, feature list)], one entry per request
_FRONT_CASES = {
    "derived_only": [(["user_id"], ["v_rate"])],
    "mvel_and_sql_function_derived_only": [(["user_id"], ["v_avg_1h", "v_rate_g"])],
    "same_feature_two_key_tags": [(["user_id"], ["v_cnt_1h"]),
                                  (["alt_id"], ["v_cnt_1h"])],
    "lookup_and_expansion_feature": [(["user_id"],
                                      ["member_industry", "industryName"])],
    "lookup_and_other_expansion_anchor_feature": [(["user_id"],
                                                   ["member_industry", "industrySize"])],
    "derived_two_key_tags": [(["user_id"], ["v_rate"]), (["alt_id"], ["v_rate"])],
}


def _front_end(front, spark, obs, requests, cache):
    """Run ``requests`` over _FRONT_FDEF through the client or a HOCON
    join config."""
    from feathr_spark import FeathrClient, FeatureQuery, ObservationSettings

    fdef = load_feature_def(_FRONT_FDEF)
    if front == "hocon":
        groups = "\n".join(
            f"{{ key: [{', '.join(k)}], featureList: [{', '.join(f)}] }}"
            for k, f in requests)
        jc = load_join_config(
            "settings: { joinTimeSettings: { timestampColumn: "
            "{ def: ts, format: timestamp } } }\n"
            f"features: [\n{groups}\n]")
        return run_join_config(spark, obs, fdef, jc, source_cache=cache)
    client = FeathrClient(spark)
    client.build_features(anchor_list=fdef.anchors,
                          derived_feature_list=fdef.derived + fdef.lookups)
    return client.get_offline_features(
        obs, [FeatureQuery(f, key=k) for k, f in requests],
        ObservationSettings(keys=requests[0][0], timestamp_col="ts",
                            timestamp_format="timestamp"),
        source_cache=cache)


def test_derivation_inputs_are_the_features_their_sql_names():
    """Every derivation form records as inputs exactly the identifiers of
    its SQL that name features of the definition: no SQL functions, and
    none missing for a bare MVEL string."""
    inputs = {d.name: d.inputs for d in load_feature_def(_FRONT_FDEF).derived}
    assert inputs == {"v_rate": ("v_sum_1h", "v_cnt_1h"),
                      "v_rate_g": ("v_sum_1h", "v_cnt_1h"),
                      "v_avg_1h": ("v_sum_1h", "v_cnt_1h")}


@pytest.mark.parametrize("case", list(_FRONT_CASES))
@pytest.mark.parametrize("front", ["client", "hocon"])
def test_front_ends_resolve_requests_alike(spark, sf_dir, front, case):
    """The client and a HOCON join config answer the same request over
    the same feature definition with the same columns and values."""
    from feathr_spark import SWAFeature, WindowSpec, join_window_agg_features

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    obs = ev.select("event_id", "user_id", "ts",
                    ((F.col("user_id") + 1) % 20).alias("alt_id"))
    names, sizes = {0: "tech", 1: "law"}, {0: 7, 1: 3}
    cache = {
        "events": ev,
        "member": spark.createDataFrame(
            [(u, u % 3) for u in range(50)], "m_id long, ind_id long"),
        "industry": spark.createDataFrame(
            [(i, names[i], sizes[i]) for i in names],
            "i_id long, i_name string, i_size long"),
    }
    requests = _FRONT_CASES[case]
    if case == "derived_two_key_tags":
        with pytest.raises(ValueError, match="two key bindings"):
            _front_end(front, spark, obs, requests, cache)
        return
    got = _front_end(front, spark, obs, requests, cache)

    if case.startswith("lookup"):
        other = requests[0][1][1]
        values = names if other == "industryName" else sizes
        assert got.columns == obs.columns + ["member_industry", other]
        rows = got.collect()
        assert len(rows) == obs.count()
        for r in rows:
            ind = names.get(r["user_id"] % 3) if r["user_id"] < 50 else None
            assert (r["member_industry"] or []) == ([ind] if ind else [])
            assert r[other] == values.get(r["user_id"])
        assert any(r["member_industry"] for r in rows)
        return

    def swa(key):
        return join_window_agg_features(
            obs, ev, [key], ["user_id"], "ts", "ts",
            [SWAFeature("v_sum_1h", "SUM", "value", WindowSpec(3600)),
             SWAFeature("v_cnt_1h", "COUNT", "value", WindowSpec(3600))],
            obs_ts_format="timestamp", fact_ts_format="timestamp")

    if case == "same_feature_two_key_tags":
        cols = ["v_cnt_1h", "v_cnt_1h__alt_id"]
        want = swa("user_id").join(
            swa("alt_id").select(
                "event_id", F.col("v_cnt_1h").alias("v_cnt_1h__alt_id")),
            "event_id")
    else:
        cols = [f for _, fs in requests for f in fs]
        want = swa("user_id").withColumns({
            "v_rate": F.expr("v_sum_1h / v_cnt_1h"),
            "v_rate_g": F.expr("v_sum_1h / greatest(v_cnt_1h, 1)"),
            "v_avg_1h": F.expr("double(v_sum_1h) / double(v_cnt_1h)")})
    assert got.columns == obs.columns + cols
    want = want.select(got.columns)
    assert got.count() == want.count() == obs.count()
    assert got.exceptAll(want).isEmpty()
    assert got.where(F.col(cols[-1]).isNotNull()).count() > 0

def test_gen_config_to_generation(spark, sf_dir):
    """A reference-style generation config drives generate_features."""
    from feathr_spark.materialize import generate_features

    fdef = load_feature_def(_FDEF.replace("window: 1h", "window: 3d")
                            .replace("_1h", "_3d"))
    gc = load_gen_config("""
        operational: {
          name: genDaily
          endTime: 2024-01-15
          endTimeFormat: "yyyy-MM-dd"
          resolution: DAILY
          output: []
        }
        features: [v_sum_3d, v_cnt_3d]
    """)
    spec, anchor = gen_spec_from_feature_def(fdef, gc.features)
    assert anchor.name == "swaAnchor"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = generate_features(ev, spec, gc.end_time_epoch)
    assert set(out.columns) == {"user_id", "v_sum_3d", "v_cnt_3d"}
    # cross-check one entity against a direct filter+agg
    row = out.orderBy("user_id").first()
    direct = ev.where(
        (F.col("user_id") == row["user_id"])
        & (F.unix_timestamp("ts") > gc.end_time_epoch - 3 * 86400)
        & (F.unix_timestamp("ts") <= gc.end_time_epoch)
    ).agg(F.sum("value"), F.count("value")).first()
    assert abs((row["v_sum_3d"] or 0) - (direct[0] or 0)) < 1e-6
    assert row["v_cnt_3d"] == direct[1]


def test_gen_derived_stage(spark, sf_dir):
    """derived features evaluate post-aggregation inside generation, in
    dependency order."""
    from feathr_spark.definitions import DerivedFeature, SWAFeature, WindowSpec
    from feathr_spark.materialize import GenSpec, generate_features

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    spec = GenSpec(
        keys=["user_id"], key_names=["user_id"], ts_col="ts",
        ts_format="timestamp",
        features=[SWAFeature("s", "SUM", "value", WindowSpec(86400 * 3)),
                  SWAFeature("c", "COUNT", "value", WindowSpec(86400 * 3))],
        derived=(DerivedFeature("r2", "r * 2", inputs=("r",)),
                 DerivedFeature("r", "s / c", inputs=("s", "c"))),
    )
    out = generate_features(ev, spec, 1_705_276_800)
    r = out.where("c > 0").first()
    assert abs(r["r"] - r["s"] / r["c"]) < 1e-9
    assert abs(r["r2"] - 2 * r["r"]) < 1e-9


# ---------------------------------------------------------------------------
# include directives + full-reference conformance sweep
# ---------------------------------------------------------------------------


def test_hocon_include_optional_and_required(tmp_path):
    from feathr_spark.config.hocon import load_file

    (tmp_path / "base.conf").write_text("a: 1\nsources: { s: { type: HDFS } }")
    (tmp_path / "main.conf").write_text(
        'include "base.conf"\ninclude "missing.conf"\na: 2\n')
    d = load_file(str(tmp_path / "main.conf"))
    assert d == {"a": 2, "sources": {"s": {"type": "HDFS"}}}  # later key wins
    (tmp_path / "req.conf").write_text('include required(file("missing.conf"))')
    with pytest.raises(HoconParseError, match="required include"):
        load_file(str(tmp_path / "req.conf"))
    # `include` as an ordinary key is untouched
    assert loads("include: 3") == {"include": 3}


def test_hocon_include_reference_classpath_fixture(tmp_path):
    """feathr-config's EI override fixture: `include classpath(...)` of the
    prod config, then path-expression overrides on top."""
    from feathr_spark.config.hocon import load_file

    resources = tmp_path / "resources"
    for rel, text in (("dir1/features-1-prod.conf", FEATURES_1_PROD_CONF),
                      ("dir2/features-1-ei.conf", FEATURES_1_EI_CONF)):
        (resources / rel).parent.mkdir(parents=True, exist_ok=True)
        (resources / rel).write_text(text)
    p = str(resources / "dir2" / "features-1-ei.conf")
    d = load_file(p, classpath_roots=(str(resources),))
    # keys from the included prod config ...
    assert "anchors" in d and "MemberPreferenceData" in d["sources"]
    # ... with the EI override applied over them
    assert d["sources"]["MemberPreferenceData"]["d2Uri"] == "d2://EI_ESPRESSO_MT2"


def test_reference_conf_conformance_sweep():
    """Every HOCON fixture in the reference tree must parse, and every one
    classifiable as featureDef / join / gen must load into the engine
    model. Documented exclusions: deploy/nginx.conf is nginx syntax (not
    HOCON at all); testAnchorsAsIs/localframe.conf is malformed (21 '{'
    vs 20 '}' — typesafe-config rejects it too)."""
    import glob

    from feathr_spark.config.hocon import load_file

    files = sorted(glob.glob(os.path.join(REF, "**/*.conf"), recursive=True))
    if not files:
        pytest.skip("reference tree missing")
    excluded = ("deploy/nginx.conf", "testAnchorsAsIs/localframe.conf")
    roots = tuple(os.path.join(REF, r) for r in (
        "feathr-config/src/test/resources",
        "feathr-compute/src/test/resources",
        "feathr-impl/src/test/resources"))
    parsed, loaded, failures = 0, 0, []
    for f in files:
        if any(f.endswith(e) for e in excluded):
            continue
        try:
            d = load_file(f, classpath_roots=roots)
            parsed += 1
        except Exception as e:  # noqa: BLE001 - collected for the report
            failures.append((f, repr(e)[:120]))
            continue
        if not isinstance(d, dict):
            continue
        text = open(f, encoding="utf-8", errors="replace").read()
        try:
            if "anchors" in d or "sources" in d or "derivations" in d:
                load_feature_def(text, strict=False)
                loaded += 1
            elif "operational" in d:
                load_gen_config(text)
                loaded += 1
            elif "features" in d or "featureList" in d:
                load_join_config(text)
                loaded += 1
        except Exception as e:  # noqa: BLE001
            failures.append((f, repr(e)[:120]))
    assert not failures, failures
    assert parsed >= 45  # 47 fixtures - 2 documented exclusions
    assert loaded >= 38  # featureDef + join + gen classifiable fixtures
