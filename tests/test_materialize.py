"""Materialization: generation aggregates, backfill partitions, lineage
manifests, resume-after-kill, and incremental snapshot ⊕ delta parity.

Oracle strategy: generation is compared against a brute-force pandas
recompute of each window; incremental snapshots are compared against a
full recompute at the new cutoff (must be allclose-identical)."""

from __future__ import annotations

import json
import math
import os

import pytest

from feathr_spark.definitions import SWAFeature, WindowSpec
from feathr_spark.materialize import (
    BackfillTime,
    GenSpec,
    generate_features,
    incremental_snapshot,
    is_committed,
    load_materialized,
    materialize,
    order_independent_checksum,
    read_manifest,
)

T0 = 1_700_000_000


@pytest.fixture(scope="module")
def fact(spark):
    rows = []
    # user u1: hourly values 1..48 over 2 days; u2 sparse; u3 nulls
    for h in range(48):
        rows.append(("u1", T0 + h * 3600, float(h + 1), "click" if h % 2 == 0 else "view"))
    rows.append(("u2", T0 + 10 * 3600, 100.0, "click"))
    rows.append(("u2", T0 + 30 * 3600, 50.0, "view"))
    rows.append(("u3", T0 + 20 * 3600, None, "click"))
    df = spark.createDataFrame(rows, "uid string, ts long, v double, et string")
    return df.cache()


SPEC = GenSpec(
    keys=["uid"], key_names=["uid"], ts_col="ts",
    features=[
        SWAFeature("v_sum_1d", "SUM", "v", WindowSpec(86400)),
        SWAFeature("v_cnt_1d", "COUNT", "v", WindowSpec(86400)),
        SWAFeature("v_avg_1d", "AVG", "v", WindowSpec(86400)),
        SWAFeature("v_max_1d", "MAX", "v", WindowSpec(86400)),
        SWAFeature("v_latest_1d", "LATEST", "v", WindowSpec(86400)),
        SWAFeature("click_cnt_1d", "COUNT", "v", WindowSpec(86400), filter="et = 'click'"),
    ],
)


def _expected(fact_rows, cutoff, width=86400.0, delay=0.0, filt=None):
    lo, hi = cutoff - width - delay, cutoff - delay
    out = {}
    for uid, ts, v, et in fact_rows:
        if not (lo < ts <= hi):
            continue
        if filt and et != filt:
            continue
        out.setdefault(uid, []).append((ts, v))
    return out


def test_generate_matches_bruteforce(spark, fact):
    cutoff = T0 + 36 * 3600
    got = {r["uid"]: r for r in generate_features(fact, SPEC, cutoff).collect()}
    rows = [(r["uid"], r["ts"], r["v"], r["et"]) for r in fact.collect()]
    win = _expected(rows, cutoff)
    clicks = _expected(rows, cutoff, filt="click")
    for uid, events in win.items():
        vals = [v for _, v in events if v is not None]
        r = got[uid]
        if vals:
            assert math.isclose(r["v_sum_1d"], sum(vals), rel_tol=1e-9)
            assert r["v_cnt_1d"] == len(vals)
            assert math.isclose(r["v_avg_1d"], sum(vals) / len(vals), rel_tol=1e-9)
            assert math.isclose(r["v_max_1d"], max(vals), rel_tol=1e-9)
            latest = max((e for e in events if e[1] is not None), key=lambda e: e[0])[1]
            assert math.isclose(r["v_latest_1d"], latest, rel_tol=1e-9)
        n_click = len([v for _, v in clicks.get(uid, []) if v is not None])
        assert (r["click_cnt_1d"] or 0) == n_click
    # u3 only has a null metric -> sum null, count 0
    assert got["u3"]["v_sum_1d"] is None
    assert got["u3"]["v_cnt_1d"] == 0


def test_window_is_left_exclusive_right_inclusive(spark, fact):
    # cutoff exactly on an event: that event IS included; the event
    # exactly width earlier is NOT (left-exclusive)
    cutoff = T0 + 24 * 3600  # event value 25 at exactly cutoff
    spec = GenSpec(keys=["uid"], key_names=["uid"], ts_col="ts",
                   features=[SWAFeature("s", "SUM", "v", WindowSpec(86400))])
    got = {r["uid"]: r["s"] for r in generate_features(fact, spec, cutoff).collect()}
    # window (T0, T0+24h]: values 2..25 (value 1 at T0 excluded)
    assert got["u1"] == sum(range(2, 26))


def test_materialize_backfill_resume(spark, fact, tmp_path):
    sink = str(tmp_path / "feat")
    bf = BackfillTime(T0 + 86400, T0 + 86400 + 3 * 21600, 21600)  # 4 cutoffs, 6h step
    rpt = materialize(fact, SPEC, sink, bf, inputs=["memory://fact"])
    assert len(rpt["written"]) == 4 and not rpt["skipped"]

    # every partition committed with a manifest carrying lineage
    for c in bf.cutoffs():
        part = os.path.join(sink, f"cutoff={c}")
        assert is_committed(part)
        m = read_manifest(part)
        assert m["inputs"] == ["memory://fact"]
        assert m["rows"] > 0 and m["checksum"] is not None
        assert set(m["features"]) == {f.name for f in SPEC.features}

    # simulate a kill: delete one partition's manifest + data
    victim = os.path.join(sink, f"cutoff={bf.cutoffs()[2]}")
    mpath = os.path.join(victim, "_manifest.json")
    before = {c: read_manifest(os.path.join(sink, f"cutoff={c}"))["checksum"]
              for c in bf.cutoffs()}
    os.remove(mpath)

    rpt2 = materialize(fact, SPEC, sink, bf, inputs=["memory://fact"])
    assert rpt2["written"] == [bf.cutoffs()[2]]
    assert sorted(rpt2["skipped"]) == sorted(set(bf.cutoffs()) - {bf.cutoffs()[2]})
    # recomputed partition is value-identical (deterministic generation)
    after = {c: read_manifest(os.path.join(sink, f"cutoff={c}"))["checksum"]
             for c in bf.cutoffs()}
    assert before == after

    # reader sees all partitions, with the cutoff partition column
    df = load_materialized(spark, sink)
    assert df.count() == sum(read_manifest(os.path.join(sink, f"cutoff={c}"))["rows"]
                             for c in bf.cutoffs())
    assert "cutoff" in df.columns


def test_uncommitted_partition_invisible(spark, fact, tmp_path):
    sink = str(tmp_path / "feat2")
    bf = BackfillTime(T0 + 86400, T0 + 86400 + 21600, 21600)
    materialize(fact, SPEC, sink, bf)
    # torn write: data present, no manifest
    torn = os.path.join(sink, f"cutoff={T0 + 999999}")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as fh:
        fh.write(b"garbage")
    df = load_materialized(spark, sink)
    assert set(r["cutoff"] for r in df.select("cutoff").distinct().collect()) == \
        set(bf.cutoffs())


def test_incremental_equals_full_recompute(spark, fact):
    prev_cutoff = T0 + 30 * 3600
    new_cutoff = T0 + 40 * 3600
    prev = generate_features(fact, SPEC, prev_cutoff)
    inc = incremental_snapshot(fact, SPEC, prev, prev_cutoff, new_cutoff)
    full = generate_features(fact, SPEC, new_cutoff)

    inc_rows = {r["uid"]: r for r in inc.collect()}
    full_rows = {r["uid"]: r for r in full.collect()}
    # incremental keeps entities whose windows emptied; full drops rows
    # that no longer have any fact row — compare on full's row set, and
    # require emptied entities to be all-null/zero in incremental
    for uid, fr in full_rows.items():
        ir = inc_rows[uid]
        for f in SPEC.features:
            a, b = ir[f.name], fr[f.name]
            if a is None or b is None:
                assert (a in (None, 0)) == (b in (None, 0)), (uid, f.name, a, b)
            else:
                assert math.isclose(float(a), float(b), rel_tol=1e-9), (uid, f.name, a, b)
    for uid, ir in inc_rows.items():
        if uid not in full_rows:
            assert (ir["v_cnt_1d"] or 0) == 0


def test_incremental_avg_requires_count_pair(spark, fact):
    spec = GenSpec(keys=["uid"], key_names=["uid"], ts_col="ts",
                   features=[SWAFeature("a", "AVG", "v", WindowSpec(86400))])
    prev = generate_features(fact, spec, T0 + 30 * 3600)
    with pytest.raises(ValueError, match="COUNT feature"):
        incremental_snapshot(fact, spec, prev, T0 + 30 * 3600, T0 + 40 * 3600)


def test_checksum_order_independent(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "i int, s string")
    b = spark.createDataFrame([(3, "z"), (1, "x"), (2, "y")], "i int, s string") \
        .repartition(3)
    assert order_independent_checksum(a) == order_independent_checksum(b)
    c = spark.createDataFrame([(1, "x"), (2, "y"), (3, "w")], "i int, s string")
    assert order_independent_checksum(a) != order_independent_checksum(c)


def test_run_metrics_published(spark, fact, tmp_path):
    """North rule: a run publishes its metrics next to the sink (atomic,
    underscore-prefixed, readable back through the Hadoop FS layer)."""
    from feathr_spark.materialize import read_run_metrics

    sink = str(tmp_path / "gen_metrics")
    report = materialize(fact, SPEC, sink,
                         BackfillTime(T0 + 3600, T0 + 7200, 3600))
    m = read_run_metrics(sink)
    assert m is not None and m["mode"] == "materialize"
    assert m["metrics"] == report["metrics"]
    # data readers must not trip over it
    assert spark.read.parquet(sink).count() > 0


def test_run_metrics_report_codegen(spark, fact, tmp_path):
    """materialize and write_shards report the driver's generated-code
    compiles over the call, in the returned and the published report."""
    from feathr_spark.materialize import read_run_metrics
    from feathr_spark.sources.shards import write_shards

    runs = {"gen": materialize(fact, SPEC, str(tmp_path / "gen"),
                               BackfillTime(T0 + 3600, T0 + 7200, 3600)),
            "shards": write_shards(fact, str(tmp_path / "shards"), n_shards=2,
                                   key_col="uid")}
    for name, report in runs.items():
        cg = read_run_metrics(str(tmp_path / name))["codegen"]
        assert cg == report["codegen"]
        assert set(cg) == {"compiles", "compile_s"}
        assert cg["compiles"] >= 0 and cg["compile_s"] >= 0


def test_multi_chunk_backfill_matches_per_cutoff_generation(spark, tmp_path):
    """20 daily cutoffs over a 2-day reach run as chunks of 3 cutoffs,
    one write job each; every manifest equals a per-cutoff
    ``generate_features`` (cutoffs past the data write empty, readable
    partitions), and a lost manifest regenerates only its cutoff."""
    day = 86400
    rows = [(f"u{i % 3}", T0 + h * 6 * 3600 + i, float(h * i % 7) if h % 5 else None)
            for h in range(40) for i in range(3)]
    fact = spark.createDataFrame(rows, "uid string, ts long, v double")
    spec = GenSpec(keys=["uid"], key_names=["uid"], ts_col="ts", features=[
        SWAFeature("v_sum_2d", "SUM", "v", WindowSpec(2 * day)),
        SWAFeature("v_cnt_1d", "COUNT", "v", WindowSpec(day, delay=3600)),
        SWAFeature("v_latest_1d", "LATEST", "v", WindowSpec(day)),
        SWAFeature("v_since_2d", "TIMESINCE", "v", WindowSpec(2 * day)),
    ])
    bf = BackfillTime(T0 + day, T0 + 20 * day, day)
    sink = str(tmp_path / "chunks")
    rpt = materialize(fact, spec, sink, bf)
    assert rpt["chunks"] == [bf.cutoffs()[i:i + 3] for i in range(0, 20, 3)]
    assert rpt["metrics"]["write_jobs"] == 7
    from feathr_spark.materialize import read_run_metrics
    assert read_run_metrics(sink)["chunks"] == rpt["chunks"]

    def manifest(c):
        return read_manifest(os.path.join(sink, f"cutoff={c}"))

    for c in bf.cutoffs():
        one = generate_features(fact, spec, c)
        m = manifest(c)
        assert (m["rows"], m["checksum"]) == (one.count(), order_independent_checksum(one)), c
        assert spark.read.parquet(os.path.join(sink, f"cutoff={c}")).columns == one.columns
    assert manifest(bf.cutoffs()[-1])["rows"] == 0

    before = {c: manifest(c) for c in bf.cutoffs()}
    victim = bf.cutoffs()[7]
    os.remove(os.path.join(sink, f"cutoff={victim}", "_manifest.json"))
    again = materialize(fact, spec, sink, bf)
    assert again["written"] == [victim] and again["chunks"] == [[victim]]
    after = {c: manifest(c) for c in bf.cutoffs()}
    for c in bf.cutoffs():
        same = ("rows", "checksum") if c == victim else tuple(before[c])
        assert {k: after[c][k] for k in same} == {k: before[c][k] for k in same}, c
    loaded = load_materialized(spark, sink)
    assert order_independent_checksum(loaded.drop("cutoff")) == \
        sum(m["checksum"] for m in after.values()) % (1 << 64)
