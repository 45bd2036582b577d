"""Registry HTTP service (feathr_spark/registry_service.py) — the
reference registry API surface (registry/sql-registry/main.py) over the
client's JSON project documents, exercised through real HTTP."""
from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import urllib.request
from urllib.error import HTTPError

import pytest

from feathr_spark.client import FeathrClient
from feathr_spark.definitions import (Anchor, DerivedFeature, Feature,
                                      LookupFeature, Source, SWAFeature,
                                      WindowSpec)
from feathr_spark.registry_service import serve_registry


@pytest.fixture(scope="module")
def service(spark, sf_dir, tmp_path_factory):
    reg = str(tmp_path_factory.mktemp("registry"))
    c = FeathrClient(spark, registry_dir=reg)
    src = Source(path=f"{sf_dir}/events.parquet", timestamp_col="ts",
                 timestamp_format="timestamp")
    anchor = Anchor(
        "events_anchor", src, keys=["user_id"],
        features=[SWAFeature("v_sum_1h", "SUM", "value", WindowSpec(3600)),
                  SWAFeature("n_1d", "COUNT", "value", WindowSpec(86400))])
    c.build_features(
        anchor_list=[anchor],
        derived_feature_list=[
            DerivedFeature("v_avg_like", "v_sum_1h / greatest(n_1d, 1)",
                           inputs=("v_sum_1h", "n_1d"))])
    c.register_features("proj_http")
    srv = serve_registry(reg, port=0)
    host, port = srv.server_address
    yield f"http://{host}:{port}", reg
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def test_projects_and_graph(service):
    base, _ = service
    assert _get(f"{base}/projects") == ["proj_http"]
    g = _get(f"{base}/projects/proj_http")
    types = {n["type"] for n in g["nodes"]}
    assert {"project", "source", "anchor", "anchor_feature",
            "derived_feature"} <= types
    etypes = {e["type"] for e in g["edges"]}
    assert {"Contains", "Consumes", "Produces"} <= etypes


def test_features_search_paging_and_detail(service):
    base, _ = service
    names = [f["name"] for f in _get(f"{base}/projects/proj_http/features")]
    assert sorted(names) == ["n_1d", "v_avg_like", "v_sum_1h"]
    hits = _get(f"{base}/projects/proj_http/features?keyword=avg")
    assert [f["name"] for f in hits] == ["v_avg_like"]
    page1 = _get(f"{base}/projects/proj_http/features?page=1&limit=2")
    page2 = _get(f"{base}/projects/proj_http/features?page=2&limit=2")
    assert len(page1) == 2 and len(page2) == 1
    f = _get(f"{base}/features/proj_http/v_sum_1h")
    assert f["project"] == "proj_http" and f["agg"] == "SUM"
    lin = _get(f"{base}/features/v_avg_like/lineage")
    ids = {n["id"] for n in lin["nodes"]}
    assert any("v_sum_1h" in i for i in ids)


def test_datasources_and_errors(service):
    base, _ = service
    ds = _get(f"{base}/projects/proj_http/datasources")
    assert len(ds) == 1 and ds[0]["type"] == "source"
    with pytest.raises(HTTPError) as e:
        _get(f"{base}/projects/nope")
    assert e.value.code == 404
    with pytest.raises(HTTPError) as e:
        _get(f"{base}/features/ghost_feature")
    assert e.value.code == 404


def test_post_project_roundtrip(service):
    base, reg = service
    doc = _get(f"{base}/projects/proj_http")  # graph, not the raw doc
    raw = json.load(open(f"{reg}/proj_http.json"))
    raw["project"] = "proj_copy"
    req = urllib.request.Request(
        f"{base}/projects", data=json.dumps(raw).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req, timeout=10) as r:
        assert json.loads(r.read())["guid"] == "proj_copy"
    assert _get(f"{base}/projects") == ["proj_copy", "proj_http"]
    assert [f["name"] for f in
            _get(f"{base}/projects/proj_copy/features?keyword=sum")] == \
        ["v_sum_1h"]
    assert doc["project"] == "proj_http"


def test_dependents_and_delete(service):
    base, reg = service
    # v_avg_like consumes v_sum_1h -> it is a dependent
    deps = _get(f"{base}/dependent/proj_http/v_sum_1h")
    assert [d["name"] for d in deps] == ["v_avg_like"]
    assert _get(f"{base}/dependent/proj_http/v_avg_like") == []

    # deleting a feature with dependents -> 412 (reference main.py:100)
    req = urllib.request.Request(f"{base}/entity/proj_http/v_sum_1h",
                                 method="DELETE")
    with pytest.raises(HTTPError) as e:
        urllib.request.urlopen(req, timeout=10)
    assert e.value.code == 412

    # leaf deletion works and the feature disappears
    req = urllib.request.Request(f"{base}/entity/proj_http/v_avg_like",
                                 method="DELETE")
    with urllib.request.urlopen(req, timeout=10) as r:
        assert json.loads(r.read())["deleted"] == "v_avg_like"
    names = [f["name"] for f in _get(f"{base}/projects/proj_http/features")]
    assert "v_avg_like" not in names
    # now the base feature is deletable
    req = urllib.request.Request(f"{base}/entity/proj_http/v_sum_1h",
                                 method="DELETE")
    with urllib.request.urlopen(req, timeout=10) as r:
        assert json.loads(r.read())["deleted"] == "v_sum_1h"


def _delete(url):
    req = urllib.request.Request(url, method="DELETE")
    with urllib.request.urlopen(req, timeout=30) as r:
        return json.loads(r.read())


def _lookup_project(spark, sf_dir, reg):
    """proj_lk: a lookup built on an anchor feature (base) and on a
    feature of a second anchor (expansion), plus a derived leaf."""
    src = Source(path=f"{sf_dir}/events.parquet", timestamp_col="ts",
                 timestamp_format="timestamp")
    users = Anchor("user_anchor", src, keys=["user_id"], features=[
        SWAFeature("base", "LATEST", "item_id", WindowSpec(86400)),
        SWAFeature("leaf1", "SUM", "value", WindowSpec(3600))])
    items = Anchor("item_anchor", src, keys=["item_id"], features=[
        Feature("weight", "value")])
    c = FeathrClient(spark, registry_dir=reg)
    c.build_features(anchor_list=[users, items], derived_feature_list=[
        LookupFeature("lk", "base", "item_anchor", "weight",
                      aggregation="SUM"),
        DerivedFeature("leaf2", "leaf1 * 2", inputs=("leaf1",))])
    c.register_features("proj_lk")
    return c


@pytest.fixture()
def lookup_service(spark, sf_dir, tmp_path):
    reg = str(tmp_path / "registry")
    _lookup_project(spark, sf_dir, reg)
    srv = serve_registry(reg, port=0)
    host, port = srv.server_address
    yield f"http://{host}:{port}", srv
    srv.shutdown()


def test_lookup_inputs_block_delete(lookup_service):
    """A lookup consumes its base AND its expansion feature: both list
    it as a dependent and both refuse deletion with 412."""
    base, _ = lookup_service
    for name in ("base", "weight"):
        deps = _get(f"{base}/dependent/proj_lk/{name}")
        assert [d["name"] for d in deps] == ["lk"]
        assert deps[0]["project"] == "proj_lk"
        with pytest.raises(HTTPError) as e:
            _delete(f"{base}/entity/proj_lk/{name}")
        assert e.value.code == 412
    names = [f["name"] for f in _get(f"{base}/projects/proj_lk/features")]
    assert {"base", "weight", "lk"} <= set(names)
    # the lookup itself is a leaf; once it is gone its inputs are free
    assert _delete(f"{base}/entity/proj_lk/lk")["deleted"] == "lk"
    assert _delete(f"{base}/entity/proj_lk/weight")["deleted"] == "weight"


def test_feature_listing_keeps_kind_and_reports_type(lookup_service):
    """The document's `kind` (swa/row) survives the listing; the lineage
    node type is reported under `type`."""
    base, _ = lookup_service
    feats = {f["name"]: f for f in
             _get(f"{base}/projects/proj_lk/features")}
    assert feats["leaf1"]["kind"] == "swa"
    assert feats["weight"]["kind"] == "row"
    assert {n: f["type"] for n, f in feats.items()} == {
        "base": "anchor_feature", "leaf1": "anchor_feature",
        "weight": "anchor_feature", "lk": "lookup_feature",
        "leaf2": "derived_feature"}
    one = _get(f"{base}/features/proj_lk/leaf1")
    assert (one["kind"], one["type"], one["anchor"]) == (
        "swa", "anchor_feature", "user_anchor")
    graph = {n["id"]: n["type"] for n in
             _get(f"{base}/projects/proj_lk")["nodes"]}
    assert all(graph[f"feature:{n}"] == f["type"] for n, f in feats.items())


def test_concurrent_deletes_both_land(lookup_service, monkeypatch):
    """Two DELETEs of different leaves whose reads are forced to
    interleave: neither read-modify-write may overwrite the other."""
    base, srv = lookup_service
    store = srv.RequestHandlerClass.registry
    barrier = threading.Barrier(2)
    read = store.read

    def interleaved_read(project):
        doc = read(project)
        try:  # both requests hold a document before either writes
            barrier.wait(timeout=2)
        except threading.BrokenBarrierError:
            pass
        return doc

    monkeypatch.setattr(store, "read", interleaved_read)
    codes = []

    def delete(name):
        codes.append(_delete(f"{base}/entity/proj_lk/{name}")["deleted"])

    threads = [threading.Thread(target=delete, args=(n,))
               for n in ("leaf2", "lk")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert sorted(codes) == ["leaf2", "lk"]
    monkeypatch.undo()
    names = {f["name"] for f in _get(f"{base}/projects/proj_lk/features")}
    assert names == {"base", "leaf1", "weight"}


def test_concurrent_deletes_stress(spark, sf_dir, tmp_path):
    """More concurrent DELETEs than cores, with frequent thread switches:
    every one of them lands."""
    reg = str(tmp_path / "registry")
    src = Source(path=f"{sf_dir}/events.parquet", timestamp_col="ts",
                 timestamp_format="timestamp")
    leaves = [f"leaf{i}" for i in range(12)]
    c = FeathrClient(spark, registry_dir=reg)
    c.build_features(
        anchor_list=[Anchor("a", src, keys=["user_id"],
                            features=[Feature("v", "value")])],
        derived_feature_list=[DerivedFeature(n, "v", inputs=("v",))
                              for n in leaves])
    c.register_features("proj_many")
    srv = serve_registry(reg, port=0)
    host, port = srv.server_address
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=_delete, args=(
            f"http://{host}:{port}/entity/proj_many/{n}",)) for n in leaves]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
        srv.shutdown()
    assert c.list_registered_features("proj_many") == ["v"]


def test_file_uri_registry_dir_roundtrip(spark, sf_dir, tmp_path):
    """registry_dir as a file:// URI: client register -> service GET ->
    client get_features_from_registry, all on the same local directory."""
    local = tmp_path / "registry"
    reg = f"file://{local}"
    _lookup_project(spark, sf_dir, reg)
    assert (local / "proj_lk.json").exists()
    srv = serve_registry(reg, port=0)
    try:
        host, port = srv.server_address
        url = f"http://{host}:{port}"
        assert _get(f"{url}/projects") == ["proj_lk"]
        assert _delete(f"{url}/entity/proj_lk/leaf2")["deleted"] == "leaf2"
    finally:
        srv.shutdown()
    c = FeathrClient(spark, registry_dir=reg)
    feats, keys = c.get_features_from_registry("proj_lk", return_keys=True)
    assert sorted(feats) == ["base", "leaf1", "lk", "weight"]
    assert keys["weight"] == ["item_id"]
    assert isinstance(feats["lk"], LookupFeature)
    assert feats["leaf1"].window.width == 3600


def test_registry_server_cli_serves_client_directory(spark, sf_dir,
                                                     tmp_path):
    """jobs/registry_server.py runs without a Spark session (fsio's POSIX
    fallback) over a directory the client wrote through Hadoop."""
    reg = str(tmp_path / "registry")
    c = _lookup_project(spark, sf_dir, reg)
    script = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs", "registry_server.py")
    proc = subprocess.Popen(
        [sys.executable, script, "--dir", reg, "--port", "0"],
        stdout=subprocess.PIPE, text=True)
    try:
        line = json.loads(proc.stdout.readline())
        url = line["serving"]
        assert line["registry_dir"] == reg
        assert _get(f"{url}/projects") == ["proj_lk"]
        # a session-less delete, then the client reads back through Hadoop
        assert _delete(f"{url}/entity/proj_lk/leaf2")["deleted"] == "leaf2"
        assert "leaf2" not in c.list_registered_features("proj_lk")
    finally:
        proc.terminate()
        proc.wait(timeout=30)
