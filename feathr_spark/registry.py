"""Feature registry: the one module that knows the project document.

A project is one JSON document ``{registry_dir}/{project}.json`` with
``project``, ``anchors`` (each with its ``features``), ``derived`` and
``lookups`` (reference: the sql-registry entities). The store
(:class:`Registry`), the (de)serializers, the feature enumeration and
the lineage graph all live here; :class:`~feathr_spark.client.FeathrClient`
and :mod:`feathr_spark.registry_service` only call them.

All I/O goes through :mod:`feathr_spark.fsio`, so ``registry_dir`` may be
a local path or any Hadoop URI; writes are tmp+rename, so readers never
see a torn document. Every mutation through one :class:`Registry` holds
its lock across the read-modify-write. There is no cross-process lock:
run one writer process; extra replicas must be read-only.
"""

from __future__ import annotations

import json
import re
import threading
from typing import Optional

from feathr_spark import fsio
from feathr_spark.definitions import (
    Anchor,
    DerivedFeature,
    Feature,
    LookupFeature,
    Source,
    SWAFeature,
    WindowSpec,
)

_PROJECT_NAME = re.compile(r"\w[\w.\-]*")


class PreconditionError(RuntimeError):
    """Deletion blocked by dependents (HTTP 412, reference
    sql-registry main.py:100-106)."""


class Registry:
    """Project documents under ``root``, read and written through fsio."""

    def __init__(self, root: str, spark=None):
        self.root = root.rstrip("/")
        self.spark = spark
        self._lock = threading.Lock()

    def _path(self, project: str) -> str:
        if not isinstance(project, str) \
                or not _PROJECT_NAME.fullmatch(project):
            raise ValueError(f"invalid project name {project!r}")
        return f"{self.root}/{project}.json"

    def projects(self) -> list:
        return [f[:-5] for f in fsio.listdir(self.root, self.spark)
                if f.endswith(".json")]

    def read(self, project: str) -> dict:
        path = self._path(project)
        if not fsio.exists(path, self.spark):
            raise KeyError(f"no registered project {project!r} "
                           f"under {self.root!r}")
        return json.loads(fsio.read_text(path, self.spark))

    def write(self, project: str, doc: dict) -> str:
        if not all(isinstance(doc.get(k), list)
                   for k in ("anchors", "derived", "lookups")):
            raise ValueError("a project document needs 'anchors', "
                             "'derived' and 'lookups' lists")
        with self._lock:
            return self._put(project, doc)

    def _put(self, project: str, doc: dict) -> str:
        path = self._path(project)
        fsio.mkdirs(self.root, self.spark)
        fsio.write_text_atomic(
            path, json.dumps(doc, indent=1, sort_keys=True), self.spark)
        return path

    def features(self, project: str, keyword: Optional[str] = None,
                 page: Optional[int] = None,
                 limit: Optional[int] = None) -> list:
        """:func:`features` of the project, optionally filtered by a
        case-insensitive name substring and paged (1-based ``page``)."""
        feats = features(self.read(project))
        if keyword:
            feats = [f for f in feats if keyword.lower() in f["name"].lower()]
        if page is not None and limit is not None:
            feats = feats[(page - 1) * limit: page * limit]
        return feats

    def find(self, name: str) -> tuple:
        """``(project, feature entry)`` for a qualified ``project/name``
        or a bare name searched across all projects."""
        if "/" in name:
            project, bare = name.split("/", 1)
            projects = [project]
        else:
            projects, bare = self.projects(), name
        for p in projects:
            for f in self.features(p):
                if f["name"] == bare:
                    return p, f
        raise KeyError(f"feature {name!r} not found")

    def dependents(self, name: str) -> list:
        """Features downstream of ``name`` (qualified or bare), each
        tagged with its project."""
        project, f = self.find(name)
        return [dict(d, project=project)
                for d in _dependents(self.read(project), f["name"])]

    def delete_entity(self, name: str) -> dict:
        """Delete a project (bare project name) or one feature (qualified
        or bare feature name). A feature that other features consume
        raises :class:`PreconditionError`."""
        with self._lock:
            if "/" not in name and name in self.projects():
                fsio.delete(self._path(name), False, self.spark)
                return {"deleted": name}
            project, f = self.find(name)
            doc = self.read(project)
            deps = _dependents(doc, f["name"])
            if deps:
                raise PreconditionError(
                    f"entity {name!r} cannot be deleted as it has "
                    f"downstream/dependent entities: "
                    f"{sorted(d['name'] for d in deps)}")
            gone = f["name"]
            for a in doc["anchors"]:
                a["features"] = [x for x in a["features"] if x["name"] != gone]
            for part in ("derived", "lookups"):
                doc[part] = [d for d in doc[part] if d["name"] != gone]
            self._put(project, doc)
        return {"deleted": gone, "project": project}


# -- the document's features ---------------------------------------------

def features(doc: dict) -> list:
    """Every feature of a project document in document order: its stored
    dict plus ``type`` (the lineage node type: ``anchor_feature`` /
    ``derived_feature`` / ``lookup_feature``); anchor features also
    carry their ``anchor`` name and keep their stored ``kind``
    (``swa`` / ``row``)."""
    out = [dict(f, anchor=a["name"], type="anchor_feature")
           for a in doc["anchors"] for f in a["features"]]
    out += [dict(d, type="derived_feature") for d in doc["derived"]]
    out += [dict(lk, type="lookup_feature") for lk in doc["lookups"]]
    return out


def definition(entry: dict):
    """The definition object for one :func:`features` entry."""
    def pick(names):
        return {k: entry[k] for k in names}

    if entry["type"] == "derived_feature":
        return DerivedFeature(entry["name"], entry["expr"],
                              inputs=tuple(entry["inputs"]))
    if entry["type"] == "lookup_feature":
        return LookupFeature(entry["name"], **pick(_LOOKUP))
    if entry["kind"] == "swa":
        return SWAFeature(entry["name"], **pick(_SWA),
                          window=WindowSpec(entry["width"], entry["delay"]))
    return Feature(entry["name"], **pick(_ROW))


# -- (de)serialization: metadata only, no code hooks ----------------------

# stored attributes of each definition type, besides name and window
_SWA = ("agg", "metric", "filter", "group_by", "limit", "default",
        "lateral_view", "lateral_view_alias", "lateral_view_filter")
_ROW = ("expr", "default")
_LOOKUP = ("base_feature", "expansion_anchor", "expansion_feature",
           "aggregation")
_SOURCE = ("path", "fmt", "timestamp_col", "timestamp_format")


def _attrs(obj, names) -> dict:
    return {k: getattr(obj, k) for k in names}


def to_document(project: str, anchors, derived, lookups) -> dict:
    """The project document for a built feature context. Code hooks
    (source ``preprocessing``, anchor ``extractor``) are code, not
    metadata: anchors carrying them raise, mirroring the reference
    shipping UDFs separately from registry entries (client.py:537
    _PreprocessingPyudfManager)."""
    for a in anchors:
        if a.source.preprocessing is not None or a.extractor is not None:
            raise ValueError(
                f"anchor {a.name!r} carries a code hook "
                "(preprocessing/extractor); register metadata only "
                "and re-attach code after get_features_from_registry")
    return {
        "project": project,
        "anchors": [_anchor_to_dict(a) for a in anchors],
        "derived": [{"name": d.name, "expr": d.expr,
                     "inputs": list(d.inputs)} for d in derived],
        "lookups": [{"name": lk.name, **_attrs(lk, _LOOKUP)}
                    for lk in lookups],
    }


def _feature_to_dict(f) -> dict:
    if isinstance(f, SWAFeature):
        return {"kind": "swa", "name": f.name, **_attrs(f, _SWA),
                "width": f.window.width, "delay": f.window.delay}
    return {"kind": "row", "name": f.name, **_attrs(f, _ROW)}


def _anchor_to_dict(a: Anchor) -> dict:
    return {
        "name": a.name,
        "source": {**_attrs(a.source, _SOURCE),
                   "options": dict(a.source.options)},
        "keys": list(a.keys),
        "features": [_feature_to_dict(f) for f in a.features],
        "lateral_view": a.lateral_view,
        "lateral_view_alias": a.lateral_view_alias,
        "lateral_view_filter": a.lateral_view_filter,
        "obs_keys": list(a.obs_keys) if a.obs_keys else None,
    }


def anchor_from_dict(d: dict) -> Anchor:
    s = d["source"]
    return Anchor(
        name=d["name"],
        source=Source(**{k: s[k] for k in _SOURCE},
                      options=dict(s["options"])),
        keys=list(d["keys"]),
        features=[definition(dict(f, type="anchor_feature"))
                  for f in d["features"]],
        lateral_view=d["lateral_view"],
        lateral_view_alias=d["lateral_view_alias"] or "lv",
        lateral_view_filter=d["lateral_view_filter"],
        obs_keys=list(d["obs_keys"]) if d["obs_keys"] else None,
    )


# -- lineage ---------------------------------------------------------------

def project_lineage(doc: dict) -> dict:
    """Full project lineage graph — the reference registry service's
    project graph (sql-registry registry/db_registry.py:164-183
    ``get_project``) reduced to its payload: typed nodes and typed edges
    using the reference's RelationshipType vocabulary (models.py:113-117
    — Contains / Consumes / Produces):

    - ``anchor --Consumes--> source``
    - ``anchor --Produces--> anchor feature``
    - ``derived/lookup feature --Consumes--> input feature``
    - ``project --Contains--> anchor | derived | lookup``

    Returns ``{"project", "nodes": [{id, type, ...}],
    "edges": [{from, to, type}]}``.
    """
    nodes: dict[str, dict] = {}
    edges: list[dict] = []

    def node(nid: str, ntype: str, **attrs) -> str:
        nodes.setdefault(nid, {"id": nid, "type": ntype, **attrs})
        return nid

    def edge(frm: str, to: str, etype: str) -> None:
        edges.append({"from": frm, "to": to, "type": etype})

    proj = node(f"project:{doc['project']}", "project")
    for a in doc["anchors"]:
        s = a["source"]
        src = node(f"source:{s['path']}", "source",
                   path=s["path"], fmt=s["fmt"])
        anc = node(f"anchor:{a['name']}", "anchor", keys=a["keys"])
        edge(proj, anc, "Contains")
        edge(anc, src, "Consumes")
        for f in a["features"]:
            feat = node(f"feature:{f['name']}", "anchor_feature",
                        kind=f["kind"])
            edge(anc, feat, "Produces")
    for d in doc["derived"]:
        feat = node(f"feature:{d['name']}", "derived_feature",
                    expr=d["expr"])
        edge(proj, feat, "Contains")
        for inp in d["inputs"]:
            edge(feat, f"feature:{inp}", "Consumes")
    for lk in doc["lookups"]:
        feat = node(f"feature:{lk['name']}", "lookup_feature",
                    aggregation=lk["aggregation"])
        edge(proj, feat, "Contains")
        edge(feat, f"feature:{lk['base_feature']}", "Consumes")
        edge(feat, f"feature:{lk['expansion_feature']}", "Consumes")
    # every edge endpoint must resolve against the nodes list:
    # derived/lookup inputs are edged by name, and a typo'd or
    # partially-registered input would otherwise leave a dangling
    # edge consumers cannot resolve
    for e in edges:
        for endpoint in (e["from"], e["to"]):
            if endpoint not in nodes:
                node(endpoint, "unresolved")
    return {"project": doc["project"], "nodes": list(nodes.values()),
            "edges": edges}


def _closure(edges: list, start: str, up: bool) -> tuple:
    """(node ids, edges) reachable from ``start``: upstream follows what a
    node Consumes and what Produces it, downstream the mirror image."""
    out_type, in_type = (("Consumes", "Produces") if up
                         else ("Produces", "Consumes"))
    seen, kept, frontier = {start}, [], {start}
    while frontier:
        step = [(e, e["to"]) for e in edges
                if e["from"] in frontier and e["type"] == out_type]
        step += [(e, e["from"]) for e in edges
                 if e["to"] in frontier and e["type"] == in_type]
        kept += [e for e, _ in step]
        frontier = {n for _, n in step} - seen
        seen |= frontier
    return seen, kept


def feature_lineage(doc: dict, feature_name: str) -> dict:
    """Upstream + downstream lineage subgraph of one feature — the
    reference registry's ``GET /features/{feature}/lineage``
    (sql-registry main.py:156-159, db_registry.py:150-162)."""
    g = project_lineage(doc)
    fid = f"feature:{feature_name}"
    if fid not in {n["id"] for n in g["nodes"]}:
        raise KeyError(f"feature {feature_name!r} not registered "
                       f"in project {doc['project']!r}")
    up_nodes, up_edges = _closure(g["edges"], fid, up=True)
    dn_nodes, dn_edges = _closure(g["edges"], fid, up=False)
    keep = up_nodes | dn_nodes
    uniq = {(e["from"], e["to"], e["type"]): e for e in up_edges + dn_edges}
    return {"feature": feature_name,
            "nodes": [n for n in g["nodes"] if n["id"] in keep],
            "edges": list(uniq.values())}


def _dependents(doc: dict, feature_name: str) -> list:
    """Features in the downstream lineage closure of ``feature_name``."""
    down, _ = _closure(project_lineage(doc)["edges"],
                       f"feature:{feature_name}", up=False)
    return [f for f in features(doc)
            if f["name"] != feature_name and f"feature:{f['name']}" in down]
