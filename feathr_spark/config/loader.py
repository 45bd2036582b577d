"""Reference-dialect config loading: HOCON -> engine model.

The reference's user surface is three HOCON documents (feathr-impl/.../
offline/config/FeathrConfigLoader.scala, FeatureJoinConfig.scala,
FeatureGenConfig.scala):

- a **feature definition** (``sources`` / ``anchors`` / ``derivations``)
- a **join config** (``settings`` + ``features`` key-tag groups)
- a **generation config** (``operational`` + ``features``)

This module maps each onto the engine's dataclasses (`Source`,
`Anchor`, `Feature`/`SWAFeature`, `DerivedFeature`, `LookupFeature`,
`ObservationSettings`) so a reference user can run their existing
configs unchanged. Semantics mirrored from FeathrConfigLoader.scala:

- an anchor whose first feature carries ``aggregation`` is a
  time-window (SWA) anchor; its ``key``/``def`` are Spark SQL
  (lines 229-244)
- otherwise plain ``key``/``def`` strings are MVEL (lines 395-401) and
  are translated via functions.mvel; ``key.sqlExpr`` / ``def.sqlExpr``
  opt into SQL (lines 407-416, 539)
- derivations: bare string = MVEL; ``{sqlExpr}`` = SQL; ``{definition,
  inputs}`` = MVEL over aliased inputs (lines 519-541); ``{join:
  {base, expansion}, aggregation}`` = sequential join (lines 591-607)
- JVM extractor/keyExtractor classes can't load here; pass
  ``extractor_registry`` to supply AnchorExtractor equivalents, or
  load with ``strict=False`` to skip those anchors (recorded in
  ``FeatureDefModel.skipped``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace
from typing import Optional

from feathr_spark.config.hocon import loads
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
from feathr_spark.functions.mvel import MvelTranslationError, mvel_to_sql

PASSTHROUGH = "passthrough"

_DUR = re.compile(r"^\s*(\d+)\s*([dhms])\s*$", re.I)
_DUR_UNITS = {"d": 86400, "h": 3600, "m": 60, "s": 1}


def parse_duration(v) -> float:
    """``3d`` / ``12h`` / ``30m`` / ``45s`` -> seconds (reference
    WindowTimeUnit.scala)."""
    if isinstance(v, (int, float)):
        return float(v)
    m = _DUR.match(str(v))
    if not m:
        raise ValueError(f"bad duration {v!r}; expected e.g. '3d', '12h'")
    return int(m.group(1)) * _DUR_UNITS[m.group(2).lower()]


@dataclass
class FeatureDefModel:
    sources: dict = field(default_factory=dict)      # name -> Source
    anchors: list = field(default_factory=list)      # [Anchor]
    derived: list = field(default_factory=list)      # [DerivedFeature]
    lookups: list = field(default_factory=list)      # [LookupFeature]
    skipped: list = field(default_factory=list)      # [(name, reason)] lenient mode

    def anchor_of_feature(self, name: str) -> Optional[Anchor]:
        for a in self.anchors:
            for f in a.features:
                if f.name == name:
                    return a
        return None

    def feature_names(self) -> list:
        out = [f.name for a in self.anchors for f in a.features]
        out += [d.name for d in self.derived] + [lk.name for lk in self.lookups]
        return out


def _as_list(v) -> list:
    return list(v) if isinstance(v, list) else [v]


def _sql_or_mvel(node, *, mvel: bool) -> str:
    """A key/def node: string (MVEL or SQL per anchor kind) or
    ``{sqlExpr: ...}``. MVEL outside the translated subset raises
    ``MvelTranslationError``."""
    if isinstance(node, dict):
        if "sqlExpr" in node:
            return str(node["sqlExpr"])
        raise ValueError(f"expected string or {{sqlExpr}}, got {node!r}")
    s = str(node)
    return mvel_to_sql(s) if mvel else s


def _load_source(name: str, node: dict) -> Source:
    if str(node.get("type", "")).upper() == "PASSTHROUGH":
        return Source(path=PASSTHROUGH, fmt="passthrough")
    loc = node.get("location") or {}
    path = loc.get("path", "") if isinstance(loc, dict) else str(loc)
    twp = node.get("timeWindowParameters") or {}
    ts_col = twp.get("timestampColumn")
    ts_fmt = str(twp.get("timestampColumnFormat", "epoch"))
    opts = {}
    if node.get("timePartitionPattern"):
        opts["time_partition_pattern"] = node["timePartitionPattern"]
    low = str(path).lower()
    fmt = ("csv" if low.endswith(".csv") else
           "json" if low.endswith(".json") else
           "orc" if low.endswith(".orc") else
           "avro" if low.endswith(".avro") else "parquet")
    return Source(path=str(path), fmt=fmt, timestamp_col=ts_col,
                  timestamp_format=ts_fmt, options=opts)


def _load_anchor(name: str, node: dict, sources: dict,
                 extractor_registry: dict, strict: bool, skipped: list,
                 source_overrides: dict) -> Optional[Anchor]:
    feats_node = node.get("features")
    # extractor-class anchors (features: [list] + extractor/keyExtractor)
    ext_cls = node.get("extractor") or node.get("transformer")
    key_ext_cls = node.get("keyExtractor")
    extractor = None
    if ext_cls is not None:
        if isinstance(ext_cls, dict):  # {class: ..., params: ...}
            ext_cls = ext_cls.get("class", str(ext_cls))
        if ext_cls in extractor_registry:
            extractor = extractor_registry[ext_cls]
        elif strict:
            raise ValueError(
                f"anchor {name!r} needs JVM extractor {ext_cls!r}; register "
                "a feathr_spark AnchorExtractor under that name in "
                "extractor_registry, or load with strict=False to skip")
        else:
            skipped.append((name, f"extractor {ext_cls}"))
            return None
    if key_ext_cls is not None and key_ext_cls not in extractor_registry:
        if strict:
            raise ValueError(
                f"anchor {name!r} needs JVM keyExtractor {key_ext_cls!r}; "
                "register a key-expression list under that name in "
                "extractor_registry, or load with strict=False to skip")
        skipped.append((name, f"keyExtractor {key_ext_cls}"))
        return None

    # SWA iff any feature spec carries 'aggregation'
    # (FeathrConfigLoader.scala:229-244)
    is_swa = isinstance(feats_node, dict) and any(
        isinstance(f, dict) and "aggregation" in f for f in feats_node.values())

    # keys: SQL for SWA anchors, MVEL otherwise unless key.sqlExpr
    # (FeathrConfigLoader.scala:395-416)
    if key_ext_cls is not None:
        keys = list(extractor_registry[key_ext_cls])
    else:
        key_node = node.get("key")
        if key_node is None:
            keys = []
        elif isinstance(key_node, dict):
            keys = [str(k) for k in _as_list(key_node.get("sqlExpr"))]
        else:
            keys = [_sql_or_mvel(k, mvel=not is_swa) for k in _as_list(key_node)]

    src_name = str(node.get("source", ""))
    if src_name in source_overrides:
        source = source_overrides[src_name]
    elif src_name in sources:
        source = sources[src_name]
    else:
        # inline path form: source: "path/to/data" (feathr.conf style)
        low = src_name.lower()
        fmt = ("csv" if low.endswith(".csv") else
               "json" if low.endswith(".json") else "parquet")
        source = Source(path=src_name, fmt=fmt)

    lvp = node.get("lateralViewParameters") or {}
    lateral_view = lvp.get("lateralViewDef")
    lateral_alias = lvp.get("lateralViewItemAlias") or "lv"
    lateral_filter = lvp.get("lateralViewFilter")

    features: list = []
    if isinstance(feats_node, list):
        if extractor is None:
            if strict:
                raise ValueError(
                    f"anchor {name!r} lists features {feats_node} without an "
                    "extractor — nothing defines them")
            skipped.append((name, "feature list without extractor"))
            return None
        # extractor-produced columns pass through by name
        features = [Feature(str(f), str(f)) for f in feats_node]
    elif isinstance(feats_node, dict):
        for fname, spec in feats_node.items():
            if not isinstance(spec, dict):  # bare string = MVEL def
                try:
                    features.append(Feature(fname, mvel_to_sql(str(spec))))
                except MvelTranslationError as e:
                    if strict:
                        raise
                    skipped.append((f"{name}.{fname}", f"mvel: {e}"))
                continue
            default = spec.get("default")
            if is_swa:
                d = spec.get("def")
                metric = _sql_or_mvel(d, mvel=False) if d is not None else "1"
                features.append(SWAFeature(
                    name=fname,
                    agg=str(spec["aggregation"]).upper(),
                    metric=metric,
                    window=WindowSpec(parse_duration(spec["window"])),
                    filter=spec.get("filter"),
                    group_by=spec.get("groupBy"),
                    limit=spec.get("limit"),
                    default=default,
                ))
            else:
                d = spec.get("def")
                is_sql = isinstance(d, dict)
                try:
                    expr = _sql_or_mvel(d, mvel=not is_sql)
                except MvelTranslationError as e:
                    if strict:
                        raise
                    skipped.append((f"{name}.{fname}", f"mvel: {e}"))
                    continue
                features.append(Feature(fname, expr, default=default))
    if not features:
        skipped.append((name, "no loadable features"))
        return None
    return Anchor(name=name, source=source, keys=keys, features=features,
                  lateral_view=lateral_view, lateral_view_alias=lateral_alias,
                  lateral_view_filter=lateral_filter, extractor=extractor)


_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _sub_aliases(expr: str, aliases: dict) -> str:
    """Replace input aliases with their feature column names (the
    reference binds derivation inputs by alias,
    FeathrConfigLoader.scala:519-541)."""
    return _IDENT.sub(lambda m: aliases.get(m.group(0), m.group(0)), expr)


def _load_derivation(name: str, node, model: FeatureDefModel,
                     strict: bool) -> None:
    if not isinstance(node, dict):  # bare MVEL string
        try:
            model.derived.append(DerivedFeature(name, mvel_to_sql(str(node))))
        except MvelTranslationError as e:
            if strict:
                raise
            model.skipped.append((name, f"mvel: {e}"))
        return
    if "join" in node:  # sequential join (SeqJoinDerivationFunction)
        j = node["join"]
        base, exp = j["base"], j["expansion"]
        exp_anchor = model.anchor_of_feature(str(exp["feature"]))
        if exp_anchor is None:
            raise ValueError(f"derivation {name!r}: expansion feature "
                             f"{exp['feature']!r} is not anchored")
        model.lookups.append(LookupFeature(
            name=name,
            base_feature=str(base["feature"]),
            expansion_anchor=exp_anchor.name,
            expansion_feature=str(exp["feature"]),
            aggregation=str(node.get("aggregation") or "UNION").upper(),
        ))
        return
    if "sqlExpr" in node:
        model.derived.append(DerivedFeature(name, str(node["sqlExpr"])))
        return
    if "definition" in node:
        d = node["definition"]
        expr = (str(d["sqlExpr"]) if isinstance(d, dict)
                else mvel_to_sql(str(d)))
        ins = node.get("inputs") or {}
        aliases = ({alias: str(ref["feature"]) for alias, ref in ins.items()}
                   if isinstance(ins, dict) else {})
        model.derived.append(DerivedFeature(name, _sub_aliases(expr, aliases)))
        return
    if "class" in node:
        if strict:
            raise ValueError(f"derivation {name!r} needs JVM class "
                             f"{node['class']!r} — not loadable here")
        model.skipped.append((name, f"class {node['class']}"))
        return
    raise ValueError(f"unrecognized derivation {name!r}: {node!r}")


def load_feature_def(text: str, *, source_overrides: Optional[dict] = None,
                     extractor_registry: Optional[dict] = None,
                     strict: bool = True) -> FeatureDefModel:
    """Parse a reference feature-definition HOCON document.

    ``source_overrides`` maps a source name (or inline source path) to a
    replacement :class:`Source` — the standard way to point a reference
    config at local test parquet. ``extractor_registry`` maps JVM
    extractor class names to AnchorExtractor instances (for
    ``extractor:``) or key-expression lists (for ``keyExtractor:``).
    """
    doc = loads(text)
    model = FeatureDefModel()
    overrides = source_overrides or {}
    registry = extractor_registry or {}
    for name, node in (doc.get("sources") or {}).items():
        model.sources[name] = overrides.get(name) or _load_source(name, node)
    for name, node in (doc.get("anchors") or {}).items():
        a = _load_anchor(name, node, model.sources, registry, strict,
                         model.skipped, overrides)
        if a is not None:
            model.anchors.append(a)
    for name, node in (doc.get("derivations") or {}).items():
        _load_derivation(name, node, model, strict)
    # a derivation's inputs are the identifiers in its SQL that name
    # features of this definition (every derivation form is SQL by now)
    names = set(model.feature_names())
    model.derived = [
        replace(d, inputs=tuple(dict.fromkeys(
            i for i in _IDENT.findall(d.expr) if i in names)))
        for d in model.derived]
    return model


# ---------------------------------------------------------------------------
# join config
# ---------------------------------------------------------------------------


@dataclass
class FeatureRequest:
    keys: list                 # observation-side key expressions
    features: list             # requested feature names
    override_time_delay: Optional[float] = None


@dataclass
class JoinConfigModel:
    requests: list = field(default_factory=list)   # [FeatureRequest]
    timestamp_col: Optional[str] = None
    timestamp_format: str = "epoch"
    simulate_time_delay: float = 0.0
    use_latest_feature_data: bool = False
    abs_time_range: Optional[tuple] = None         # (start, end, fmt)


def load_join_config(text: str) -> JoinConfigModel:
    """Parse a reference join config (FeatureJoinConfig.scala). Feature
    groups may live under ``features`` or any other top-level list key
    (the reference supports named feature bags)."""
    doc = loads(text)
    m = JoinConfigModel()
    settings = doc.get("settings") or {}
    jts = settings.get("joinTimeSettings") or {}
    tsc = jts.get("timestampColumn")
    if isinstance(tsc, dict):
        m.timestamp_col = str(tsc.get("def"))
        m.timestamp_format = str(tsc.get("format", "epoch"))
    elif tsc is not None:
        m.timestamp_col = str(tsc)
    if jts.get("simulateTimeDelay") is not None:
        m.simulate_time_delay = parse_duration(jts["simulateTimeDelay"])
    if jts.get("useLatestFeatureData"):
        m.use_latest_feature_data = True
    odts = settings.get("observationDataTimeSettings") or {}
    atr = odts.get("absoluteTimeRange")
    if atr:
        m.abs_time_range = (str(atr["startTime"]), str(atr["endTime"]),
                            str(atr.get("timeFormat", "yyyy-MM-dd")))
    for key, node in doc.items():
        if key == "settings" or not isinstance(node, list):
            continue
        for grp in node:
            if not isinstance(grp, dict) or "featureList" not in grp:
                continue
            delay = grp.get("overrideTimeDelay")
            m.requests.append(FeatureRequest(
                keys=[str(k) for k in _as_list(grp.get("key"))],
                features=[str(f) for f in _as_list(grp["featureList"])],
                override_time_delay=parse_duration(delay) if delay else None,
            ))
    if not m.requests:
        raise ValueError("join config declares no feature groups")
    return m


def run_join_config(spark, observation, fdef: FeatureDefModel,
                    join_cfg: JoinConfigModel, *, source_cache=None,
                    now_epoch=None):
    """Execute a reference join config against ``observation`` —
    the HOCON-driven equivalent of ``FeathrClient.get_offline_features``.

    After the absolute-time-range filter, the feature groups go through
    the same resolver as the client
    (:func:`~feathr_spark.plans.planner.resolve_requests`) and run as one
    ``join_features`` plan. Each group joins with its own observation keys
    (the reference's key tags, MultiStageJoinPlanner.scala:319-335); a
    feature requested by two groups keeps the first group's column name
    and gets ``<name>__<keytag>`` for later groups.
    """
    from feathr_spark.functions.timestamps import to_epoch_micros
    from feathr_spark.plans.planner import join_features, resolve_requests

    from pyspark.sql import functions as F

    out = observation
    if join_cfg.abs_time_range and join_cfg.timestamp_col:
        start, end, fmt = join_cfg.abs_time_range
        ts = to_epoch_micros(F.expr(join_cfg.timestamp_col),
                             join_cfg.timestamp_format)
        lo = to_epoch_micros(F.lit(start), fmt)
        # end bound is inclusive of the whole end unit (reference treats
        # endTime as a date, OfflineDateTimeUtils): use < end + 1 day for
        # date-granularity formats, <= otherwise
        hi = to_epoch_micros(F.lit(end), fmt)
        if "H" not in fmt and fmt not in ("epoch", "epoch_millis"):
            hi = hi + F.lit(86_400_000_000)
            out = out.where((ts >= lo) & (ts < hi))
        else:
            out = out.where((ts >= lo) & (ts <= hi))

    anchors, derived, lookups, requested = resolve_requests(
        fdef.anchors, fdef.derived, fdef.lookups, join_cfg.requests)
    settings = ObservationSettings(
        keys=list(join_cfg.requests[0].keys),
        timestamp_col=join_cfg.timestamp_col or "",
        timestamp_format=join_cfg.timestamp_format,
        simulate_time_delay=join_cfg.simulate_time_delay,
        use_latest_feature_data=join_cfg.use_latest_feature_data,
        now_epoch=now_epoch,
    )
    return join_features(spark, out, settings, anchors, derived=derived,
                         lookups=lookups, requested=requested,
                         source_cache=source_cache)


# ---------------------------------------------------------------------------
# generation config
# ---------------------------------------------------------------------------


@dataclass
class GenConfigModel:
    name: str
    end_time_epoch: float            # cutoff (epoch seconds)
    resolution: str                  # DAILY | HOURLY
    features: list                   # requested feature names
    outputs: list = field(default_factory=list)
    enable_incremental: bool = False


def load_gen_config(text: str) -> GenConfigModel:
    """Parse a reference generation config (FeatureGenConfig.scala:
    ``operational`` + ``features``)."""
    import datetime as dt

    doc = loads(text)
    op = doc.get("operational") or {}
    end_raw = str(op.get("endTime"))
    end_fmt = str(op.get("endTimeFormat", "yyyy-MM-dd"))
    if end_raw.upper() == "NOW":
        import time
        end_epoch = time.time()
    else:
        py_fmt = (end_fmt.replace("yyyy", "%Y").replace("MM", "%m")
                  .replace("dd", "%d").replace("HH", "%H")
                  .replace("mm", "%M").replace("ss", "%S"))
        end_epoch = dt.datetime.strptime(end_raw, py_fmt).replace(
            tzinfo=dt.timezone.utc).timestamp()
    return GenConfigModel(
        name=str(op.get("name", "")),
        end_time_epoch=end_epoch,
        resolution=str(op.get("resolution", "DAILY")).upper(),
        features=[str(f) for f in _as_list(doc.get("features") or [])],
        outputs=list(op.get("output") or []),
        enable_incremental=bool(op.get("enableIncremental", False)),
    )


def gen_spec_from_feature_def(fdef: FeatureDefModel, feature_names: list):
    """Build a materialize.GenSpec for the SWA features named by a
    generation config. All requested features must share one anchor
    source+keys (the reference groups per anchor too; call once per
    group otherwise)."""
    anchors = {}
    for fn in feature_names:
        a = fdef.anchor_of_feature(fn)
        if a is None:
            raise ValueError(f"generation config requests unanchored "
                             f"feature {fn!r}")
        anchors.setdefault((a.source.path, tuple(a.keys)), []).append((a, fn))
    if len(anchors) != 1:
        raise ValueError("requested features span multiple anchor groups; "
                         "build one GenSpec per group")
    (_, _), pairs = next(iter(anchors.items()))
    a0 = pairs[0][0]
    feats = []
    for a, fn in pairs:
        f = next(f for f in a.features if f.name == fn)
        if not isinstance(f, SWAFeature):
            raise ValueError(f"{fn!r} is not a window-aggregate feature")
        feats.append(f)
    return gen_spec_for_anchor(a0, feats), a0


def gen_spec_for_anchor(anchor, features):
    """The materialize.GenSpec of ``features`` on ``anchor``: snapshot key
    columns take the key's identifier (``key{i}`` for an expression key)."""
    from feathr_spark.materialize import GenSpec

    key_names = [k if _IDENT.fullmatch(k) else f"key{i}"
                 for i, k in enumerate(anchor.keys)]
    return GenSpec(keys=list(anchor.keys), key_names=key_names,
                   ts_col=anchor.source.timestamp_col,
                   features=list(features), ts_format=anchor.source.timestamp_format)
