"""Reference-shaped Python client façade.

Reference: ``feathr_project/feathr/client.py`` — ``FeathrClient``
(:62-80), ``build_features`` (:241-299), ``get_offline_features``
(:497-616), ``materialize_features`` (:718-760), ``get_online_features``
(:322-340); ``FeatureQuery`` from ``definition/query_feature_list.py``;
``MaterializationSettings`` from ``definition/materialization_settings.py``.

The reference client renders HOCON configs and SUBMITS a remote Spark
job; this façade drives the same four-call user flow in-session against
the engine's native planner/materializer, so a reference user's script
structure ports line-for-line:

    client = FeathrClient(spark)
    client.build_features(anchor_list=[...], derived_feature_list=[...])
    df = client.get_offline_features(obs, FeatureQuery([...]), settings)
    client.materialize_features(MaterializationSettings(...), fact)
    client.get_online_features("table", "user42", ["f_sum"])

Reference users with existing HOCON configs load them through
``feathr_spark.config`` instead (``load_feature_def`` +
``run_join_config``). The two surfaces share one resolver
(:func:`~feathr_spark.plans.planner.resolve_requests`: dependency
closure, key-binding clones, renames) and one ``join_features`` plan.

Scale notes: ``get_offline_features`` is one
:func:`~feathr_spark.plans.planner.join_features` plan (per-stage
checkpoint knob for 50-anchor DAGs); ``materialize_features`` runs the
resumable per-cutoff :func:`~feathr_spark.materialize.materialize` with
lineage manifests; the online push is the embarrassingly-parallel
:func:`~feathr_spark.sources.online.write_online` per-partition path.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession

from feathr_spark import registry
from feathr_spark.definitions import (
    Anchor,
    DerivedFeature,
    LookupFeature,
    ObservationSettings,
    SWAFeature,
)
from feathr_spark.config.loader import gen_spec_for_anchor
from feathr_spark.materialize import BackfillTime, materialize
from feathr_spark.sources.online import (
    LocalOnlineStore,
    decode_online_value,
    online_key_column,
    write_online,
)


@dataclass(frozen=True)
class FeatureQuery:
    """A list of requested features and the observation key expressions
    they join on (reference: definition/query_feature_list.py — the
    ``key`` is the reference's TypedKey list; here SQL expressions over
    observation columns, None = the ObservationSettings default keys)."""

    feature_list: Sequence[str]
    key: Optional[Sequence[str]] = None


@dataclass
class MaterializationSettings:
    """What to materialize and where (reference:
    definition/materialization_settings.py:21-64). ``sink_path`` is the
    offline snapshot store (per-cutoff lineage-manifest partitions);
    ``online_table`` additionally pushes the LATEST cutoff to the online
    store under that table name."""

    name: str
    feature_names: Sequence[str]
    backfill_time: BackfillTime
    sink_path: Optional[str] = None
    online_table: Optional[str] = None


class FeathrClient:
    """In-session driver for the reference client's user flow."""

    def __init__(
        self,
        spark: SparkSession,
        online_store_dir: Optional[str] = None,
        online_client_factory=None,
        registry_dir: Optional[str] = None,
    ):
        self.spark = spark
        self._registry_dir = registry_dir
        if online_client_factory is not None:
            self._online = online_client_factory
        else:
            if online_store_dir is None:
                import tempfile

                online_store_dir = tempfile.mkdtemp(prefix="feathr_online_")
            self._online = LocalOnlineStore(online_store_dir)
        self.anchor_list: list = []
        self.derived_feature_list: list = []
        self.lookup_feature_list: list = []
        self._built = False

    # -- build ----------------------------------------------------------
    def build_features(
        self,
        anchor_list: Sequence[Anchor] = (),
        derived_feature_list: Sequence[Union[DerivedFeature, LookupFeature]] = (),
    ) -> None:
        """Register the feature context (reference client.py:241-299;
        must precede get_offline_features / materialize_features, same
        contract as the reference's RuntimeError at client.py:556-560).
        Duplicate feature names across anchors/deriveds raise, mirroring
        the reference's conflict check (client.py:525-536)."""
        anchors = list(anchor_list)
        derived = [d for d in derived_feature_list
                   if isinstance(d, DerivedFeature)]
        lookups = [d for d in derived_feature_list
                   if isinstance(d, LookupFeature)]
        seen: dict = {}
        for a in anchors:
            for f in a.features:
                if f.name in seen:
                    raise RuntimeError(
                        f"feature name conflict: {f.name!r} defined by "
                        f"anchors {seen[f.name]!r} and {a.name!r}")
                seen[f.name] = a.name
        for d in list(derived) + list(lookups):
            if d.name in seen:
                raise RuntimeError(
                    f"feature name conflict: {d.name!r} already defined "
                    f"by {seen[d.name]!r}")
            seen[d.name] = "<derived>"
        self.anchor_list = anchors
        self.derived_feature_list = derived
        self.lookup_feature_list = lookups
        self._feature_owner = seen
        self._built = True

    def _require_built(self) -> None:
        if not self._built:
            raise RuntimeError(
                "Please call FeathrClient.build_features() first")

    # -- offline join ----------------------------------------------------
    def get_offline_features(
        self,
        observation: Union[DataFrame, str],
        feature_query: Union[FeatureQuery, Sequence[FeatureQuery]],
        observation_settings: ObservationSettings,
        output_path: Optional[str] = None,
        source_cache: Optional[dict] = None,
        checkpoint_every: int = 0,
        output_format: str = "raw",
    ) -> DataFrame:
        """Point-in-time join of the requested features onto the
        observation (reference client.py:497-616). ``observation`` is a
        DataFrame or a path (the reference's observation_path).
        Per-query ``key`` binds those features' anchors to different
        observation key expressions (the reference's key tags); a feature
        requested under a second key binding comes back as
        ``<name>__<keytag>``, as in a HOCON join config (both resolve
        through :func:`~feathr_spark.plans.planner.resolve_requests`).
        With ``output_path`` the result is also written as parquet.
        ``output_format="fds"`` re-encodes every requested feature column
        into Quince-FDS tensor format before returning/writing (the
        reference always materializes offline joins as FDS —
        SlidingWindowFeatureUtils.convertSWADFToFDS; here it is opt-in
        and a pure projection, see functions/fds.py)."""
        self._require_built()
        from feathr_spark.config.loader import FeatureRequest
        from feathr_spark.plans.planner import join_features, resolve_requests

        if isinstance(observation, str):
            from feathr_spark.sources.batch import read_batch

            observation = read_batch(self.spark, observation)

        queries = ([feature_query] if isinstance(feature_query, FeatureQuery)
                   else list(feature_query))
        anchors, derived, lookups, requested = resolve_requests(
            self.anchor_list, self.derived_feature_list,
            self.lookup_feature_list,
            [FeatureRequest(keys=None if q.key is None else list(q.key),
                            features=list(q.feature_list)) for q in queries])
        out = join_features(
            self.spark, observation, observation_settings, anchors,
            derived=derived, lookups=lookups,
            requested=requested, source_cache=source_cache,
            checkpoint_every=checkpoint_every,
        )
        if output_format == "fds":
            from feathr_spark.functions.fds import to_fds
            out, self.last_inferred_feature_types = to_fds(out, requested)
        elif output_format != "raw":
            raise ValueError(f"unknown output_format {output_format!r}")
        if output_path:
            out.write.mode("overwrite").parquet(output_path)
            out = self.spark.read.parquet(output_path)
        return out

    # -- materialization ---------------------------------------------------
    def materialize_features(
        self,
        settings: MaterializationSettings,
        fact: Optional[DataFrame] = None,
        source_cache: Optional[dict] = None,
        resume: bool = True,
    ) -> dict:
        """Materialize per-entity snapshots of the requested (SWA)
        features for every backfill cutoff (reference client.py:718-760
        → the engine's resumable :func:`materialize`), then push the
        latest cutoff online when ``online_table`` is set. All requested
        features must live on ONE anchor (one fact table + key space per
        materialization job — the reference's per-anchor constraint).
        ``fact`` overrides loading the anchor's source (tests inject
        in-memory frames). Snapshot key columns are named as a generation
        config names them (``config.loader.gen_spec_for_anchor``)."""
        self._require_built()
        names = set(settings.feature_names)
        owners = {self._feature_owner.get(n) for n in names}
        if None in owners:
            missing = [n for n in names if n not in self._feature_owner]
            raise KeyError(f"unknown features {missing!r}")
        if len(owners) != 1 or "<derived>" in owners:
            raise RuntimeError(
                "materialize_features requires all features on one "
                f"anchor (got owners {sorted(owners)!r}); derived "
                "features go in GenSpec.derived")
        anchor = next(a for a in self.anchor_list if a.name in owners)
        feats = [f for f in anchor.features if f.name in names]
        not_swa = [f.name for f in feats if not isinstance(f, SWAFeature)]
        if not_swa:
            raise RuntimeError(
                f"non-aggregated features {not_swa!r} cannot be "
                "materialized (reference: allow_materialize_non_agg_"
                "feature guard, client.py:718)")
        if fact is None:
            if source_cache and anchor.source.path in source_cache:
                fact = source_cache[anchor.source.path]
            else:
                from feathr_spark.sources.batch import load_source

                fact = load_source(self.spark, anchor.source)
        spec = gen_spec_for_anchor(anchor, feats)
        sink = settings.sink_path
        if sink is None:
            import tempfile

            sink = tempfile.mkdtemp(prefix=f"feathr_mat_{settings.name}_")
        report = materialize(fact, spec, sink, settings.backfill_time,
                             resume=resume)
        report["sink_path"] = sink
        if settings.online_table:
            last = max(settings.backfill_time.cutoffs())
            snap = self.spark.read.parquet(f"{sink}/cutoff={last}")
            write_online(snap, settings.online_table, spec.key_names,
                         self._online)
            report["online_table"] = settings.online_table
        return report

    # -- online read -------------------------------------------------------
    def get_online_features(self, feature_table: str, key,
                            feature_names: Sequence[str]) -> list:
        """Fetch feature values for one entity key from the online store
        (reference client.py:322-340: ``hmget`` on ``<table>:<key>``;
        missing features come back None). ``key`` is the entity key
        string, or a tuple/list joined with the reference's ``#``
        separator."""
        if isinstance(key, (tuple, list)):
            key = "#".join(str(k) for k in key)
        client = self._online() if callable(self._online) else self._online
        row = client.hgetall(f"{feature_table}:{key}")
        return [decode_online_value(row[f]) if f in row else None
                for f in feature_names]

    def multi_get_online_features(self, feature_table: str,
                                  keys: Sequence,
                                  feature_names: Sequence[str]) -> dict:
        """Batch form of :meth:`get_online_features` (reference
        client.py:345-360): {key: [values...]} for each requested key."""
        return {("#".join(str(p) for p in k)
                 if isinstance(k, (tuple, list)) else str(k)):
                self.get_online_features(feature_table, k, feature_names)
                for k in keys}

    # -- registry ----------------------------------------------------------
    def _registry(self) -> registry.Registry:
        if self._registry_dir is None:
            import tempfile

            self._registry_dir = tempfile.mkdtemp(prefix="feathr_registry_")
        return registry.Registry(self._registry_dir, self.spark)

    def register_features(self, project_name: str = "default") -> str:
        """Persist the built feature context as registry metadata
        (reference client.py:229-296 registers to Purview/SQL; here one
        JSON project document under ``registry_dir`` — same metadata,
        file backend; see :mod:`feathr_spark.registry`). Anchors carrying
        code hooks (source ``preprocessing``, anchor ``extractor``)
        raise: register metadata only. Returns the document's path."""
        self._require_built()
        doc = registry.to_document(project_name, self.anchor_list,
                                   self.derived_feature_list,
                                   self.lookup_feature_list)
        return self._registry().write(project_name, doc)

    def list_registered_features(self, project_name: str = "default") -> list:
        """Feature names registered under the project (reference
        client.py:298-320)."""
        return [f["name"] for f in self._registry().features(project_name)]

    def get_features_from_registry(self, project_name: str = "default",
                                   return_keys: bool = False):
        """Rebuild the feature context from the registry (reference
        client.py:1003-1030): loads the project, calls
        :meth:`build_features` with the restored definitions, and
        returns ``{name: definition}`` (plus ``{name: anchor key
        expressions}`` when ``return_keys``)."""
        doc = self._registry().read(project_name)
        anchors = [registry.anchor_from_dict(a) for a in doc["anchors"]]
        feats = {f["name"]: registry.definition(f)
                 for f in registry.features(doc)}
        self.build_features(
            anchor_list=anchors,
            derived_feature_list=[
                d for d in feats.values()
                if isinstance(d, (DerivedFeature, LookupFeature))])
        keys = {f.name: list(a.keys) for a in anchors for f in a.features}
        return (feats, keys) if return_keys else feats

    def search_features(self, keyword: str,
                        project_name: str = "default") -> list:
        """Case-insensitive substring search over the project's feature
        names — the reference registry's
        ``GET /projects/{p}/features?keyword=`` (sql-registry
        main.py:127-146)."""
        return [f["name"] for f in
                self._registry().features(project_name, keyword)]

    def get_project_lineage(self, project_name: str = "default") -> dict:
        """Full project lineage graph from registry metadata
        (:func:`feathr_spark.registry.project_lineage`)."""
        return registry.project_lineage(self._registry().read(project_name))

    def get_feature_lineage(self, feature_name: str,
                            project_name: str = "default") -> dict:
        """Upstream + downstream lineage subgraph of one feature
        (:func:`feathr_spark.registry.feature_lineage`)."""
        return registry.feature_lineage(
            self._registry().read(project_name), feature_name)
