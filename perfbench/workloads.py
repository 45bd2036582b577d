"""The benchmark workloads.

Each workload synthesizes its inputs from ``feathr_spark.datagen`` with the
run's seed, then runs one closed-loop iteration at a time through public
engine calls. Every timed call sits inside a named span; the output checks
run after the iteration's spans have closed, so they are not timed.

The terminal action of every iteration is
``feathr_spark.materialize.order_independent_checksum`` over the output: it
forces every output column and yields the figure the checks compare.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from feathr_spark import (
    Anchor,
    DerivedFeature,
    FeathrClient,
    Feature,
    FeatureQuery,
    LookupFeature,
    ObservationSettings,
    Source,
    SWAFeature,
    WindowSpec,
    asof_fetch,
    join_window_agg_features,
    release_caches,
)
from feathr_spark.datagen import DAY, SOURCES, T0, corpus, observations, sequences
from feathr_spark.materialize import (
    BackfillTime,
    GenSpec,
    load_materialized,
    materialize,
    order_independent_checksum,
    read_manifest,
)

# Input sizes by scale name. "bench" is what the benchmark measures; "smoke"
# is the smallest size the smoke test runs every workload at. The fact table
# has ``fact_rows`` rows over fact_rows/50 doc_ids and the observation table
# a quarter as many rows, as in ``datagen.corpus``.
SCALES = {
    "bench": {"fact_rows": 60_000},
    "smoke": {"fact_rows": 6_000},
}


@dataclass
class Result:
    """What one iteration produced; checks read it after the spans closed."""

    rows: int
    checksum: str
    handles: dict = field(default_factory=dict)


def _observed(df, **flags):
    """``df`` plus an Observation counting the rows where each boolean
    column in ``flags`` is true. The counts are collected by the action that
    consumes ``df``, so a check costs no Spark job of its own."""
    ob = Observation()
    sums = [F.coalesce(F.sum(c.cast("long")), F.lit(0)).alias(k) for k, c in flags.items()]
    return df.observe(ob, *sums), ob


def _sf(fact_rows: int) -> float:
    """``datagen.corpus`` scale factor for ``fact_rows`` fact rows."""
    return fact_rows / 6_000_000


class Workload:
    """One workload: ``setup`` synthesizes and caches the inputs,
    ``run_once`` is one timed iteration, the rest runs untimed after it."""

    name = ""
    spans: tuple = ()  # names of the spans ``run_once`` opens
    # timed iterations a run makes even after --seconds have passed; chosen
    # so that they take longer than --seconds on a quiet host, so every run
    # times the same iterations (per-iteration cost still falls as the JVM
    # warms up, so later iterations would read lower)
    min_timed = 3

    def __init__(self, spark, scale: str, seed: int, work_dir: str):
        self.spark = spark
        self.fact_rows = SCALES[scale]["fact_rows"]
        self.seed = seed
        self.work_dir = work_dir
        self.parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.n_obs = 0

    def setup(self) -> None:
        raise NotImplementedError

    def teardown(self) -> None:
        self.spark.catalog.clearCache()

    def run_once(self, tr, it: int) -> Result:
        raise NotImplementedError

    def check(self, res: Result, deep: bool) -> list[str]:
        """Failed checks of one iteration (empty when all pass); ``deep``
        adds the checks that cost a Spark job of their own."""
        raise NotImplementedError

    def release(self, res: Result) -> None:
        """Free what the iteration left behind (caches, sink files)."""
        raise NotImplementedError

    def layer_counts(self, res: Result) -> dict:
        """Workload-specific per-layer counts for the traced run, keyed
        ``<layer>.<counter>``."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# pit_tokens_zipf
# ---------------------------------------------------------------------------

TOKEN_FEATURES = [
    SWAFeature("tok_sum_1d", "SUM", "n_tok", WindowSpec(DAY)),
    SWAFeature("seq_cnt_1d", "COUNT", "n_tok", WindowSpec(DAY)),
    SWAFeature("tok_avg_7d", "AVG", "n_tok", WindowSpec(7 * DAY)),
    SWAFeature("tok_max_7d", "MAX", "n_tok", WindowSpec(7 * DAY)),
    SWAFeature("src_cnt_7d", "COUNT_DISTINCT", "source", WindowSpec(7 * DAY)),
    SWAFeature("web_cnt_1d", "COUNT", "n_tok", WindowSpec(DAY), filter="source = 'web'"),
    # the as-of match timestamp, from the same kernel pass as the aggregates
    SWAFeature("last_ts", "LATEST", "event_ts", WindowSpec(7 * DAY)),
]


class TokensZipf(Workload):
    """Flagship: SWA battery over a zipf-skewed tokenized corpus (cogroup
    kernel, hot-key salting), then the fused as-of fetch of the tokens."""

    name = "pit_tokens_zipf"
    spans = ("swa", "asof_fetch")
    min_timed = 4

    def setup(self) -> None:
        fact, obs = corpus(self.spark, sf=_sf(self.fact_rows), seed=self.seed)
        # entity-partitioned fact cache: the fetch then moves no payload
        self.fact = fact.repartition(self.parts, "doc_id").cache()
        self.obs = obs.cache()
        self.n_obs = self.obs.count()
        n_fact = self.fact.count()
        # hot keys: doc_ids holding more than 2% of the fact rows
        self.hot = (self.fact.groupBy("doc_id").count()
                    .where(F.col("count") > n_fact // 50).select("doc_id").cache())
        self.n_hot = self.hot.count()

    def run_once(self, tr, it: int) -> Result:
        with tr.span("swa"):
            vec = join_window_agg_features(
                self.obs, self.fact, ["doc_id"], ["doc_id"], "ts", "event_ts",
                TOKEN_FEATURES, obs_ts_format="epoch", fact_ts_format="epoch",
                strategy="cogroup", hot_keys_df=self.hot, salt_buckets=16,
                prefilter_time_range=False,
            ).persist()
            vec.count()
        with tr.span("asof_fetch"):
            out, checks = _observed(
                asof_fetch(vec, self.fact, ["doc_id"], ["doc_id"], "last_ts", "event_ts",
                           ["tokens as last_tokens", "n_tok as last_n_tok"]),
                leak=F.col("last_ts") > F.col("ts"),
                bad_payload=(F.col("last_n_tok") != F.size("last_tokens"))
                | (F.col("last_ts").isNotNull() & F.col("last_tokens").isNull()),
                matched=F.col("last_tokens").isNotNull(),
            )
            checksum = order_independent_checksum(out)
        return Result(self.n_obs, str(checksum), {"vec": vec, "checks": checks})

    def check(self, res: Result, deep: bool) -> list[str]:
        got = res.handles["checks"].get
        fails = []
        if got["leak"]:
            fails.append(f"leakage: {got['leak']} rows with last_ts > ts")
        if got["bad_payload"]:
            fails.append(f"{got['bad_payload']} fetched rows carry the wrong token payload")
        if not got["matched"]:
            fails.append("no observation matched a fact row")
        return fails

    def release(self, res: Result) -> None:
        res.handles["vec"].unpersist()
        release_caches()

    def layer_counts(self, res: Result) -> dict:
        return {"swa.hot_keys": self.n_hot}


# ---------------------------------------------------------------------------
# client_backfill_uniform
# ---------------------------------------------------------------------------

SRC_WEIGHTS = [(s, float(i + 1)) for i, s in enumerate(SOURCES)]
BACKFILL_FEATURES = [
    SWAFeature("tok_sum_1d", "SUM", "n_tok", WindowSpec(DAY)),
    SWAFeature("seq_cnt_1d", "COUNT", "n_tok", WindowSpec(DAY)),
    SWAFeature("tok_avg_7d", "AVG", "n_tok", WindowSpec(7 * DAY)),
    SWAFeature("tok_max_7d", "MAX", "n_tok", WindowSpec(7 * DAY)),
]
# daily cutoffs, the first a full 7-day window after the data starts
BACKFILL = BackfillTime(T0 + 7 * DAY, T0 + 12 * DAY, DAY)


class ClientBackfillUniform(Workload):
    """The public client path and the write path over one uniform-key fact
    table; no Python kernel runs.

    - ``client``: ``FeathrClient.get_offline_features`` with a frame-only
      SWA anchor (``auto`` picks the JVM union strategy), a time-stamped
      snapshot anchor (as-of join), a derived and a lookup feature;
      ``planner_exec`` executes the returned plan.
    - ``materialize``: one snapshot partition per daily cutoff, each
      committed with a manifest; ``materialize_resume`` must skip every
      cutoff; ``load_materialized`` reads them back.
    """

    name = "client_backfill_uniform"
    spans = ("client", "planner_exec", "materialize", "materialize_resume",
             "load_materialized")
    requested = ["tok_sum_1d", "tok_avg_7d", "tok_max_7d", "tok_min_7d",
                 "seq_cnt_7d", "last_source", "src_ts", "tok_per_seq_7d",
                 "src_weight"]

    def setup(self) -> None:
        n_docs = max(self.fact_rows // 50, 20)
        fact = sequences(self.spark, self.fact_rows, n_docs, self.seed, skew=1.0).drop("tokens")
        obs = observations(self.spark, max(self.fact_rows // 4, 500), n_docs, self.seed, skew=1.0)
        self.fact = fact.cache()
        self.obs = obs.cache()
        self.n_obs = self.obs.count()
        self.fact.count()
        meta = self.spark.createDataFrame(SRC_WEIGHTS, "source string, weight double")
        self.sources = {"mem://sequences": self.fact, "mem://source_meta": meta}
        seq = Source("mem://sequences", timestamp_col="event_ts")
        self.client = FeathrClient(self.spark,
                                   online_store_dir=os.path.join(self.work_dir, "online"))
        self.client.build_features(
            anchor_list=[
                Anchor("doc_swa", seq, ["doc_id"], [
                    SWAFeature("tok_sum_1d", "SUM", "n_tok", WindowSpec(DAY)),
                    SWAFeature("tok_avg_7d", "AVG", "n_tok", WindowSpec(7 * DAY)),
                    SWAFeature("tok_max_7d", "MAX", "n_tok", WindowSpec(7 * DAY)),
                    SWAFeature("tok_min_7d", "MIN", "n_tok", WindowSpec(7 * DAY)),
                    SWAFeature("seq_cnt_7d", "COUNT", "n_tok", WindowSpec(7 * DAY)),
                ]),
                Anchor("doc_last", seq, ["doc_id"], [
                    Feature("last_source", "source"),
                    Feature("src_ts", "event_ts"),
                ]),
                Anchor("source_meta", Source("mem://source_meta"), ["source"], [
                    Feature("weight", "weight"),
                ]),
            ],
            derived_feature_list=[
                DerivedFeature("tok_per_seq_7d", "tok_avg_7d * seq_cnt_7d / greatest(seq_cnt_7d, 1)",
                               inputs=("tok_avg_7d", "seq_cnt_7d")),
                LookupFeature("src_weight", "last_source", "source_meta", "weight",
                              aggregation="FIRST"),
            ],
        )
        self.settings = ObservationSettings(keys=["doc_id"], timestamp_col="ts")
        self.spec = GenSpec(keys=["doc_id"], key_names=["doc_id"], ts_col="event_ts",
                            features=BACKFILL_FEATURES)
        self.first_manifests = None

    def run_once(self, tr, it: int) -> Result:
        sink = os.path.join(self.work_dir, f"sink_{it}")
        shutil.rmtree(sink, ignore_errors=True)
        with tr.span("client"):
            out = self.client.get_offline_features(
                self.obs, FeatureQuery(self.requested), self.settings,
                source_cache=self.sources)
        out, checks = _observed(
            out,
            leak=F.col("src_ts") > F.col("ts"),
            matched=F.col("last_source").isNotNull(),
            lookup_miss=F.col("last_source").isNotNull() & F.col("src_weight").isNull(),
        )
        with tr.span("planner_exec"):
            join_ck = order_independent_checksum(out)
        with tr.span("materialize"):
            first = materialize(self.fact, self.spec, sink, BACKFILL)
        with tr.span("materialize_resume"):
            again = materialize(self.fact, self.spec, sink, BACKFILL)
        with tr.span("load_materialized"):
            loaded = load_materialized(self.spark, sink)
            snap_ck = order_independent_checksum(loaded)
        rows = self.n_obs + first["metrics"]["rows_written"]
        return Result(rows, f"{join_ck}:{snap_ck}",
                      {"checks": checks, "sink": sink, "first": first, "again": again,
                       "loaded": loaded})

    def check(self, res: Result, deep: bool) -> list[str]:
        h = res.handles
        cutoffs = BACKFILL.cutoffs()
        fails = []
        if sorted(h["first"]["written"]) != cutoffs:
            fails.append("fresh materialize did not write every cutoff")
        if h["again"]["written"] or sorted(h["again"]["skipped"]) != cutoffs:
            fails.append("resumed materialize did not skip every cutoff")
        sums = {c: (read_manifest(f"{h['sink']}/cutoff={c}") or {}).get("checksum")
                for c in cutoffs}
        if self.first_manifests is None:
            self.first_manifests = sums
        elif sums != self.first_manifests:
            fails.append("manifest checksums differ from the first fresh run")
        got = h["checks"].get
        if got["leak"]:
            fails.append(f"leakage: {got['leak']} rows with src_ts > ts")
        if not got["matched"]:
            fails.append("no observation matched a snapshot row")
        if got["lookup_miss"]:
            fails.append(f"{got['lookup_miss']} lookups missed a known source")
        if deep:
            total = sum(v for v in sums.values() if v is not None) % (1 << 64)
            back = order_independent_checksum(h["loaded"].drop("cutoff"))
            if None in sums.values() or back != total:
                fails.append("read-back checksum differs from the manifests")
        return fails

    def release(self, res: Result) -> None:
        shutil.rmtree(res.handles["sink"], ignore_errors=True)
        release_caches()

    def layer_counts(self, res: Result) -> dict:
        nbytes = 0
        for root, _, files in os.walk(res.handles["sink"]):
            nbytes += sum(os.path.getsize(os.path.join(root, f))
                          for f in files if f.endswith(".parquet"))
        m1, m2 = res.handles["first"]["metrics"], res.handles["again"]["metrics"]
        return {"materialize.partitions_written": m1["partitions_written"],
                "materialize.rows_written": m1["rows_written"],
                "materialize.bytes_written": nbytes,
                "materialize.partitions_skipped": m2["partitions_skipped"]}


WORKLOADS = {w.name: w for w in (TokensZipf, ClientBackfillUniform)}
