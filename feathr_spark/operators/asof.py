"""Point-in-time (as-of) join.

For every observation row, fetch the requested fact columns from the
latest fact row with ``fact_ts <= obs_ts - delay`` for the same entity
key (optionally within ``tolerance`` seconds) — the "closest from the
past" semantics of the reference's point-in-time join
(docs/concepts/point-in-time-join.md:19-77). Rows with no match keep
nulls (left outer); null observation keys never match.

One match formulation plus one fetch — a join over a UNION ALL with the
payload join pushed past it:

- ``union`` (default, pure JVM): union obs+fact rows on (key, ts),
  compute ``last(value, ignorenulls=True)`` over
  ``Window.partitionBy(key).orderBy(ts, is_obs)`` with an unbounded
  preceding row frame, keep obs rows. Fact rows sort before obs rows at
  the same timestamp, so a fact row AT the observation time is matched
  (right-inclusive). Single shuffle + sort, whole-stage codegen.
  Tolerance is enforced by also carrying the matched fact ts. Hot keys
  salt in replicate mode (``hot_key_threshold``).

- ``prune`` (wide fact payloads): the same union window over
  (key, ts) ONLY resolves each observation's matched fact timestamp;
  :func:`asof_fetch` then fetches the matched payload rows by hash join,
  so the payload never enters a sort.

- :func:`asof_fetch`: the payload fetch for a precomputed match
  timestamp — what ``prune`` runs after its match, and what a fused
  SWA ``LATEST`` pass over the fact ts feeds directly.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feathr_spark.functions.timestamps import to_epoch_micros
from feathr_spark.session import track_cache
from feathr_spark.operators.swa import (
    _default_buckets,
    _isolate_null_keys,
    _key_cols,
    _salt,
    _with_keys_ts,
    payload_hash,
)

MICROS = 1_000_000


def _est_width(dt) -> int:
    """Conservative per-row byte estimate for broadcast sizing: exact
    for fixed-width types, deliberately pessimistic for variable-width
    ones (a broadcast regime must never be granted on an optimistic
    guess — falling back to the shuffle plan is merely slower, an OOM
    is fatal)."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                       T.FloatType, T.BooleanType, T.DateType)):
        return 8
    if isinstance(dt, (T.LongType, T.DoubleType, T.TimestampType,
                       T.TimestampNTZType, T.DecimalType)):
        return 8
    if isinstance(dt, (T.StringType, T.BinaryType)):
        # document text / serialized blobs run to KBs per value
        return 1024
    if isinstance(dt, T.StructType):
        return sum(_est_width(f.dataType) for f in dt.fields)
    # arrays/maps: token arrays are "KBs each" (docstring) — assume 2 KB
    return 2048


def _parse_value_cols(value_cols):
    """``expr AS name`` specs -> (output names, exprs aliased ``__v{i}``).
    Plain column names pass through as their own output name."""
    out_names, vexprs = [], []
    for i, vc in enumerate(value_cols):
        low = vc.lower()
        if " as " in low:
            expr_part = vc[: low.rindex(" as ")]
            name = vc[low.rindex(" as ") + 4:].strip()
        else:
            expr_part, name = vc, vc
        out_names.append(name)
        vexprs.append(F.expr(expr_part).alias(f"__v{i}"))
    return out_names, vexprs


def asof_join(
    obs: DataFrame,
    fact: DataFrame,
    obs_keys: Sequence[str],
    fact_keys: Sequence[str],
    obs_ts: str,
    fact_ts: str,
    value_cols: Sequence[str],
    obs_ts_format: str = "epoch",
    fact_ts_format: str = "epoch",
    delay: float = 0.0,
    tolerance: Optional[float] = None,
    strategy: str = "union",
    suffix: str = "",
    hot_key_threshold: Optional[int] = None,
    salt_buckets: int = 8,
    slick: bool = False,
) -> DataFrame:
    """Left as-of join: obs columns + ``value_cols`` from the matched fact row.

    ``value_cols`` may be SQL expressions aliased ``expr AS name``; plain
    column names pass through. ``suffix`` is appended to output names to
    avoid clashes. ``slick=True`` trims the observation to (uid, keys,
    ts) for the merge and joins the wide row back by uid.
    """
    if slick:
        from feathr_spark.operators.swa import _slick_wrap

        return _slick_wrap(
            obs, obs_keys, obs_ts,
            lambda trimmed, keys, ts: asof_join(
                trimmed, fact, keys, fact_keys, ts, fact_ts, value_cols,
                obs_ts_format=obs_ts_format, fact_ts_format=fact_ts_format,
                delay=delay, tolerance=tolerance, strategy=strategy,
                suffix=suffix, hot_key_threshold=hot_key_threshold,
                salt_buckets=salt_buckets, slick=False,
            ),
        )
    n_keys = len(obs_keys)
    delay_us = int(round(delay * MICROS))
    tol_us = None if tolerance is None else int(round(tolerance * MICROS))

    obs2 = _with_keys_ts(obs, obs_keys, obs_ts, obs_ts_format)
    fact2 = _with_keys_ts(fact, fact_keys, fact_ts, fact_ts_format)
    cond = F.col("__ts").isNotNull()
    for c in _key_cols(n_keys):
        cond = cond & F.col(c).isNotNull()
    fact2 = fact2.where(cond)
    obs_main = _isolate_null_keys(obs2, n_keys)

    out_names, vexprs = _parse_value_cols(value_cols)
    out_names = [name + suffix for name in out_names]
    # long cast: the bucket xxhash64 must agree with the obs side's long __nk
    fact_proj = fact2.select(*_key_cols(n_keys), F.col("__ts"),
                             F.lit(0).cast("long").alias("__nk"), *vexprs)
    vcols = [f"__v{i}" for i in range(len(value_cols))]

    if strategy == "union":
        salted = bool(hot_key_threshold)
        if salted:
            obs_main, fact_proj = _salt(obs_main, fact_proj, n_keys,
                                        hot_key_threshold, salt_buckets)
        joined = _asof_union(obs_main, fact_proj, n_keys, vcols, delay_us, tol_us,
                             salted=salted)
    elif strategy == "prune":
        if hot_key_threshold:
            # slim phase sorts ~24B rows; a hot key's slim partition is
            # cheap, and salting would replicate payload in the fetch
            raise ValueError("prune strategy handles hot keys without salting; "
                             "drop hot_key_threshold")
        joined = _asof_prune(obs_main, fact_proj, n_keys, vcols, delay_us, tol_us)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    for vcol, name in zip(vcols, out_names):
        joined = joined.withColumnRenamed(vcol, name)
    return joined.drop(*[c for c in joined.columns if c.startswith("__")])


def _asof_union(obs, fact_proj, n_keys, vcols, delay_us, tol_us, salted=False,
                emit_match_ts=False):
    """Pure-JVM as-of: union + running-last window. With ``salted=True``
    the window partitions on (key, salt) as well — hot-key fact rows were
    replicated into every salt bucket by swa._salt, so each observation
    still sees its key's full history while the hot key's sort fans out
    across salt_buckets partitions. Keeps wide payload columns entirely
    JVM-side (no Arrow round-trip).

    ``emit_match_ts=True`` additionally emits ``__match_ts`` (the matched
    fact row's timestamp, null when unmatched / out of tolerance) — the
    handle the ``prune`` strategy hands to :func:`asof_fetch`."""
    kcols = _key_cols(n_keys)
    if salted:
        kcols = kcols + ["__salt"]
    obs_u = obs.withColumn("__is_obs", F.lit(1)) \
        .withColumn("__ts_eff", F.col("__ts") - F.lit(delay_us))
    fact_u = fact_proj.withColumn("__is_obs", F.lit(0)) \
        .withColumn("__ts_eff", F.col("__ts")).withColumn("__fact_ts", F.col("__ts"))
    # deterministic tie-break among exact-ts fact duplicates: the
    # max-payload-hash row wins (same rule as the prune strategy's
    # max_by collapse — strategies agree bit-for-bit, retries too)
    fact_u = fact_u.withColumn("__tb", payload_hash(vcols))
    u = obs_u.unionByName(fact_u, allowMissingColumns=True)
    # pin the window-stage task count (see swa._swa_union: AQE coalesces
    # the window exchange into coarse waves otherwise)
    u = u.repartition(_default_buckets(obs), *kcols, "__nk")
    # pack the fact payload into one struct so the matched ROW is picked
    # atomically (per-column last-non-null would mix values across rows)
    u = u.withColumn(
        "__row",
        F.when(F.col("__is_obs") == 0,
               F.struct(*[F.col(c) for c in vcols], F.col("__fact_ts"))),
    )
    # fact rows (is_obs=0) order before obs rows at the same effective ts
    # -> a fact row exactly at obs_ts - delay is visible (right-inclusive)
    w = (
        Window.partitionBy(*kcols, "__nk")
        .orderBy(F.col("__ts_eff"), F.col("__is_obs"), F.col("__tb"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = u.withColumn("__row", F.last("__row", ignorenulls=True).over(w))
    out = out.where(F.col("__is_obs") == 1)
    matched = F.col("__row").isNotNull()
    if tol_us is not None:
        matched = matched & (F.col("__row.__fact_ts") > (F.col("__ts_eff") - F.lit(tol_us)))
    for vcol in vcols:
        out = out.withColumn(vcol, F.when(matched, F.col(f"__row.{vcol}")))
    if emit_match_ts:
        out = out.withColumn("__match_ts", F.when(matched, F.col("__row.__fact_ts")))
    return out


def _asof_prune(obs, fact_proj, n_keys, vcols, delay_us, tol_us):
    """Two-phase as-of for WIDE fact payloads (the 100 TB shape).

    The union strategy shuffles + sorts the full fact payload and
    materializes it once more inside the window — with ~KB payload rows
    (e.g. token arrays) that is ~3 passes of memory traffic over data
    that mostly never reaches the output. Here the payload never enters
    a sort:

    1. **Slim match**: union as-of over (keys, ts) ONLY — resolves each
       observation's matched fact timestamp (``__match_ts``). The sort
       carries a few dozen bytes per fact row. The result is persisted
       (MEMORY_AND_DISK): the fetch scans it twice, and when ``obs`` is
       itself a computed pipeline (the planner's multi-stage output) an
       unpersisted branch would re-execute that whole upstream DAG —
       measured as a 2x job on the flagship. Obs-scale narrow data;
       eviction just recomputes (resumable, unlike a localCheckpoint).
    2. **Pruned fetch**: :func:`asof_fetch` with the shuffle plan pinned
       (``broadcast_threshold=None``, so no pair-count job): SHUFFLE_HASH
       left-semi of the fact payload by the distinct matched
       ``(key, ts)`` pairs, ``max_by`` payload-hash tie collapse (the
       winner the union sort picks), SHUFFLE_HASH join back. The payload
       crosses exactly ONE exchange; Spark's runtime bloom filter (on in
       session.py) can push the pair filter below even that.

    On a cluster where fact is stored bucketed by key
    (sources/bucketed.py) the fetch elides its fact-side exchange
    entirely — the storage-partitioned layout is the end state for
    repeated 100 TB joins.
    """
    from pyspark import StorageLevel

    kcols = _key_cols(n_keys)
    fact_slim = fact_proj.select(*kcols, "__ts", "__nk")
    slim = _asof_union(obs, fact_slim, n_keys, [], delay_us, tol_us,
                       emit_match_ts=True).drop("__row")
    # the returned frame is lazy over this cache; registered so
    # feathr_spark.release_caches() frees it after the caller materializes.
    # Deliberately NOT built eagerly: slim is scanned by two leaf stages
    # (pairs semi-join side, final join-back) that AQE submits
    # concurrently, so racing tasks can compute a partition twice before
    # the cache fills — but slim is the NARROW (keys, ts) table, the
    # redundant work is bounded at 2x a cheap kernel and overlaps idle
    # cores, and slim's value is deterministic so both computations
    # agree. An eager count() here instead serializes a full extra job
    # per call: measured +0.8s (23%) on the sf0.1 flagship. (Contrast
    # minhash_lsh_dedup, where the raced table carries wide signatures
    # and IS built eagerly.)
    slim = track_cache(slim.persist(StorageLevel.MEMORY_AND_DISK))
    return asof_fetch(slim, fact_proj, kcols, kcols, "__match_ts", "__ts",
                      vcols, broadcast_threshold=None)


def asof_fetch(
    obs: DataFrame,
    fact: DataFrame,
    obs_keys: Sequence[str],
    fact_keys: Sequence[str],
    match_ts_col: str,
    fact_ts: str,
    value_cols: Sequence[str],
    broadcast_threshold: int | None = 4_000_000,
    payload_broadcast_threshold: int = 500_000,
    broadcast_max_bytes: int = 256 << 20,
) -> DataFrame:
    """Payload fetch for a PRECOMPUTED as-of match timestamp.

    The expensive half of an as-of join is resolving each observation's
    matched fact timestamp; the fetch of the matched row's payload is a
    plain hash join. When a pipeline already runs a sliding-window
    cogroup pass over the same (keys, ts) — the flagship SWA battery —
    the match timestamp comes for free as one more ``LATEST`` feature
    over the fact ts column (same Arrow kernel pass, zero extra
    shuffle), and this function performs only the remaining fetch:

    1. distinct ``(key, match_ts)`` pairs from the observations,
    2. left-semi prune of the fact payload by those pairs,
    3. deterministic exact-ts tie collapse (``max_by`` payload hash —
       the same winner as the ``union`` strategy's sort),
    4. hash join back (``SHUFFLE_HASH`` — the payload never enters a
       sort and crosses at most ONE exchange; zero with an
       entity-partitioned or bucketed fact, sources/bucketed.py).

    Join-strategy regimes: when the distinct (key, match_ts) pair count
    fits ``broadcast_threshold`` — the common "score a bounded
    observation set against a huge corpus" shape — the SKINNY pairs
    table broadcasts into the semi-prune, so the token-carrying fact
    crosses ZERO exchanges (the only fact-side shuffle left is the
    matched-payload tie-collapse groupBy, bounded by the pair count).
    When the count also fits ``payload_broadcast_threshold`` (tighter:
    these rows CARRY the payload, KBs each for token arrays) the
    matched payloads broadcast into the join-back and the wide
    observation frame never shuffles either. Past the thresholds
    (obs-scale pairs, e.g. a full backfill) it falls back to the
    SHUFFLE_HASH plan above, whose fact exchange is the unavoidable
    one. The pair count costs one skinny aggregation over the
    (persisted) obs frame; pass ``broadcast_threshold=None`` to skip
    the count and pin the shuffle plan. Measured at sf0.1 (150k pairs,
    1.5M fact rows): 2.27 s -> 1.91 s with identical output.

    Both row thresholds are additionally capped by ``broadcast_max_bytes``
    (default 256 MB) via a schema-derived row-width estimate — fixed
    widths for numeric/timestamp columns, conservative defaults for
    variable-width ones (1 KB strings/binary, 2 KB arrays/maps, matching the
    "KBs each for token arrays" payload shape) — so 4M pairs of wide
    multi-column keys or 500k token-array payload rows cannot produce a
    multi-GB broadcast just because the ROW count passes. The implied
    memory bill of a granted broadcast is therefore
    <= broadcast_max_bytes per executor (plus the driver copy).

    ``match_ts_col`` must hold raw ``fact_ts`` values (what a
    ``LATEST`` feature over ``fact_ts`` emits), null for unmatched
    rows; unmatched observations keep null payloads (left join).
    ``obs`` feeds TWO subtrees here (the pairs build and the final
    join-back): when it is a computed pipeline rather than a stored
    table, persist + materialize it first or the upstream DAG runs
    twice (AQE submits both leaf stages concurrently).
    Bounded-window LATEST gives bounded-tolerance as-of semantics:
    ``SWAFeature(m, "LATEST", ts_col, WindowSpec(w))`` + fetch ==
    ``asof_join(..., tolerance=w)`` up to the window's left-boundary
    rule ((t-w, t] exclusive-left vs tolerance's inclusive-left).

    Reference parity: same output contract as asof_join
    (feathr-impl swj/SlidingWindowJoin.scala joins features back to the
    observation by key — this is that join-back, with the match
    computed in the shared kernel pass).
    """
    out_names, vexprs = _parse_value_cols(value_cols)
    vcols = [f"__v{i}" for i in range(len(value_cols))]
    fk = [f"__fk{i}" for i in range(len(fact_keys))]

    fact_proj = fact.select(
        *[F.col(k).alias(a) for k, a in zip(fact_keys, fk)],
        F.col(fact_ts).alias("__fts"), *vexprs)
    pairs = (obs.where(F.col(match_ts_col).isNotNull())
             .select(*[F.col(o).alias(a) for o, a in zip(obs_keys, fk)],
                     F.col(match_ts_col).alias("__fts"))
             .dropDuplicates())
    # Regime decision from a PRE-dedup upper bound: non-null obs rows
    # >= distinct pairs, so "bound fits" -> broadcast is definitely
    # safe, and "bound exceeds" merely falls back to the shuffle plan
    # (conservative, never wrong). A single-column count over the
    # (persisted) obs frame is a column-pruned cache scan — unlike
    # counting the deduped pairs themselves, which costs a full
    # obs-scale shuffle before the regime is even chosen.
    n_bound = (obs.where(F.col(match_ts_col).isNotNull())
               .select(match_ts_col).count()
               if broadcast_threshold is not None else None)
    # byte caps: rows x schema-estimated width must also fit (ADVICE r4
    # — a row threshold alone lets wide keys / KB token-array payloads
    # build multi-hundred-MB broadcasts on default-sized drivers)
    pair_w = sum(_est_width(f.dataType) for f in pairs.schema.fields)
    payload_w = pair_w + sum(_est_width(fact_proj.schema[v].dataType)
                             for v in vcols)
    small = (n_bound is not None and n_bound <= broadcast_threshold
             and n_bound * pair_w <= broadcast_max_bytes)
    small_payload = (small and n_bound <= payload_broadcast_threshold
                     and n_bound * payload_w <= broadcast_max_bytes)
    if small:
        fact_m = fact_proj.join(F.broadcast(pairs),
                                on=fk + ["__fts"], how="left_semi")
    else:
        fact_m = fact_proj.join(pairs.hint("SHUFFLE_HASH"),
                                on=fk + ["__fts"], how="left_semi")
    fact_u = (fact_m.groupBy(*fk, "__fts")
              .agg(F.max_by(F.struct(*[F.col(v) for v in vcols]),
                            payload_hash(vcols)).alias("__payload")))
    right = fact_u.select(
        *fk, F.col("__fts"),
        *[F.col(f"__payload.{v}").alias(n) for v, n in zip(vcols, out_names)])
    cond = F.col(match_ts_col) == right["__fts"]
    for o, a in zip(obs_keys, fk):
        cond = cond & (obs[o] == right[a])
    if small_payload:
        # matched payloads are bounded by the pair count -> broadcast;
        # the wide observation frame never shuffles
        return (obs.join(F.broadcast(right), on=cond, how="left")
                .drop(*fk, "__fts"))
    # hint on RIGHT: build the hash table on the deduped matched-payload
    # side, never on the (arbitrarily wide, obs-scale) observation side
    return (obs.join(right.hint("SHUFFLE_HASH"), on=cond, how="left")
            .drop(*fk, "__fts"))
