"""Streaming point-in-time enrichment: as-of join a live observation
stream against a feature table, one micro-batch at a time.

The reference serves online features by *pushing* materialized values to
Redis (StreamingFeatureGenerator.scala:95-125) and leaves point-in-time
enrichment of an event stream to the offline batch path
(FeatureJoinJob.scala). This module closes that gap Spark-natively: each
``foreachBatch`` micro-batch is a plain DataFrame, so the engine's
oracle-checked batch :func:`~feathr_spark.operators.asof.asof_join`
(union / prune strategies, tolerance, delay) runs
unchanged per batch — identical semantics online and offline, which is
exactly the train/serve-skew guarantee a feature store exists to give.

Scale notes (100 TB / long-running stream):

- **Persist the feature table and materialize it before starting** —
  the closure captures a DataFrame, and an unpersisted plan re-executes
  from source every micro-batch. ``feature_df.persist(); count()`` (or
  point it at a bucketed/Iceberg table so each batch join is
  exchange-free on the fact side).
- **Per-epoch idempotent sink**: the default sink writes each epoch into
  its own ``__epoch=<id>`` partition with dynamic partition overwrite —
  a replayed epoch (foreachBatch is at-least-once on retry) overwrites
  only its own partition, never duplicating rows: exactly-once output
  without a transactional sink.
- Each batch is obs-sized, not corpus-sized: ``strategy="prune"``
  keeps wide fact payloads (token arrays) out of every sort — a slim
  SWA ``LATEST`` of the fact ts, then the :func:`asof_fetch` hash join
  of the matched payload rows only. ``union`` (the default) carries the
  payload through its window sort as one ``LATEST`` row struct and suits
  narrow feature tables.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_asof_enrich(
    stream_df: DataFrame,
    feature_df: DataFrame,
    obs_keys: Sequence[str],
    fact_keys: Sequence[str],
    obs_ts: str,
    fact_ts: str,
    value_cols: Sequence[str],
    checkpoint_dir: str,
    sink_path: Optional[str] = None,
    batch_fn: Optional[Callable[[DataFrame, int], None]] = None,
    obs_ts_format: str = "epoch",
    fact_ts_format: str = "epoch",
    delay: float = 0.0,
    tolerance: Optional[float] = None,
    strategy: str = "union",
    trigger_available_now: bool = True,
    query_name: str = "feathr_stream_enrich",
):
    """Start a streaming query that point-in-time-enriches ``stream_df``.

    Every micro-batch of observation rows is as-of joined (latest fact
    row with ``fact_ts + delay <= obs_ts``, per key, and with a
    ``tolerance`` also ``fact_ts + delay + tolerance > obs_ts``) against
    ``feature_df`` using the batch :func:`asof_join` — per-row output is
    therefore INDEPENDENT of how the source splits into micro-batches,
    so the streamed result equals the batch join of the full input (the
    deterministic property the contract oracle checks).

    Exactly one of ``sink_path`` / ``batch_fn``:

    - ``sink_path``: enriched batches land as parquet under
      ``sink_path/__epoch=<id>/`` via dynamic partition overwrite
      (idempotent per epoch — see module scale notes).
    - ``batch_fn(enriched_df, epoch_id)``: custom sink (online push,
      upsert, metrics).

    Returns the started ``StreamingQuery``; with the default
    ``trigger_available_now=True`` it drains the backlog then stops
    (batch-incremental mode, same trigger discipline as
    :func:`feathr_spark.streaming.stream_to_sink`).
    """
    if (sink_path is None) == (batch_fn is None):
        raise ValueError("pass exactly one of sink_path / batch_fn")

    from feathr_spark.operators.asof import asof_join

    def _enrich(batch: DataFrame, epoch_id: int) -> None:
        enriched = asof_join(
            batch, feature_df, obs_keys, fact_keys, obs_ts, fact_ts,
            value_cols, obs_ts_format=obs_ts_format,
            fact_ts_format=fact_ts_format, delay=delay,
            tolerance=tolerance, strategy=strategy,
        )
        if batch_fn is not None:
            batch_fn(enriched, epoch_id)
        else:
            (
                enriched.withColumn("__epoch", F.lit(int(epoch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__epoch")
                .parquet(sink_path)
            )

    writer = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_enrich)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
