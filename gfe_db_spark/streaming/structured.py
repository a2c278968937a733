"""Structured Streaming operators (beyond the reference's batch-incremental
model): file-source streams, watermarked windowed aggregation, session
windows, and two foreachBatch sinks — an idempotent upsert and a CDC
merge — that commit into manifest-pointer tables (`plans/txtable.py`), so
readers of a sink see whole micro-batches.

These are the streaming forms of the batch queries in
`queries/streaming.py`; local tests drive them with the parquet file
source + `processAllAvailable()`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet (ST1's Spark-native
    form: new files under the path are the 'new releases').

    The file stream needs a declared schema; infer it from a static read of
    the same path so the stream adapts to whichever timestamp encoding the
    driver's generator used (nanos-long or TIMESTAMP_NTZ — see
    sources/tables.py), then normalize `ts` to session-zone TIMESTAMP.
    `max_files_per_trigger` bounds each micro-batch (source option) —
    pass 1 to force one batch per staged file when a test or entry needs
    genuine cross-batch state."""
    import os

    from gfe_db_spark.sources.tables import _normalize_timestamps

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # FileStreamSource requires a directory or glob (its internal
        # basePath must be a directory); turn a bare file into a glob
        root, ext = os.path.splitext(path)
        path = f"{root}*{ext}"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(path)
    return _normalize_timestamps(raw)


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation: late data beyond the
    watermark is dropped, state is bounded — the 100 TB streaming shape."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (session_window) — the streaming twin of
    queries/streaming.sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id — the at-least-once → effectively-
    once repair stage in front of any downstream agg. State is bounded by
    the watermark (dropDuplicatesWithinWatermark): an id's dedup entry is
    evicted once the watermark passes it, so replays inside the window are
    dropped and state never grows with stream length — the 100 TB/day
    shape, unlike unbounded dropDuplicates."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming query to completion against currently-available
    input (Trigger.AvailableNow semantics via processAllAvailable)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event-count and value totals, emitted once per user per
    micro-batch.

    This is the arbitrary-state shape Spark's built-in windowed aggs can't
    express (state schema ≠ output schema, custom merge logic). State is
    keyed by user_id, so it shards across executors with the shuffle; per-
    key state is two scalars — bounded regardless of stream length. Swap
    GroupStateTimeout for ProcessingTimeTimeout to evict idle users when
    the key domain is unbounded.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs, state: GroupState
    ):  # pragma: no cover - runs on executors
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def foreach_batch_upsert(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    n_buckets: int = 32,
):
    """ST3: exactly-once-ish idempotent sink — per micro-batch MERGE into a
    key-bucketed manifest-pointer table (plans/txtable.tx_upsert): only the
    buckets the batch touches are read and rewritten, so sink cost is
    O(batch), not O(table), and concurrent readers of the sink always
    resolve one complete snapshot. Delta MERGE INTO would replace this
    body unchanged on a Delta-enabled cluster."""
    from gfe_db_spark.plans.txtable import tx_upsert

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        tx_upsert(batch_df, target_path, keys, on_match="update", n_buckets=n_buckets)

    return stream_df.writeStream.foreachBatch(upsert).outputMode("update")


def cdc_merge_sink(state_path: str):
    """foreachBatch CDC merge with tombstone retention: each batch MERGEs
    into the state, a manifest-pointer table keyed on ``key``
    (plans/txtable.tx_upsert), keeping per key the arg-max change over
    the (ts, seq) version struct and summing `n_changes`. Only the
    buckets a batch touches are rewritten, the commit is atomic, and the
    state path may be any Hadoop URI (file://, hdfs://, s3a://).
    Tombstones (op='D') stay IN state so an out-of-order older update in
    a later batch cannot resurrect a deleted key; readers drop them via
    `cdc_current_snapshot`. Input batches need columns (key, version_ts,
    version_seq, op, value)."""
    from gfe_db_spark.plans.txtable import tx_upsert

    vkey = F.struct("version_ts", "version_seq")
    payload = F.struct("version_ts", "version_seq", "op", "value")

    def latest_change(existing: DataFrame, batch: DataFrame) -> DataFrame:
        # __bucket is a function of key, so grouping by it too is exact
        return (
            existing.unionByName(batch)
            .groupBy("__bucket", "key")
            .agg(
                F.max_by(payload, vkey).alias("s"),
                F.sum("n_changes").alias("n_changes"),
            )
            .select("key", "s.*", "n_changes", "__bucket")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        changes = batch_df.select(
            "key", "version_ts", "version_seq", "op", "value",
            F.lit(1).cast("long").alias("n_changes"),
        )
        tx_upsert(changes, state_path, ["key"], merge_fn=latest_change)

    return apply_batch


def cdc_current_snapshot(spark: SparkSession, state_path: str) -> DataFrame:
    """Read the CDC state and drop tombstoned keys — the current table."""
    from gfe_db_spark.plans.txtable import read_table

    return read_table(spark, state_path).filter(F.col("op") != "D")


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, on_left: str, on_right: str
) -> DataFrame:
    """Stream-static enrichment: join each streaming micro-batch against a
    static dimension. The static side re-plans per micro-batch, so Spark
    broadcasts it when it fits auto-broadcast (the common dims-are-small
    case) — the stream itself never shuffles for the join, and no state
    store is involved (unlike stream-stream joins). Inner join keeps the
    result append-able."""
    return events.join(
        F.broadcast(dim), events[on_left] == dim[on_right], "inner"
    ).drop(on_right)
