"""Structured Streaming twin of the incremental batch feed.

The reference is strictly micro-batch-by-cron (SURVEY.md §2.10), but its
semantics map 1:1 onto Structured Streaming:

* persisted ``source_updated_at`` watermark  →  ``withWatermark``
* lookback window re-reading late updates    →  watermark delay
* idempotent keyed upsert absorbing replays  →  ``foreachBatch`` MERGE
* daily cron trigger                          →  ``Trigger.AvailableNow``

``stream_upsert_orders`` is the production shape: JSONL landing dir →
flatten → dedup-within-batch → keyed upsert per micro-batch, committed
through the batch runner's manifest store (``pipeline.txn_store``),
exactly-once via checkpoint + idempotent merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import flatten, merge
from ..pipeline.runner import computed_once
from ..pipeline.txn_store import PairStore
from ..schemas import NODE_SCHEMAS


def stream_nodes_jsonl(spark: SparkSession, src_dir: str, entity: str) -> DataFrame:
    """Streaming source: bulk-JSONL landing directory (one node per line,
    the reference's bulk-operations format, run_logs.txt:143-147), wrapped
    to the same ``node`` contract the batch flatteners consume.

    ``maxFilesPerTrigger`` is deliberately unset: with AvailableNow the
    source back-pressures itself; at scale tune via option on the caller.
    """
    return (
        spark.readStream.schema(NODE_SCHEMAS[entity])
        .json(src_dir)
        .select(F.struct("*").alias("node"))
    )


def stream_upsert_orders(
    spark: SparkSession,
    src_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    store: str = "retail",
):
    """Incremental order feed → fact_orders, as a stream.

    Per micro-batch: flatten → latest-per-key within the batch (a batch
    can carry several versions of one order) → keyed upsert into the
    target, committed through the same manifest store as the batch
    runner's orders pair (``PairStore``, table ``fact_orders`` under
    ``target_dir``; read it back with ``PairStore.read_table``). A
    micro-batch touches only the month partitions its keys live in, and
    one manifest rename publishes it, so a crash mid-batch leaves readers
    on the previous version. The upsert is idempotent, so checkpoint
    replays after a crash converge to the same table — the streaming
    analog of the reference's lookback + ON CONFLICT design
    (daily_scheduler.py:75-81).

    No ``withWatermark`` here: watermarks only affect stateful operators
    (aggregations, dedup, stream-stream joins), and a foreachBatch sink
    has none — late rows always reach the merge, which is the point (the
    idempotent upsert absorbs them). The watermarked operators live in
    ``windowed_order_counts`` and ``stateful.running_event_totals``.

    Returns the started query; callers ``awaitTermination()``.
    """
    nodes = stream_nodes_jsonl(spark, src_dir, "orders")
    orders = flatten.flatten_orders(nodes, store)

    def merge_batch(batch: DataFrame, _epoch: int) -> None:
        staged = merge.latest_per_key(batch, "order_id", "updated_at", "order_number")
        # same commit as the batch runner's (created_at is immutable per
        # order, so keys can't move across partitions)
        with computed_once() as once:
            PairStore(batch.sparkSession, target_dir, "created_month").commit([(
                "fact_orders",
                once(merge.with_month_partition(staged)),
                lambda ex, st: st if ex is None else merge.upsert(ex, st, "order_id"),
            )])

    return (
        orders.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def session_event_counts(
    spark: SparkSession,
    src_dir: str,
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Event-time SESSION windows over a streaming feed — the streaming
    twin of the batch ``sessionize_events`` gaps-and-islands query.

    ``session_window`` state MERGES: windows extend while events keep
    arriving within ``gap`` of the current bound, and a session only
    finalizes (emits, in append mode) once the watermark passes its
    close — unlike tumbling windows, the window set itself is data-
    dependent per key. State per key is one open window, bounded by the
    watermark, so a hot user costs O(1) state, not O(events).
    """
    from .joins_stream import stream_event_feed

    feed = stream_event_feed(spark, src_dir)
    return (
        feed.withWatermark("ts", watermark_delay)
        .groupBy(F.col("user_id"), F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def windowed_order_counts(
    spark: SparkSession, src_dir: str, watermark_delay: str = "2 days"
) -> DataFrame:
    """Watermarked tumbling-window aggregate (orders per day) — the
    streaming twin of the daily snapshot (M5 / SURVEY §2.10). Late rows
    beyond the watermark are dropped by the engine instead of silently
    double-counting."""
    nodes = stream_nodes_jsonl(spark, src_dir, "orders")
    ts = F.col("node").getField("updatedAt").cast("timestamp")
    return (
        nodes.select(ts.alias("updated_at"))
        .withWatermark("updated_at", watermark_delay)
        .groupBy(F.window("updated_at", "1 day").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(F.col("day.start").alias("day_start"), "n_orders")
    )
