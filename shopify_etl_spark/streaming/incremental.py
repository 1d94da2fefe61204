"""Structured Streaming form of the incremental order feed.

The reference is strictly micro-batch-by-cron (SURVEY.md §2.10), but its
feed maps onto Structured Streaming:

* persisted ``source_updated_at`` watermark  →  checkpointed file offsets
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
    idempotent upsert absorbs them).

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
