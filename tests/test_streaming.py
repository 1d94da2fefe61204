"""Structured Streaming tests: AvailableNow micro-batch upsert with
checkpointed exactly-once-ish semantics."""

import json
import random

import pytest

from shopify_etl_spark.pipeline.txn_store import PairStore
from shopify_etl_spark.streaming import stream_upsert_orders

from tests.shopify_fixtures import gen_order


def _write_jsonl(path, orders):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(json.dumps(o) for o in orders))


@pytest.fixture()
def dirs(tmp_path):
    return {
        "src": tmp_path / "landing",
        "target": str(tmp_path / "fact_orders"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def test_stream_upsert_two_batches(spark, dirs):
    store = PairStore(spark, dirs["target"], "created_month")
    rng = random.Random(7)
    batch1 = [gen_order(rng, i) for i in range(20)]
    _write_jsonl(dirs["src"] / "b1.jsonl", batch1)
    q = stream_upsert_orders(spark, str(dirs["src"]), dirs["target"], dirs["ckpt"])
    q.awaitTermination(120)
    out1 = store.read_table("fact_orders")
    assert out1.count() == 20

    # batch 2: 5 updates (newer updatedAt) + 5 new orders
    updates = [gen_order(rng, i, updated_day=28) for i in range(5)]
    news = [gen_order(rng, 100 + i) for i in range(5)]
    _write_jsonl(dirs["src"] / "b2.jsonl", updates + news)
    q2 = stream_upsert_orders(spark, str(dirs["src"]), dirs["target"], dirs["ckpt"])
    q2.awaitTermination(120)

    out2 = store.read_table("fact_orders")
    assert out2.count() == 25  # 20 + 5 new, updates absorbed
    assert out2.groupBy("order_id").count().filter("count>1").count() == 0
    upd = out2.filter("order_id = 'R-0'").collect()[0]
    assert upd.updated_at.day == 28

    # restart with the same checkpoint and no new files → no-op: no new
    # version published, same table
    version = store.current_version()
    q3 = stream_upsert_orders(spark, str(dirs["src"]), dirs["target"], dirs["ckpt"])
    q3.awaitTermination(120)
    assert store.current_version() == version
    assert store.read_table("fact_orders").count() == 25

