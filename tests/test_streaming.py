"""Structured Streaming tests: AvailableNow micro-batch upsert with
checkpointed exactly-once-ish semantics, windowed aggregation."""

import json
import os
import random

import pytest

from shopify_etl_spark.pipeline.txn_store import PairStore
from shopify_etl_spark.streaming import stream_upsert_orders, windowed_order_counts

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


def test_windowed_counts(spark, dirs, tmp_path):
    rng = random.Random(11)
    orders = [gen_order(rng, i, updated_day=(i % 3) + 1) for i in range(30)]
    _write_jsonl(dirs["src"] / "w.jsonl", orders)
    agg = windowed_order_counts(spark, str(dirs["src"]))
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_counts ORDER BY day_start").collect()
    assert sum(r.n_orders for r in rows) == 30
    assert len(rows) == 3  # days 1..3


def test_stream_session_windows(spark, tmp_path):
    """Event-time session windows merge while events arrive within the
    gap and emit once the watermark closes them."""
    from shopify_etl_spark.streaming import session_event_counts

    t = "2024-05-01T{h:02d}:{m:02d}:00.000Z"
    rows = [
        {"user_id": 1, "event_id": "a", "ts": t.format(h=10, m=0)},
        {"user_id": 1, "event_id": "b", "ts": t.format(h=10, m=10)},
        {"user_id": 1, "event_id": "c", "ts": t.format(h=10, m=20)},
        {"user_id": 1, "event_id": "d", "ts": t.format(h=12, m=0)},  # new session
        {"user_id": 2, "event_id": "e", "ts": t.format(h=10, m=5)},
        # sentinel far ahead: advances the watermark so real sessions close
        {"user_id": 9, "event_id": "z", "ts": "2024-05-03T00:00:00.000Z"},
    ]
    _write_jsonl(tmp_path / "sess" / "b1.jsonl", rows)
    agg = session_event_counts(spark, str(tmp_path / "sess"), gap="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start.strftime("%H:%M"), r.session_end.strftime("%H:%M"), r.n_events)
        for r in spark.sql("SELECT * FROM sess_counts WHERE user_id < 9").collect()
    }
    assert got == {
        (1, "10:00", "10:50", 3),  # merged window: last event + gap
        (1, "12:00", "12:30", 1),
        (2, "10:05", "10:35", 1),
    }


def test_stream_near_dedup_across_batches(spark, tmp_path):
    """MinHash/LSH near-dup state persists across micro-batches: a
    near-duplicate arriving in a later batch is dropped against the
    surviving corpus, within-batch groups keep their smallest id, and
    checkpoint replay is a no-op."""
    from shopify_etl_spark.streaming import read_deduped, stream_near_dedup_docs

    base = [f"tok{i}" for i in range(40)]
    a = " ".join(base)
    b = " ".join(["tok0x"] + base[1:])            # ~95% shingle overlap with a
    d = " ".join(base[:-1] + ["tok39y"])          # near-dup of a, later batch
    c = " ".join(f"other{i}" for i in range(40))  # distinct
    e = " ".join(f"fresh{i}" for i in range(40))  # distinct

    src = tmp_path / "feed"
    out, state, ckpt = (
        str(tmp_path / "kept"), str(tmp_path / "bands"), str(tmp_path / "ck"),
    )
    t = "2024-05-01T10:{m:02d}:00.000Z"

    def run(name, rows):
        _write_jsonl(src / name, rows)
        q = stream_near_dedup_docs(spark, str(src), out, state, ckpt)
        q.awaitTermination(120)

    run("b1.jsonl", [
        {"doc_id": 1, "text": a, "ingested_at": t.format(m=0)},
        {"doc_id": 2, "text": b, "ingested_at": t.format(m=1)},
        {"doc_id": 3, "text": c, "ingested_at": t.format(m=2)},
    ])
    assert sorted(r.doc_id for r in read_deduped(spark, out).collect()) == [1, 3]

    run("b2.jsonl", [
        {"doc_id": 4, "text": d, "ingested_at": t.format(m=5)},
        {"doc_id": 5, "text": e, "ingested_at": t.format(m=6)},
    ])
    assert sorted(r.doc_id for r in read_deduped(spark, out).collect()) == [1, 3, 5]

    # replay: same checkpoint, no new files → nothing changes
    run("b2.jsonl", [
        {"doc_id": 4, "text": d, "ingested_at": t.format(m=5)},
        {"doc_id": 5, "text": e, "ingested_at": t.format(m=6)},
    ])
    assert sorted(r.doc_id for r in read_deduped(spark, out).collect()) == [1, 3, 5]


def test_stream_stream_join_inner_matches_batch(spark, tmp_path):
    """Stream-stream interval join (purchase → clicks ≤30 min earlier,
    both sides streaming) must equal the same join run as batch SQL."""
    from shopify_etl_spark.streaming import stream_click_purchase_join

    t = "2024-05-01T10:{m:02d}:00.000Z"
    clicks = [
        {"user_id": 1, "event_id": "c1", "ts": t.format(m=0)},
        {"user_id": 1, "event_id": "c2", "ts": t.format(m=20)},
        {"user_id": 2, "event_id": "c3", "ts": t.format(m=5)},
        {"user_id": 3, "event_id": "c4", "ts": t.format(m=10)},  # no purchase
    ]
    purchases = [
        {"user_id": 1, "event_id": "p1", "ts": t.format(m=25)},  # c1 (25m), c2 (5m)
        {"user_id": 2, "event_id": "p2", "ts": t.format(m=50)},  # none: 45m > 30m
        {"user_id": 4, "event_id": "p3", "ts": t.format(m=30)},  # no click
    ]
    _write_jsonl(tmp_path / "clicks" / "b1.jsonl", clicks)
    _write_jsonl(tmp_path / "purchases" / "b1.jsonl", purchases)

    joined = stream_click_purchase_join(
        spark, str(tmp_path / "clicks"), str(tmp_path / "purchases")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_inner")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_inner").collect()
    }
    assert got == {(1, "c1", "p1"), (1, "c2", "p1")}


def test_stream_stream_join_left_outer_emits_after_close(spark, tmp_path):
    """Left-outer: unmatched clicks emit null purchase columns once the
    watermark closes their window (a far-future row on both feeds pushes
    the watermark past every real window)."""
    from shopify_etl_spark.streaming import stream_click_purchase_join

    clicks = [
        {"user_id": 1, "event_id": "c1", "ts": "2024-05-01T10:00:00.000Z"},
        {"user_id": 3, "event_id": "c_none", "ts": "2024-05-01T10:10:00.000Z"},
        {"user_id": 9, "event_id": "c_adv", "ts": "2024-05-02T12:00:00.000Z"},
    ]
    purchases = [
        {"user_id": 1, "event_id": "p1", "ts": "2024-05-01T10:25:00.000Z"},
        {"user_id": 9, "event_id": "p_adv", "ts": "2024-05-02T12:00:00.000Z"},
    ]
    _write_jsonl(tmp_path / "clicks" / "b1.jsonl", clicks)
    _write_jsonl(tmp_path / "purchases" / "b1.jsonl", purchases)

    joined = stream_click_purchase_join(
        spark, str(tmp_path / "clicks"), str(tmp_path / "purchases"),
        how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_outer")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sso"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_outer").collect()
    }
    assert (1, "c1", "p1") in rows
    assert (3, "c_none", None) in rows  # closed window, final no-partner


def test_stream_dedup_docs(spark, dirs, tmp_path):
    """Duplicate fingerprints within the watermark window pass exactly
    once, across micro-batches and query restarts (checkpointed state)."""
    from shopify_etl_spark.streaming import stream_dedup_docs

    src = tmp_path / "docfeed"
    ckpt = str(tmp_path / "dedup_ckpt")
    out = str(tmp_path / "deduped")

    def run_batch(name, rows):
        _write_jsonl(src / name, rows)
        q = (
            stream_dedup_docs(spark, str(src), watermark_delay="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    t = "2024-05-01T10:{m:02d}:00.000Z"
    run_batch("b1.jsonl", [
        {"doc_id": 1, "text": "alpha beta gamma", "ingested_at": t.format(m=0)},
        {"doc_id": 2, "text": "Alpha  beta GAMMA", "ingested_at": t.format(m=1)},  # same after normalization
        {"doc_id": 3, "text": "something else", "ingested_at": t.format(m=2)},
    ])
    got1 = spark.read.parquet(out)
    assert got1.count() == 2  # doc 2 deduped against doc 1

    # a later batch re-sends the same text and adds a new one; state from
    # the checkpoint still suppresses the dup
    run_batch("b2.jsonl", [
        {"doc_id": 4, "text": "alpha beta gamma", "ingested_at": t.format(m=5)},
        {"doc_id": 5, "text": "brand new text", "ingested_at": t.format(m=6)},
    ])
    got2 = spark.read.parquet(out)
    assert got2.count() == 3
    assert sorted(r.doc_id for r in got2.collect()) in ([1, 3, 5], [2, 3, 5])


def test_stream_cms_incremental_merge_equals_whole(spark, tmp_path):
    """Streaming CMS maintenance: per-batch grids merged across epochs
    equal the one-shot sketch of the full history EXACTLY (merge
    associativity), running estimates never undercount, and a replayed
    epoch is skipped (no double counting — the failure mode that matters
    for a SUM-mergeable state)."""
    from shopify_etl_spark.operators import sketches
    from shopify_etl_spark.streaming.sketch_stream import read_sketch, stream_cms

    src = tmp_path / "tokfeed"
    sk_dir = str(tmp_path / "cms")
    ckpt = str(tmp_path / "cms_ckpt")
    schema = "token string, ingested_at string"

    def run_batch(name, tokens):
        _write_jsonl(src / name, [
            {"token": tk, "ingested_at": "2024-05-01T10:00:00.000Z"} for tk in tokens
        ])
        feed = spark.readStream.schema(schema).json(str(src))
        q = stream_cms(feed, "token", sk_dir, ckpt, width=64, depth=3)
        q.awaitTermination(120)

    b1 = ["a", "b", "a", "c", "a"]
    b2 = ["b", "b", "d", "a"]
    run_batch("b1.jsonl", b1)
    run_batch("b2.jsonl", b2)

    merged = read_sketch(spark, sk_dir)
    whole = sketches.cms_build(
        spark.createDataFrame([(t,) for t in b1 + b2], ["token"]),
        "token", width=64, depth=3,
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))

    keys = spark.createDataFrame([(k,) for k in "abcd"], ["token"])
    est = {r.token: r.cms_count for r in
           sketches.cms_query(merged, keys, "token", width=64, depth=3).collect()}
    truth = {"a": 4, "b": 3, "c": 1, "d": 1}
    for k, n in truth.items():
        assert est[k] >= n, (k, est[k], n)

    # replay the same feed on the same checkpoint: no new epochs, no change
    before = sorted(map(tuple, merged.collect()))
    feed = spark.readStream.schema(schema).json(str(src))
    q = stream_cms(feed, "token", sk_dir, ckpt, width=64, depth=3)
    q.awaitTermination(120)
    assert sorted(map(tuple, read_sketch(spark, sk_dir).collect())) == before


def test_fresh_checkpoint_against_live_store_refused(spark, tmp_path):
    """The store/checkpoint pairing invariant is ENFORCED: a fresh
    checkpoint pointed at an existing store raises (both the identity
    binding and, for pre-binding stores, the batch-counter check)
    instead of colliding batch 0 with the old epoch=0 and silently
    skipping it — which would lose that batch's contribution with no
    error."""
    from shopify_etl_spark.streaming.sketch_stream import (
        _BINDING_FILE,
        read_sketch,
        stream_cms,
    )

    src = tmp_path / "tokfeed"
    sk_dir = str(tmp_path / "cms")
    ckpt = str(tmp_path / "cms_ckpt")
    schema = "token string, ingested_at string"

    def run(name, tokens, checkpoint):
        _write_jsonl(src / name, [
            {"token": tk, "ingested_at": "2024-05-01T10:00:00.000Z"}
            for tk in tokens
        ])
        feed = spark.readStream.schema(schema).json(str(src))
        return stream_cms(feed, "token", sk_dir, checkpoint, width=64, depth=3)

    run("b1.jsonl", ["a", "b", "a"], ckpt).awaitTermination(120)
    run("b2.jsonl", ["c", "c"], ckpt).awaitTermination(120)
    assert (tmp_path / "cms" / _BINDING_FILE).exists()  # identity recorded
    before = sorted(map(tuple, read_sketch(spark, sk_dir).collect()))

    # 1. identity check: fresh checkpoint, marker present
    q = run("b3.jsonl", ["d"], str(tmp_path / "ck_fresh"))
    with pytest.raises(Exception, match="pairing violation"):
        q.awaitTermination(120)

    # 2. counter check: pre-binding store (marker deleted), fresh checkpoint
    #    restarts at batch 0 < max committed epoch 1
    (tmp_path / "cms" / _BINDING_FILE).unlink()
    q = run("b4.jsonl", ["e"], str(tmp_path / "ck_fresh2"))
    with pytest.raises(Exception, match="pairing violation"):
        q.awaitTermination(120)

    # the refused batches wrote nothing and adopted nothing
    assert sorted(map(tuple, read_sketch(spark, sk_dir).collect())) == before
    assert not (tmp_path / "cms" / _BINDING_FILE).exists()

    # the PAIRED checkpoint still works after the refusals (and re-adopts)
    run("b5.jsonl", ["f"], ckpt).awaitTermination(120)
    assert (tmp_path / "cms" / _BINDING_FILE).exists()
    assert len(read_sketch(spark, sk_dir).collect()) > 0


def test_stream_distinct_sketches_matches_one_shot(spark, tmp_path):
    """Streaming HLL maintenance: epoch-unioned per-batch sketches give
    the same per-group estimates as sketching the full history at once
    (exact in the sparse regime), and replay on the same checkpoint is a
    no-op."""
    from shopify_etl_spark.operators import sketches
    from shopify_etl_spark.streaming.sketch_stream import (
        read_distinct,
        stream_distinct_sketches,
    )

    src = tmp_path / "userfeed"
    sk_dir = str(tmp_path / "hll")
    ckpt = str(tmp_path / "hll_ckpt")
    schema = "grp string, user_id long"

    def run_batch(name, rows):
        _write_jsonl(src / name, [{"grp": g, "user_id": u} for g, u in rows])
        feed = spark.readStream.schema(schema).json(str(src))
        q = stream_distinct_sketches(feed, "user_id", ["grp"], sk_dir, ckpt)
        q.awaitTermination(120)

    b1 = [("a", 1), ("a", 2), ("b", 1), ("a", 1)]
    b2 = [("a", 2), ("a", 3), ("b", 9), ("c", 5)]
    run_batch("b1.jsonl", b1)
    run_batch("b2.jsonl", b2)

    got = {r.grp: r.distinct_keys for r in read_distinct(spark, sk_dir, ["grp"]).collect()}
    whole = spark.createDataFrame(b1 + b2, schema)
    want = {
        r.grp: r.distinct_keys
        for r in sketches.rollup_distinct(
            sketches.distinct_sketches(whole, "user_id", ["grp"]), ["grp"]
        ).collect()
    }
    assert got == want == {"a": 3, "b": 2, "c": 1}  # sparse regime: exact

    feed = spark.readStream.schema(schema).json(str(src))
    q = stream_distinct_sketches(feed, "user_id", ["grp"], sk_dir, ckpt)
    q.awaitTermination(120)
    assert {r.grp: r.distinct_keys
            for r in read_distinct(spark, sk_dir, ["grp"]).collect()} == want


def test_stream_cms_crash_epoch_rewritten_committed_skipped(spark, tmp_path):
    """Crash-injection for the replay-skip gate: an epoch dir that exists
    but never COMMITTED (no _SUCCESS — the state a crash mid-write
    leaves behind) must be rewritten on replay, not skipped; an epoch
    that did commit must be skipped byte-for-byte. Gating on bare
    directory existence fails the first half: the crashed batch's counts
    would silently vanish from the SUM-merged sketch."""
    from shopify_etl_spark.operators import sketches
    from shopify_etl_spark.streaming.sketch_stream import read_sketch, stream_cms

    src = tmp_path / "tokfeed"
    schema = "token string, ingested_at string"
    tokens = ["a", "b", "a", "c"]
    _write_jsonl(src / "b1.jsonl", [
        {"token": tk, "ingested_at": "2024-05-01T10:00:00.000Z"} for tk in tokens
    ])

    # -- crashed epoch: dir present, partial grid, NO _SUCCESS ------------
    sk_dir = tmp_path / "cms_crash"
    ep0 = sk_dir / "epoch=0"
    ep0.mkdir(parents=True)
    # a partial grid: one bogus cell, written without a commit marker
    bogus = spark.createDataFrame([(0, 0, 10_000)], "row int, cell int, c long")
    bogus.coalesce(1).write.mode("overwrite").parquet(str(ep0))
    (ep0 / "_SUCCESS").unlink()  # simulate the crash: files landed, no marker

    feed = spark.readStream.schema(schema).json(str(src))
    q = stream_cms(feed, "token", str(sk_dir), str(tmp_path / "ck1"),
                   width=64, depth=3)
    q.awaitTermination(120)

    whole = sketches.cms_build(
        spark.createDataFrame([(t,) for t in tokens], ["token"]),
        "token", width=64, depth=3,
    )
    got = sorted(map(tuple, read_sketch(spark, str(sk_dir)).collect()))
    assert got == sorted(map(tuple, whole.collect()))  # bogus cell gone, batch counted

    # -- committed epoch: dir present WITH _SUCCESS → replay is a no-op ---
    sk_dir2 = tmp_path / "cms_done"
    sentinel = spark.createDataFrame([(1, 1, 777)], "row int, cell int, c long")
    sentinel.coalesce(1).write.mode("overwrite").parquet(str(sk_dir2 / "epoch=0"))
    assert (sk_dir2 / "epoch=0" / "_SUCCESS").exists()

    feed = spark.readStream.schema(schema).json(str(src))
    q = stream_cms(feed, "token", str(sk_dir2), str(tmp_path / "ck2"),
                   width=64, depth=3)
    q.awaitTermination(120)
    kept = sorted(map(tuple, spark.read.parquet(str(sk_dir2 / "epoch=0")).collect()))
    assert kept == [(1, 1, 777)]  # committed grid untouched


def test_stream_distinct_crash_epoch_rewritten(spark, tmp_path):
    """Same crash-injection discipline for the HLL twin: an uncommitted
    epoch dir is rewritten on replay so the batch's groups reappear."""
    from shopify_etl_spark.streaming.sketch_stream import (
        read_distinct,
        stream_distinct_sketches,
    )

    src = tmp_path / "hfeed"
    schema = "grp string, user_id long"
    _write_jsonl(src / "b1.jsonl", [
        {"grp": g, "user_id": u} for g, u in [("a", 1), ("a", 2), ("b", 7)]
    ])

    sk_dir = tmp_path / "hll_crash"
    ep0 = sk_dir / "epoch=0"
    ep0.mkdir(parents=True)
    (ep0 / "part-00000.parquet").write_bytes(b"")  # torn file, no _SUCCESS

    feed = spark.readStream.schema(schema).json(str(src))
    q = stream_distinct_sketches(feed, "user_id", ["grp"],
                                 str(sk_dir), str(tmp_path / "hck"))
    q.awaitTermination(120)
    got = {r.grp: r.distinct_keys
           for r in read_distinct(spark, str(sk_dir), ["grp"]).collect()}
    assert got == {"a": 2, "b": 1}


def test_compact_sketch_epochs_estimate_invariant(spark, tmp_path):
    """Compaction folds all-but-the-newest epoch grids into one
    ``compact=<lo>-<hi>`` dir with NO change to any estimate (merge
    associativity), protects the newest epoch for the replay gate, and a
    second compaction nests correctly over the first."""
    from shopify_etl_spark.streaming.sketch_stream import (
        compact_sketch_epochs,
        live_grid_dirs,
        read_sketch,
        stream_cms,
    )

    src = tmp_path / "feed"
    sk_dir = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ck")
    schema = "token string, ingested_at string"

    def run_batch(name, tokens):
        _write_jsonl(src / name, [
            {"token": tk, "ingested_at": "2024-05-01T10:00:00.000Z"} for tk in tokens
        ])
        feed = spark.readStream.schema(schema).json(str(src))
        stream_cms(feed, "token", sk_dir, ckpt, width=64, depth=3).awaitTermination(120)

    for i, toks in enumerate([["a", "b"], ["a", "c", "c"], ["d"], ["a", "d"]]):
        run_batch(f"b{i}.jsonl", toks)

    before = sorted(map(tuple, read_sketch(spark, sk_dir).collect()))
    assert len(live_grid_dirs(spark, sk_dir)) == 4

    out = compact_sketch_epochs(spark, sk_dir)
    assert out is not None and out.endswith("compact=0-2")
    live = [os.path.basename(d) for d in live_grid_dirs(spark, sk_dir)]
    assert live == ["compact=0-2", "epoch=3"]  # newest epoch untouched
    assert sorted(map(tuple, read_sketch(spark, sk_dir).collect())) == before

    # replay on the same checkpoint after compaction: still a no-op
    feed = spark.readStream.schema(schema).json(str(src))
    stream_cms(feed, "token", sk_dir, ckpt, width=64, depth=3).awaitTermination(120)
    assert sorted(map(tuple, read_sketch(spark, sk_dir).collect())) == before

    # two more epochs, then a second compaction nests over the first
    run_batch("b4.jsonl", ["e", "a"])
    run_batch("b5.jsonl", ["f"])
    before2 = sorted(map(tuple, read_sketch(spark, sk_dir).collect()))
    out2 = compact_sketch_epochs(spark, sk_dir)
    assert out2 is not None and out2.endswith("compact=0-4")
    live2 = [os.path.basename(d) for d in live_grid_dirs(spark, sk_dir)]
    assert live2 == ["compact=0-4", "epoch=5"]
    assert sorted(map(tuple, read_sketch(spark, sk_dir).collect())) == before2

    # nothing left to fold: compactor is a no-op, not an error
    assert compact_sketch_epochs(spark, sk_dir) is None


def test_compact_mid_crash_reads_stay_consistent(spark, tmp_path):
    """The crash window between publish and cleanup: both the compacted
    dir AND its still-undeleted inputs are on disk — the reader's
    range-containment rule must count each epoch exactly once."""
    from shopify_etl_spark.streaming.sketch_stream import (
        live_grid_dirs,
        read_sketch,
    )
    from shopify_etl_spark.operators import sketches

    sk_dir = tmp_path / "cms"
    batches = [["a", "b"], ["a"], ["c", "a"]]
    for i, toks in enumerate(batches):
        sketches.cms_build(
            spark.createDataFrame([(t,) for t in toks], ["token"]),
            "token", width=32, depth=2,
        ).write.mode("overwrite").parquet(str(sk_dir / f"epoch={i}"))

    # simulate: compaction of epochs 0-1 published, inputs NOT yet deleted
    merged = spark.read.parquet(str(sk_dir / "epoch=0"), str(sk_dir / "epoch=1"))
    from pyspark.sql import functions as F
    merged.groupBy("row", "cell").agg(F.sum("c").alias("c")).write.mode(
        "overwrite"
    ).parquet(str(sk_dir / "compact=0-1"))

    live = [os.path.basename(d) for d in live_grid_dirs(spark, str(sk_dir))]
    assert live == ["compact=0-1", "epoch=2"]  # subsumed inputs ignored
    whole = sketches.cms_build(
        spark.createDataFrame([(t,) for b in batches for t in b], ["token"]),
        "token", width=32, depth=2,
    )
    assert sorted(map(tuple, read_sketch(spark, str(sk_dir)).collect())) == \
        sorted(map(tuple, whole.collect()))


def test_compact_distinct_epochs_estimates_unchanged(spark, tmp_path):
    """HLL store compaction: per-group sketch-state union, every rollup
    estimate identical before and after."""
    from shopify_etl_spark.streaming.sketch_stream import (
        compact_distinct_epochs,
        live_grid_dirs,
        read_distinct,
        stream_distinct_sketches,
    )

    src = tmp_path / "hfeed"
    sk_dir = str(tmp_path / "hll")
    ckpt = str(tmp_path / "hck")
    schema = "grp string, user_id long"

    def run_batch(name, rows):
        _write_jsonl(src / name, [{"grp": g, "user_id": u} for g, u in rows])
        feed = spark.readStream.schema(schema).json(str(src))
        stream_distinct_sketches(
            feed, "user_id", ["grp"], sk_dir, ckpt
        ).awaitTermination(120)

    run_batch("b1.jsonl", [("a", 1), ("a", 2), ("b", 1)])
    run_batch("b2.jsonl", [("a", 2), ("c", 5)])
    run_batch("b3.jsonl", [("a", 9), ("b", 1)])

    before = {r.grp: r.distinct_keys
              for r in read_distinct(spark, sk_dir, ["grp"]).collect()}
    assert before == {"a": 3, "b": 1, "c": 1}

    out = compact_distinct_epochs(spark, sk_dir, ["grp"])
    assert out is not None
    live = [os.path.basename(d) for d in live_grid_dirs(spark, sk_dir)]
    assert live == ["compact=0-1", "epoch=2"]
    after = {r.grp: r.distinct_keys
             for r in read_distinct(spark, sk_dir, ["grp"]).collect()}
    assert after == before


def test_compact_band_state_dedup_results_unchanged(spark, tmp_path):
    """Near-dup band-state compaction: the stream keeps dropping
    near-dups of PRE-compaction documents identically afterwards."""
    from shopify_etl_spark.streaming.near_dedup_stream import (
        compact_band_state,
        read_deduped,
        stream_near_dedup_docs,
    )
    from shopify_etl_spark.streaming.sketch_stream import live_grid_dirs

    src = tmp_path / "docs"
    out_dir = str(tmp_path / "kept")
    state_dir = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ck")
    base = "the quick brown fox jumps over the lazy dog again and again"

    def run_batch(name, rows):
        _write_jsonl(src / name, rows)
        q = stream_near_dedup_docs(spark, str(src), out_dir, state_dir, ckpt)
        q.awaitTermination(120)

    run_batch("b1.jsonl", [
        {"doc_id": 1, "text": base, "source": "s"},
        {"doc_id": 2, "text": "completely different content about spark engines", "source": "s"},
    ])
    run_batch("b2.jsonl", [
        {"doc_id": 3, "text": "unrelated third topic entirely here now", "source": "s"},
    ])
    run_batch("b3.jsonl", [
        {"doc_id": 4, "text": "yet another brand new subject matter words", "source": "s"},
    ])

    assert compact_band_state(spark, state_dir) is not None
    assert [os.path.basename(d) for d in live_grid_dirs(spark, state_dir)] == \
        ["compact=0-1", "epoch=2"]

    # a near-dup of doc 1 (seen before compaction) must still be dropped
    run_batch("b4.jsonl", [
        {"doc_id": 9, "text": base + " extra", "source": "s"},
        {"doc_id": 10, "text": "fresh never seen before paragraph of text", "source": "s"},
    ])
    kept = sorted(r.doc_id for r in read_deduped(spark, out_dir).collect())
    assert kept == [1, 2, 3, 4, 10]


def test_compact_rerun_finishes_interrupted_cleanup(spark, tmp_path):
    """A compaction that crashed after publish but before cleanup leaves
    committed-but-superseded input dirs on disk; a rerun sweeps them
    even when there is nothing new to fold, and reads stay identical."""
    from pyspark.sql import functions as F
    from shopify_etl_spark.operators import sketches
    from shopify_etl_spark.streaming.sketch_stream import (
        compact_sketch_epochs,
        live_grid_dirs,
        read_sketch,
    )

    sk_dir = tmp_path / "cms"
    for i, toks in enumerate([["a"], ["b", "a"], ["c"]]):
        sketches.cms_build(
            spark.createDataFrame([(t,) for t in toks], ["token"]),
            "token", width=32, depth=2,
        ).write.mode("overwrite").parquet(str(sk_dir / f"epoch={i}"))

    # simulate crash-after-publish: compact=0-1 committed, inputs remain
    merged = spark.read.parquet(str(sk_dir / "epoch=0"), str(sk_dir / "epoch=1"))
    merged.groupBy("row", "cell").agg(F.sum("c").alias("c")).write.mode(
        "overwrite"
    ).parquet(str(sk_dir / "compact=0-1"))
    assert (sk_dir / "epoch=0").exists() and (sk_dir / "epoch=1").exists()

    before = sorted(map(tuple, read_sketch(spark, str(sk_dir)).collect()))
    # only [compact=0-1, epoch=2] live → nothing to fold, but cleanup runs
    assert compact_sketch_epochs(spark, str(sk_dir)) is None
    assert not (sk_dir / "epoch=0").exists()
    assert not (sk_dir / "epoch=1").exists()
    assert [os.path.basename(d) for d in live_grid_dirs(spark, str(sk_dir))] == \
        ["compact=0-1", "epoch=2"]
    assert sorted(map(tuple, read_sketch(spark, str(sk_dir)).collect())) == before


def test_stream_span_screen_single_batch_equals_batch_op(spark, tmp_path):
    """One batch: the streaming screen must equal duplicate_span_stats
    exactly (within-batch duplication is symmetric)."""
    from pyspark.sql import Row
    from shopify_etl_spark.operators import dedup
    from shopify_etl_spark.streaming import read_span_stats, stream_span_screen

    texts = {
        1: "a b c d e f g h",
        2: "x a b c d e y z",
        3: "p q r s t u v w",
    }
    src = tmp_path / "feed"
    out, state, ckpt = (
        str(tmp_path / "stats"), str(tmp_path / "hashes"), str(tmp_path / "ck"),
    )
    _write_jsonl(src / "b1.jsonl", [
        {"doc_id": k, "text": v, "ingested_at": "2024-05-01T10:00:00.000Z"}
        for k, v in texts.items()
    ])
    q = stream_span_screen(spark, str(src), out, state, ckpt, width=4)
    q.awaitTermination(120)

    got = sorted(map(tuple, read_span_stats(spark, out).collect()))
    docs = spark.createDataFrame([Row(doc_id=k, text=v) for k, v in texts.items()])
    want = sorted(map(tuple, dedup.duplicate_span_stats(docs, width=4).collect()))
    assert got == want


def test_stream_span_screen_across_batches_and_replay(spark, tmp_path):
    """A later batch flags against the window store (earlier docs'
    emitted stats never rewritten); the store grows by novel hashes
    only; checkpoint replay is a no-op; a crashed (uncommitted) epoch
    is rewritten on restart."""
    import os

    from shopify_etl_spark.streaming import read_span_stats, stream_span_screen

    base = "m n o p q r s t"
    src = tmp_path / "feed"
    out, state, ckpt = (
        str(tmp_path / "stats"), str(tmp_path / "hashes"), str(tmp_path / "ck"),
    )
    t = "2024-05-01T10:{m:02d}:00.000Z"

    def run(name=None, rows=None):
        if name:
            _write_jsonl(src / name, rows)
        q = stream_span_screen(spark, str(src), out, state, ckpt, width=4)
        q.awaitTermination(120)

    run("b1.jsonl", [{"doc_id": 1, "text": base, "ingested_at": t.format(m=0)}])
    s1 = {r.doc_id: r for r in read_span_stats(spark, out).collect()}
    assert s1[1].n_dup_windows == 0  # nothing seen yet

    run("b2.jsonl", [
        {"doc_id": 2, "text": base + " extra tail", "ingested_at": t.format(m=5)},
        {"doc_id": 3, "text": "all fresh words here now ok", "ingested_at": t.format(m=6)},
    ])
    s2 = {r.doc_id: r for r in read_span_stats(spark, out).collect()}
    assert s2[1].n_dup_windows == 0          # earlier stats untouched
    assert s2[2].n_dup_windows == 5          # all 5 windows of `base` prefix seen
    assert s2[3].n_dup_windows == 0

    # store holds DISTINCT hashes; epoch 1 appended only novel ones
    eps = sorted(d for d in os.listdir(state) if d.startswith("epoch="))
    assert len(eps) == 2
    h0 = spark.read.parquet(os.path.join(state, eps[0])).count()
    h1 = spark.read.parquet(os.path.join(state, eps[1])).count()
    assert h0 == 5                            # doc1: 5 windows
    # doc2 has 7 windows (10 tokens), 5 hit history -> <= 5 novel persist
    # (2 new + windows straddling base/tail); doc3 adds its own
    total = spark.read.parquet(os.path.join(state, "epoch=*")).distinct().count()
    assert total == h0 + h1

    # replay with same checkpoint: nothing changes
    run()
    assert {r.doc_id: r.n_dup_windows
            for r in read_span_stats(spark, out).collect()} == \
           {k: v.n_dup_windows for k, v in s2.items()}

    # crash injection (fresh store, same discipline as the sketch tests):
    # an epoch dir with partial files and NO _SUCCESS is excluded from
    # reads and REWRITTEN when its epoch replays, not skipped
    src2 = tmp_path / "feed2"
    out2, state2, ckpt2 = (
        str(tmp_path / "stats2"), str(tmp_path / "hashes2"), str(tmp_path / "ck2"),
    )
    ep0 = tmp_path / "stats2" / "epoch=0"
    bogus = spark.createDataFrame(
        [(99, 1, 1, 1.0)],
        "doc_id long, n_windows long, n_dup_windows long, dup_window_frac double",
    )
    bogus.coalesce(1).write.mode("overwrite").parquet(str(ep0))
    os.remove(os.path.join(str(ep0), "_SUCCESS"))  # crash: files, no marker
    assert read_span_stats(spark, out2).count() == 0  # uncommitted -> unread

    _write_jsonl(src2 / "b1.jsonl",
                 [{"doc_id": 7, "text": base, "ingested_at": t.format(m=9)}])
    q = stream_span_screen(spark, str(src2), out2, state2, ckpt2, width=4)
    q.awaitTermination(120)
    s3 = sorted((r.doc_id, r.n_dup_windows)
                for r in read_span_stats(spark, out2).collect())
    assert s3 == [(7, 0)]  # bogus row gone: crashed epoch rewritten


def test_span_store_compaction_preserves_decisions(spark, tmp_path):
    """Compacting the window-hash store changes no screen decision: a
    post-compaction batch flags exactly as it would against the
    uncompacted epochs, and the store's distinct hash set is intact."""
    import os

    from shopify_etl_spark.streaming import read_span_stats, stream_span_screen
    from shopify_etl_spark.streaming.span_stream import compact_span_epochs

    src = tmp_path / "feed"
    out, state, ckpt = (
        str(tmp_path / "stats"), str(tmp_path / "hashes"), str(tmp_path / "ck"),
    )
    t = "2024-05-01T10:{m:02d}:00.000Z"

    def run(name, rows):
        _write_jsonl(src / name, rows)
        q = stream_span_screen(spark, str(src), out, state, ckpt, width=4)
        q.awaitTermination(120)

    run("b1.jsonl", [{"doc_id": 1, "text": "a b c d e f", "ingested_at": t.format(m=0)}])
    run("b2.jsonl", [{"doc_id": 2, "text": "g h i j k l", "ingested_at": t.format(m=1)}])
    run("b2b.jsonl", [{"doc_id": 9, "text": "m n o p q r", "ingested_at": t.format(m=2)}])
    before = spark.read.parquet(os.path.join(state, "epoch=*")).distinct().count()

    newdir = compact_span_epochs(spark, state)
    assert newdir is not None and "compact=" in newdir
    # newest epoch survives by name (replay gate), older folded
    names = sorted(os.listdir(state))
    assert any(n.startswith("compact=") for n in names)
    assert sum(n.startswith("epoch=") for n in names) == 1

    from shopify_etl_spark.streaming.sketch_stream import live_grid_dirs
    live = live_grid_dirs(spark, state)
    assert spark.read.parquet(*live).distinct().count() == before

    # a duplicate of batch-1 content arriving AFTER compaction still flags
    run("b3.jsonl", [{"doc_id": 3, "text": "a b c d e f", "ingested_at": t.format(m=2)}])
    s = {r.doc_id: r.n_dup_windows for r in read_span_stats(spark, out).collect()}
    assert s[3] == 3 and s[1] == 0 and s[2] == 0 and s[9] == 0


def test_stream_dsir_model_matches_one_shot_fit(spark, tmp_path):
    """Streaming DSIR model maintenance: per-batch models SUM-merged
    across epochs equal the one-shot fit on the full history EXACTLY
    (count mergeability), scoring against the merged model equals the
    batch operator, and a replayed feed adds nothing."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.operators.selection import (
        dsir_fit,
        dsir_importance_weights,
        dsir_score,
        dsir_token_stream,
    )
    from shopify_etl_spark.streaming.selection_stream import (
        read_dsir_model,
        stream_dsir_model,
    )

    src = tmp_path / "docfeed"
    model_dir = str(tmp_path / "dsir")
    ckpt = str(tmp_path / "dsir_ckpt")
    schema = "doc_id long, text string, lang string"

    b1 = [
        {"doc_id": 1, "text": "spark shuffle join agg", "lang": "en"},
        {"doc_id": 2, "text": "cat dog fish bird", "lang": "fr"},
    ]
    b2 = [
        {"doc_id": 3, "text": "spark shuffle scan", "lang": "en"},
        {"doc_id": 4, "text": "cat dog spark", "lang": "de"},
    ]

    def run_batch(name, rows):
        _write_jsonl(src / name, rows)
        feed = spark.readStream.schema(schema).json(str(src))
        q = stream_dsir_model(
            feed, F.col("lang") == "en", model_dir, ckpt, n_buckets=512
        )
        q.awaitTermination(120)

    run_batch("b1.jsonl", b1)
    run_batch("b2.jsonl", b2)

    all_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["lang"]) for r in b1 + b2],
        "doc_id long, text string, lang string",
    )
    merged = read_dsir_model(spark, model_dir)
    whole = dsir_fit(
        dsir_token_stream(all_docs, F.col("lang") == "en", n_buckets=512)
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )

    # scoring the corpus against the streamed model == the batch operator
    stream = dsir_token_stream(all_docs, F.col("lang") == "en", n_buckets=512)
    via_stream = dsir_score(stream, merged, n_buckets=512)
    via_batch = dsir_importance_weights(
        all_docs, F.col("lang") == "en", n_buckets=512
    )
    assert sorted(map(tuple, via_stream.collect())) == sorted(
        map(tuple, via_batch.collect())
    )

    # replay: same feed, same checkpoint -> no new epochs, model unchanged
    before = sorted(map(tuple, merged.collect()))
    feed = spark.readStream.schema(schema).json(str(src))
    q = stream_dsir_model(
        feed, F.col("lang") == "en", model_dir, ckpt, n_buckets=512
    )
    q.awaitTermination(120)
    assert sorted(map(tuple, read_dsir_model(spark, model_dir).collect())) == before


def test_compact_dsir_model_weights_unchanged(spark, tmp_path):
    """Folding DSIR model epochs must not change a single importance
    weight (bucket-keyed SUM is associative), and the compacted store
    reads identically."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.operators.selection import dsir_score, dsir_token_stream
    from shopify_etl_spark.streaming.selection_stream import (
        compact_dsir_model,
        read_dsir_model,
        stream_dsir_model,
    )

    src = tmp_path / "docfeed"
    model_dir = str(tmp_path / "dsir")
    ckpt = str(tmp_path / "dsir_ckpt")
    schema = "doc_id long, text string, lang string"

    batches = [
        [{"doc_id": 1, "text": "a b c a", "lang": "en"}],
        [{"doc_id": 2, "text": "b c d", "lang": "fr"}],
        [{"doc_id": 3, "text": "a d d e", "lang": "en"}],
    ]
    for i, rows in enumerate(batches):
        _write_jsonl(src / f"b{i}.jsonl", rows)
        feed = spark.readStream.schema(schema).json(str(src))
        stream_dsir_model(
            feed, F.col("lang") == "en", model_dir, ckpt, n_buckets=128
        ).awaitTermination(120)

    all_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["lang"]) for b in batches for r in b],
        "doc_id long, text string, lang string",
    )
    stream = dsir_token_stream(all_docs, F.col("lang") == "en", n_buckets=128)
    before = sorted(map(tuple, dsir_score(
        stream, read_dsir_model(spark, model_dir), n_buckets=128
    ).collect()))

    out = compact_dsir_model(spark, model_dir)
    assert out is not None and "compact=" in out

    after = sorted(map(tuple, dsir_score(
        stream, read_dsir_model(spark, model_dir), n_buckets=128
    ).collect()))
    assert after == before


def test_compact_sweeps_orphan_tmp_dir(spark, tmp_path):
    """A crash between writing .compact-*.tmp and the publishing rename
    must not leak the tmp dir forever: the next compaction run sweeps
    it (the <lo>-<hi> range may never recur once the store advances)."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.streaming.sketch_stream import (
        compact_sketch_epochs,
        read_sketch,
        stream_cms,
    )

    src = tmp_path / "tokfeed"
    sk_dir = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ck")
    schema = "token string, ingested_at string"
    for i, toks in enumerate([["a", "b"], ["b", "c"], ["c", "d"]]):
        _write_jsonl(src / f"b{i}.jsonl", [
            {"token": t, "ingested_at": "2024-05-01T10:00:00.000Z"} for t in toks
        ])
        feed = spark.readStream.schema(schema).json(str(src))
        stream_cms(feed, "token", sk_dir, ckpt, width=64, depth=3).awaitTermination(120)

    # simulate the crash: a fully-written tmp dir that never got renamed
    orphan = tmp_path / "cms" / ".compact-0-1.tmp"
    spark.createDataFrame([(0, 1, 1)], "row int, cell int, c long").write.parquet(
        str(orphan)
    )
    assert orphan.exists()

    before = sorted(map(tuple, read_sketch(spark, sk_dir).collect()))
    out = compact_sketch_epochs(spark, sk_dir)
    assert out is not None
    assert not orphan.exists()  # swept
    after = sorted(map(tuple, read_sketch(spark, sk_dir).collect()))
    assert after == before  # and the sweep changed no estimate
    del F


def test_stream_histogram_psi_matches_batch(spark, tmp_path):
    """Streaming drift store: per-batch histograms SUM-merged across
    epochs equal the one-shot histogram, the PSI read from the store
    equals the batch operator on the same rows, replay adds nothing,
    and compaction changes no score."""
    from shopify_etl_spark.operators.stats import psi_drift, value_histogram
    from shopify_etl_spark.streaming.drift_stream import (
        compact_histogram_epochs,
        read_histogram,
        read_psi,
        stream_value_histogram,
    )

    src = tmp_path / "valfeed"
    h_dir = str(tmp_path / "hist")
    ckpt = str(tmp_path / "hist_ckpt")
    schema = "event_type string, value double"

    batches = [
        [("click", 10.0), ("click", 480.0), ("view", 250.0)],
        [("click", 20.0), ("view", 260.0), ("view", 490.0)],
        [("view", 5.0), ("click", 250.0)],
    ]
    for i, rows in enumerate(batches):
        _write_jsonl(src / f"b{i}.jsonl", [
            {"event_type": t, "value": v} for t, v in rows
        ])
        feed = spark.readStream.schema(schema).json(str(src))
        stream_value_histogram(feed, h_dir, ckpt).awaitTermination(120)

    all_rows = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    merged = read_histogram(spark, h_dir)
    whole = value_histogram(all_rows)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )

    via_store = sorted(map(tuple, read_psi(spark, h_dir).collect()))
    via_batch = sorted(map(tuple, psi_drift(all_rows).collect()))
    assert via_store == via_batch

    # replay no-op
    feed = spark.readStream.schema(schema).json(str(src))
    stream_value_histogram(feed, h_dir, ckpt).awaitTermination(120)
    assert sorted(map(tuple, read_psi(spark, h_dir).collect())) == via_store

    # compaction: scores unchanged, store folded
    out = compact_histogram_epochs(spark, h_dir)
    assert out is not None and "compact=" in out
    assert sorted(map(tuple, read_psi(spark, h_dir).collect())) == via_store


def test_read_psi_vs_baseline_between_two_stores(spark, tmp_path):
    """Two independent histogram stores compared store-to-store: a
    shifted current window scores loud drift against the frozen
    baseline, and equals the batch psi_between_histograms on the same
    rows."""
    from shopify_etl_spark.operators.stats import (
        psi_between_histograms,
        value_histogram,
    )
    from shopify_etl_spark.streaming.drift_stream import (
        read_psi_vs_baseline,
        stream_value_histogram,
    )

    schema = "event_type string, value double"
    base_rows = [("click", float(v % 100)) for v in range(60)]
    cur_rows = [("click", 400.0 + v % 100) for v in range(60)]

    def build_store(name, rows):
        src = tmp_path / f"{name}_feed"
        d = str(tmp_path / name)
        ck = str(tmp_path / f"{name}_ck")
        _write_jsonl(src / "b0.jsonl", [
            {"event_type": t, "value": v} for t, v in rows
        ])
        feed = spark.readStream.schema(schema).json(str(src))
        stream_value_histogram(feed, d, ck).awaitTermination(120)
        return d

    base_dir = build_store("base", base_rows)
    cur_dir = build_store("cur", cur_rows)
    via_stores = sorted(map(tuple,
        read_psi_vs_baseline(spark, base_dir, cur_dir).collect()))
    via_batch = sorted(map(tuple, psi_between_histograms(
        value_histogram(spark.createDataFrame(base_rows, schema)),
        value_histogram(spark.createDataFrame(cur_rows, schema)),
    ).collect()))
    assert via_stores == via_batch
    assert via_stores[0][3] > 0.25  # loud drift


def test_stream_bloom_matches_one_shot_and_compacts(spark, tmp_path):
    """Streaming Bloom maintenance: epoch-merged batch filters EQUAL the
    one-shot filter of the full history (distinct-mergeable), the probe
    guarantee holds through the store (no false negatives for any key
    that streamed in), replay is a no-op, and compaction changes no
    membership answer."""
    from shopify_etl_spark.operators import sketches
    from shopify_etl_spark.streaming.bloom_stream import (
        compact_bloom_epochs,
        read_bloom,
        stream_bloom,
    )

    src = tmp_path / "keyfeed"
    bl_dir = str(tmp_path / "bloom")
    ckpt = str(tmp_path / "bloom_ckpt")
    schema = "f string, ingested_at string"

    def run_batch(name, keys):
        _write_jsonl(src / name, [
            {"f": k, "ingested_at": "2024-05-01T10:00:00.000Z"} for k in keys
        ])
        feed = spark.readStream.schema(schema).json(str(src))
        stream_bloom(feed, "f", bl_dir, ckpt, m=512, k=3).awaitTermination(120)

    b1 = [f"doc-{i}" for i in range(40)]
    b2 = [f"doc-{i}" for i in range(30, 70)]
    run_batch("b1.jsonl", b1)
    run_batch("b2.jsonl", b2)

    merged = read_bloom(spark, bl_dir)
    whole = sketches.bloom_build(
        spark.createDataFrame([(kk,) for kk in b1 + b2], ["f"]), "f", m=512, k=3
    )
    assert sorted(r.pos for r in merged.collect()) == sorted(
        r.pos for r in whole.collect()
    )
    # Bloom guarantee through the store: every streamed key answers TRUE
    seen = spark.createDataFrame([(kk,) for kk in set(b1 + b2)], ["f"])
    hits = sketches.bloom_probe(merged, seen, "f", m=512, k=3).collect()
    assert all(r.might_contain for r in hits)

    # replay on the same checkpoint: no change
    before = sorted(r.pos for r in merged.collect())
    feed = spark.readStream.schema(schema).json(str(src))
    stream_bloom(feed, "f", bl_dir, ckpt, m=512, k=3).awaitTermination(120)
    assert sorted(r.pos for r in read_bloom(spark, bl_dir).collect()) == before

    # third batch, then compact: answers unchanged
    run_batch("b3.jsonl", [f"late-{i}" for i in range(10)])
    full = sorted(r.pos for r in read_bloom(spark, bl_dir).collect())
    assert compact_bloom_epochs(spark, bl_dir) is not None
    assert sorted(r.pos for r in read_bloom(spark, bl_dir).collect()) == full


def test_stream_index_manifest_matches_batch_chain(spark, tmp_path):
    """Incremental retrieval-index maintenance (VERDICT r10 #8's chain,
    streaming side): two micro-batches of documents are chunked /
    embedded / cell-assigned as they arrive, and the read-side manifest
    over the committed epochs must equal the BATCH manifest computed
    over the union of every fed document — counts exactly, avg_sim to
    float noise. Checkpoint replay is a no-op."""
    from shopify_etl_spark.operators.similarity import hash_embed, ivf_assign
    from shopify_etl_spark.operators.text import char_chunk_documents
    from shopify_etl_spark.plans.catalog_ext4 import _retrieval_centroid_frame
    from shopify_etl_spark.streaming import (
        read_index_chunks,
        read_index_manifest,
        stream_index_chunks,
    )

    rng_words = [f"w{i}" for i in range(30)]
    docs1 = [
        {"doc_id": i, "text": " ".join(rng_words[j % 30] for j in range(i, i + 60)),
         "ingested_at": f"2024-05-01T10:{i:02d}:00.000Z"}
        for i in range(4)
    ]
    docs2 = [
        {"doc_id": 10 + i, "text": " ".join(f"x{i}n{j}" for j in range(80)),
         "ingested_at": f"2024-05-01T11:{i:02d}:00.000Z"}
        for i in range(3)
    ]
    src = tmp_path / "feed"
    out, ckpt = str(tmp_path / "index"), str(tmp_path / "ck")

    def run(name, rows):
        _write_jsonl(src / name, rows)
        q = stream_index_chunks(spark, str(src), out, ckpt)
        q.awaitTermination(120)

    run("b1.jsonl", docs1)
    n_after_b1 = read_index_chunks(spark, out).count()
    assert n_after_b1 > 0
    run("b2.jsonl", docs2)

    # batch twin over the union of everything fed
    union = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs1 + docs2],
        "doc_id long, text string",
    )
    chunks = char_chunk_documents(union, chunk_chars=160, overlap=40)
    from pyspark.sql import functions as F

    emb = chunks.select(
        "doc_id",
        F.concat_ws(":", "doc_id", "chunk_idx").alias("chunk_key"),
        "n_tokens",
        hash_embed("chunk_text").alias("ev"),
    )
    batch_manifest = {
        r.centroid_id: r
        for r in ivf_assign(
            emb, _retrieval_centroid_frame(spark),
            corpus_id="chunk_key", corpus_vec="ev",
            cent_id="cid", cent_vec="cv",
            keep_cols=("doc_id", "n_tokens"), sim_col="sim",
        )
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.avg("sim").alias("avg_sim_raw"),
        )
        .collect()
    }
    stream_manifest = {
        r.centroid_id: r
        for r in read_index_manifest(spark, out).collect()
    }
    assert set(stream_manifest) == set(batch_manifest)
    for cid, s in stream_manifest.items():
        b = batch_manifest[cid]
        assert (s.n_chunks, s.n_docs, s.sum_tokens) == (
            b.n_chunks, b.n_docs, b.sum_tokens,
        ), cid
        # the reader rounds to 4 (the manifest contract); the batch twin
        # keeps the raw double — equal after the same rounding
        assert abs(s.avg_sim - round(b.avg_sim_raw, 4)) <= 1e-9, cid

    # replay: same checkpoint, same files -> nothing changes
    run("b2.jsonl", docs2)
    total = read_index_chunks(spark, out).count()
    assert total == sum(r.n_chunks for r in stream_manifest.values())


def test_compact_index_epochs_manifest_unchanged(spark, tmp_path):
    """Index-store compaction is a pure row-union rewrite: the per-cell
    manifest before and after folding must be identical, the newest
    epoch survives for its replay gate, and a post-compaction replay
    stays a no-op."""
    from shopify_etl_spark.streaming import (
        compact_index_epochs,
        read_index_chunks,
        read_index_manifest,
        stream_index_chunks,
    )

    src = tmp_path / "feed"
    out, ckpt = str(tmp_path / "index"), str(tmp_path / "ck")

    def run(name, rows):
        _write_jsonl(src / name, rows)
        q = stream_index_chunks(spark, str(src), out, ckpt)
        q.awaitTermination(120)

    for b in range(3):
        run(f"b{b}.jsonl", [
            {"doc_id": 100 * b + i,
             "text": " ".join(f"t{b}x{i}w{j}" for j in range(70)),
             "ingested_at": f"2024-06-01T0{b}:{i:02d}:00.000Z"}
            for i in range(3)
        ])

    before = sorted(map(tuple, read_index_manifest(spark, out).collect()))
    n_before = read_index_chunks(spark, out).count()
    published = compact_index_epochs(spark, out)
    assert published is not None and "compact=" in published
    after = sorted(map(tuple, read_index_manifest(spark, out).collect()))
    assert after == before
    assert read_index_chunks(spark, out).count() == n_before

    # replay after compaction: newest epoch's gate still works
    q = stream_index_chunks(spark, str(src), out, ckpt)
    q.awaitTermination(120)
    assert read_index_chunks(spark, out).count() == n_before


def test_index_store_pre_vector_format_rejected(spark, tmp_path):
    """An index store written before the stored-vector format (epochs
    without the 'ev' column) fails with a clear rebuild-the-store
    message at read time, not an opaque missing-column analysis error
    deep inside search/manifest consumers (r13, ADVICE fix)."""
    import pytest
    from pyspark.sql import functions as F

    from shopify_etl_spark.streaming import read_index_chunks

    out = tmp_path / "index"
    old = spark.createDataFrame(
        [("0:0", 0, 5, 0, 0.5)],
        "chunk_key string, doc_id long, n_tokens long, "
        "centroid_id int, sim double",
    )
    # batch parquet writes publish _SUCCESS, so this epoch reads as
    # committed — exactly what a pre-r12 stream left behind
    old.write.mode("overwrite").parquet(str(out / "epoch=0"))
    with pytest.raises(ValueError, match="[Rr]ebuild the .*index store"):
        read_index_chunks(spark, str(out))

    # the r12 format (vector stored, no PQ codes) is likewise one
    # generation old — same explicit rebuild error, naming the column
    out2 = tmp_path / "index2"
    r12 = old.withColumn("ev", F.array(*[F.lit(float(i)) for i in range(4)]))
    r12.write.mode("overwrite").parquet(str(out2 / "epoch=0"))
    with pytest.raises(ValueError, match="pq_codes"):
        read_index_chunks(spark, str(out2))


def test_stream_index_search_parity_with_batch(spark, tmp_path):
    """Streaming↔batch SEARCH parity (VERDICT r11 stretch #8): probing
    the incrementally maintained index must return EXACTLY the batch
    ``ivf_topk`` answer over the union of every fed document — after
    each epoch AND after compaction. The store holds the identical
    embedding doubles the batch chain computes (parquet round-trips
    them exactly) and both sides share the pure-salt codebook and the
    (sim desc, chunk key) tie-break, so the comparison is row-exact,
    not approximate."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.operators import similarity
    from shopify_etl_spark.operators.text import char_chunk_documents
    from shopify_etl_spark.plans.catalog_ext4 import _retrieval_centroid_frame
    from shopify_etl_spark.streaming import (
        compact_index_epochs,
        search_index_chunks,
        stream_index_chunks,
    )

    words = [f"w{i}" for i in range(40)]
    batches = [
        [
            {"doc_id": 100 * b + i,
             "text": " ".join(words[(b + i + j) % 40] for j in range(90)),
             "ingested_at": f"2024-07-01T0{b}:{i:02d}:00.000Z"}
            for i in range(4)
        ]
        for b in range(3)
    ]
    src = tmp_path / "feed"
    out, ckpt = str(tmp_path / "index"), str(tmp_path / "ck")

    # three fixed query chunks, embedded with the same stub the chain uses
    qdocs = spark.createDataFrame(
        [(9000 + i, " ".join(words[(5 * i + j) % 40] for j in range(50)))
         for i in range(3)],
        "doc_id long, text string",
    )
    queries = char_chunk_documents(qdocs, chunk_chars=160, overlap=40).filter(
        F.col("chunk_idx") == 0
    ).select(
        F.concat_ws(":", "doc_id", "chunk_idx").alias("qk"),
        similarity.hash_embed("chunk_text").alias("qv"),
    )
    queries.cache()

    fed: list[dict] = []

    def batch_answer():
        union = spark.createDataFrame(
            [(d["doc_id"], d["text"]) for d in fed], "doc_id long, text string"
        )
        chunks = char_chunk_documents(union, chunk_chars=160, overlap=40)
        emb = chunks.select(
            F.concat_ws(":", "doc_id", "chunk_idx").alias("chunk_key"),
            similarity.hash_embed("chunk_text").alias("ev"),
        )
        return sorted(map(tuple, similarity.ivf_topk(
            queries, emb, _retrieval_centroid_frame(spark),
            k=5, n_probes=2,
            query_id="qk", query_vec="qv",
            corpus_id="chunk_key", corpus_vec="ev",
            cent_id="cid", cent_vec="cv",
        ).collect()))

    def stream_answer():
        return sorted(map(tuple, search_index_chunks(
            spark, out, queries, k=5, n_probes=2
        ).collect()))

    for b, rows in enumerate(batches):
        _write_jsonl(src / f"b{b}.jsonl", rows)
        stream_index_chunks(spark, str(src), out, ckpt).awaitTermination(120)
        fed.extend(rows)
        got, want = stream_answer(), batch_answer()
        # early epochs can hold fewer than k candidates in the probed
        # cells — parity is the contract, fullness arrives with volume
        assert got and got == want, f"epoch {b}: {got[:3]}..."
    assert len(got) == 15  # by the 3rd epoch every query fills its top-5

    # compaction folds all but the newest epoch; the answer must not move
    assert compact_index_epochs(spark, out) is not None
    assert stream_answer() == got == batch_answer()
    queries.unpersist()


def test_index_search_unchanged_through_torn_compaction(spark, tmp_path):
    """The crash window between compaction publish and cleanup: the
    compact= dir AND the subsumed epoch= dirs coexist on disk, and the
    reader's range-containment rule must keep every candidate counted
    exactly once — a double-read would surface as duplicate chunk_keys
    (and wrong ranks) in the probe search's top-k."""
    import shutil

    from pyspark.sql import functions as F

    from shopify_etl_spark.operators import similarity
    from shopify_etl_spark.operators.text import char_chunk_documents
    from shopify_etl_spark.streaming import (
        compact_index_epochs,
        read_index_chunks,
        search_index_chunks,
        stream_index_chunks,
    )

    words = [f"q{i}" for i in range(30)]
    src = tmp_path / "feed"
    out, ckpt = str(tmp_path / "index"), str(tmp_path / "ck")
    for b in range(3):
        _write_jsonl(src / f"b{b}.jsonl", [
            {"doc_id": 50 * b + i,
             "text": " ".join(words[(b + i + j) % 30] for j in range(80)),
             "ingested_at": f"2024-08-01T0{b}:{i:02d}:00.000Z"}
            for i in range(3)
        ])
        stream_index_chunks(spark, str(src), out, ckpt).awaitTermination(120)

    qdocs = spark.createDataFrame(
        [(7000, " ".join(words[(3 * j) % 30] for j in range(50)))],
        "doc_id long, text string",
    )
    queries = char_chunk_documents(qdocs, chunk_chars=160, overlap=40).filter(
        F.col("chunk_idx") == 0
    ).select(
        F.concat_ws(":", "doc_id", "chunk_idx").alias("qk"),
        similarity.hash_embed("chunk_text").alias("qv"),
    )
    before = sorted(map(tuple, search_index_chunks(
        spark, out, queries, k=5, n_probes=2
    ).collect()))
    n_rows = read_index_chunks(spark, out).count()

    # compact, then RESURRECT the subsumed epoch dirs from a snapshot —
    # the exact on-disk state a crash between publish and cleanup leaves
    snap = tmp_path / "snap"
    shutil.copytree(out, snap)
    published = compact_index_epochs(spark, out)
    assert published is not None
    import os
    for name in os.listdir(snap):
        if name.startswith("epoch=") and not os.path.exists(
            os.path.join(out, name)
        ):
            shutil.copytree(os.path.join(snap, name),
                            os.path.join(out, name))
    # both the compact dir and every subsumed epoch dir now coexist
    assert any(n.startswith("compact=") for n in os.listdir(out))
    assert sum(n.startswith("epoch=") for n in os.listdir(out)) >= 2

    assert read_index_chunks(spark, out).count() == n_rows  # no double-read
    after = sorted(map(tuple, search_index_chunks(
        spark, out, queries, k=5, n_probes=2
    ).collect()))
    assert after == before


def _pq_query_chunks(spark, rows):
    """Fixed query chunks embedded with the chain's stub (shared by the
    PQ parity/crash tests)."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.operators import similarity
    from shopify_etl_spark.operators.text import char_chunk_documents

    qdocs = spark.createDataFrame(rows, "doc_id long, text string")
    return char_chunk_documents(qdocs, chunk_chars=160, overlap=40).filter(
        F.col("chunk_idx") == 0
    ).select(
        F.concat_ws(":", "doc_id", "chunk_idx").alias("qk"),
        similarity.hash_embed("chunk_text").alias("qv"),
    )


def test_stream_index_pq_search_parity_with_batch(spark, tmp_path):
    """Streaming↔batch PQ-SEARCH parity (VERDICT r12 #7): the store's
    incrementally maintained pq_codes — each epoch encodes ONLY its own
    chunks against the frozen pure-salt books — must answer the IVF-PQ
    probe search EXACTLY like batch ivf_pq_topk over freshly computed
    codes for the union of every fed document, after each epoch AND
    after compaction. Encoding is a pure per-row function and parquet
    round-trips the embedding doubles, so the comparison is row-exact."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.operators import similarity
    from shopify_etl_spark.operators.pq import ivf_pq_topk, pq_assign
    from shopify_etl_spark.operators.text import char_chunk_documents
    from shopify_etl_spark.plans.catalog_ext4 import _retrieval_centroid_frame
    from shopify_etl_spark.streaming import (
        compact_index_epochs,
        pq_books,
        search_index_pq,
        stream_index_chunks,
    )

    words = [f"p{i}" for i in range(40)]
    batches = [
        [
            {"doc_id": 100 * b + i,
             "text": " ".join(words[(2 * b + i + j) % 40] for j in range(90)),
             "ingested_at": f"2024-09-01T0{b}:{i:02d}:00.000Z"}
            for i in range(4)
        ]
        for b in range(3)
    ]
    src = tmp_path / "feed"
    out, ckpt = str(tmp_path / "index"), str(tmp_path / "ck")
    queries = _pq_query_chunks(spark, [
        (9100 + i, " ".join(words[(7 * i + j) % 40] for j in range(50)))
        for i in range(3)
    ])
    queries.cache().count()

    fed: list[dict] = []

    def batch_answer():
        union = spark.createDataFrame(
            [(d["doc_id"], d["text"]) for d in fed], "doc_id long, text string"
        )
        chunks = char_chunk_documents(union, chunk_chars=160, overlap=40)
        emb = chunks.select(
            F.concat_ws(":", "doc_id", "chunk_idx").alias("chunk_key"),
            similarity.hash_embed("chunk_text").alias("ev"),
        )
        cells = similarity.ivf_assign(
            emb, _retrieval_centroid_frame(spark),
            corpus_id="chunk_key", corpus_vec="ev",
            cent_id="cid", cent_vec="cv", keep_cols=("ev",),
        )
        codes = pq_assign(
            cells, pq_books(), vec_col="ev", id_col="chunk_key",
            keep_cols=("centroid_id",),
        ).withColumnRenamed("chunk_key", "chunk_key")
        return sorted(map(tuple, ivf_pq_topk(
            queries, codes, pq_books(), _retrieval_centroid_frame(spark),
            k=5, n_probes=2,
            rerank_vecs=cells.select(
                "chunk_key", F.col("ev").alias("u")),
            query_id="qk", query_vec="qv",
            corpus_id="chunk_key", cell_col="centroid_id",
            cent_id="cid", cent_vec="cv",
        ).collect()))

    def stream_answer():
        return sorted(map(tuple, search_index_pq(
            spark, out, queries, k=5, n_probes=2
        ).collect()))

    for b, rows in enumerate(batches):
        _write_jsonl(src / f"b{b}.jsonl", rows)
        stream_index_chunks(spark, str(src), out, ckpt).awaitTermination(120)
        fed.extend(rows)
        got, want = stream_answer(), batch_answer()
        assert got and got == want, f"epoch {b}: {got[:3]}..."
    assert len(got) == 15  # by the 3rd epoch every query fills its top-5

    # compaction folds all but the newest epoch; the answer must not move
    assert compact_index_epochs(spark, out) is not None
    assert stream_answer() == got == batch_answer()
    queries.unpersist()


def test_index_pq_search_unchanged_through_torn_compaction(spark, tmp_path):
    """Torn-compaction crash injection on the PQ search path: with the
    compact= dir and its subsumed epoch= dirs coexisting on disk, the
    range-containment reader must count every PQ code exactly once — a
    double-read would duplicate shortlist candidates and shift the
    re-ranked top-k."""
    import shutil

    from shopify_etl_spark.streaming import (
        compact_index_epochs,
        read_index_chunks,
        search_index_pq,
        stream_index_chunks,
    )

    words = [f"r{i}" for i in range(30)]
    src = tmp_path / "feed"
    out, ckpt = str(tmp_path / "index"), str(tmp_path / "ck")
    for b in range(3):
        _write_jsonl(src / f"b{b}.jsonl", [
            {"doc_id": 50 * b + i,
             "text": " ".join(words[(b + i + j) % 30] for j in range(80)),
             "ingested_at": f"2024-10-01T0{b}:{i:02d}:00.000Z"}
            for i in range(3)
        ])
        stream_index_chunks(spark, str(src), out, ckpt).awaitTermination(120)

    queries = _pq_query_chunks(spark, [
        (7100, " ".join(words[(3 * j + 1) % 30] for j in range(50)))
    ])
    before = sorted(map(tuple, search_index_pq(
        spark, out, queries, k=5, n_probes=2
    ).collect()))
    assert before
    n_rows = read_index_chunks(spark, out).count()

    snap = tmp_path / "snap"
    shutil.copytree(out, snap)
    assert compact_index_epochs(spark, out) is not None
    for name in os.listdir(snap):
        if name.startswith("epoch=") and not os.path.exists(
            os.path.join(out, name)
        ):
            shutil.copytree(os.path.join(snap, name),
                            os.path.join(out, name))
    assert any(n.startswith("compact=") for n in os.listdir(out))
    assert sum(n.startswith("epoch=") for n in os.listdir(out)) >= 2

    assert read_index_chunks(spark, out).count() == n_rows
    after = sorted(map(tuple, search_index_pq(
        spark, out, queries, k=5, n_probes=2
    ).collect()))
    assert after == before


def test_stream_index_hamming_search_parity_with_batch(spark, tmp_path):
    """Streaming↔batch HAMMING-search parity (r13, completing the
    search-parity trio next to the full-precision and PQ gates): the
    store's incrementally maintained bq_bits — each epoch sign-encodes
    ONLY its own chunks against the frozen thresholds — must answer the
    Hamming-shortlist + exact-re-rank search EXACTLY like the same math
    over freshly encoded bits for the union of every fed document,
    after each epoch AND after compaction."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.operators import similarity
    from shopify_etl_spark.operators.quantization import bq_encode
    from shopify_etl_spark.operators.text import char_chunk_documents
    from shopify_etl_spark.streaming import (
        bq_thresholds,
        compact_index_epochs,
        hamming_topk_frame,
        search_index_hamming,
        stream_index_chunks,
    )

    words = [f"h{i}" for i in range(40)]
    batches = [
        [
            {"doc_id": 100 * b + i,
             "text": " ".join(words[(3 * b + i + j) % 40] for j in range(90)),
             "ingested_at": f"2024-11-01T0{b}:{i:02d}:00.000Z"}
            for i in range(4)
        ]
        for b in range(3)
    ]
    src = tmp_path / "feed"
    out, ckpt = str(tmp_path / "index"), str(tmp_path / "ck")
    queries = _pq_query_chunks(spark, [
        (9200 + i, " ".join(words[(5 * i + j) % 40] for j in range(50)))
        for i in range(3)
    ])
    queries.cache().count()

    fed: list[dict] = []

    def batch_answer():
        union = spark.createDataFrame(
            [(d["doc_id"], d["text"]) for d in fed], "doc_id long, text string"
        )
        chunks = char_chunk_documents(union, chunk_chars=160, overlap=40)
        emb = chunks.select(
            F.concat_ws(":", "doc_id", "chunk_idx").alias("chunk_key"),
            similarity.hash_embed("chunk_text").alias("ev"),
        )
        fresh = bq_encode(
            emb, bq_thresholds(), vec_col="ev", id_col="chunk_key",
            word_bits=16, keep_vec=True,
        ).withColumnRenamed("bits", "bq_bits")
        return sorted(map(tuple, hamming_topk_frame(
            fresh.select("chunk_key", "bq_bits", "ev"), queries,
            k=5, shortlist=20,
        ).collect()))

    def stream_answer():
        return sorted(map(tuple, search_index_hamming(
            spark, out, queries, k=5, shortlist=20
        ).collect()))

    got = None
    for b, rows in enumerate(batches):
        _write_jsonl(src / f"b{b}.jsonl", rows)
        stream_index_chunks(spark, str(src), out, ckpt).awaitTermination(120)
        fed.extend(rows)
        got, want = stream_answer(), batch_answer()
        assert got and got == want, f"epoch {b}: {got[:3]}..."
    assert len(got) == 15  # by the 3rd epoch every query fills its top-5

    # compaction folds all but the newest epoch; the answer must not move
    assert compact_index_epochs(spark, out) is not None
    assert stream_answer() == got == batch_answer()
    queries.unpersist()


def test_index_hamming_search_unchanged_through_torn_compaction(
    spark, tmp_path
):
    """Torn-compaction crash injection on the Hamming search path: with
    the compact= dir and its subsumed epoch= dirs coexisting, a
    double-read would duplicate Hamming candidates and shift the
    re-ranked top-k."""
    import shutil

    from shopify_etl_spark.streaming import (
        compact_index_epochs,
        read_index_chunks,
        search_index_hamming,
        stream_index_chunks,
    )

    words = [f"t{i}" for i in range(30)]
    src = tmp_path / "feed"
    out, ckpt = str(tmp_path / "index"), str(tmp_path / "ck")
    for b in range(3):
        _write_jsonl(src / f"b{b}.jsonl", [
            {"doc_id": 50 * b + i,
             "text": " ".join(words[(b + 2 * i + j) % 30] for j in range(80)),
             "ingested_at": f"2024-11-02T0{b}:{i:02d}:00.000Z"}
            for i in range(3)
        ])
        stream_index_chunks(spark, str(src), out, ckpt).awaitTermination(120)

    queries = _pq_query_chunks(spark, [
        (7200, " ".join(words[(3 * j + 2) % 30] for j in range(50)))
    ])
    before = sorted(map(tuple, search_index_hamming(
        spark, out, queries, k=5, shortlist=20
    ).collect()))
    assert before
    n_rows = read_index_chunks(spark, out).count()

    snap = tmp_path / "snap"
    shutil.copytree(out, snap)
    assert compact_index_epochs(spark, out) is not None
    for name in os.listdir(snap):
        if name.startswith("epoch=") and not os.path.exists(
            os.path.join(out, name)
        ):
            shutil.copytree(os.path.join(snap, name),
                            os.path.join(out, name))
    assert any(n.startswith("compact=") for n in os.listdir(out))

    assert read_index_chunks(spark, out).count() == n_rows
    after = sorted(map(tuple, search_index_hamming(
        spark, out, queries, k=5, shortlist=20
    ).collect()))
    assert after == before


def test_index_store_pre_bq_format_rejected(spark, tmp_path):
    """A store written by the early-r13 format (ev + pq_codes, no
    bq_bits) is one generation old: the format gate names the missing
    column in its rebuild message instead of failing deep inside the
    Hamming search."""
    import pytest
    from pyspark.sql import functions as F

    from shopify_etl_spark.streaming import read_index_chunks

    out = tmp_path / "index"
    early_r13 = spark.createDataFrame(
        [("0:0", 0, 5, 0, 0.5)],
        "chunk_key string, doc_id long, n_tokens long, "
        "centroid_id int, sim double",
    ).withColumn(
        "ev", F.array(*[F.lit(float(i)) for i in range(4)])
    ).withColumn(
        "pq_codes", F.array(F.lit(0), F.lit(1), F.lit(2), F.lit(3))
    )
    early_r13.write.mode("overwrite").parquet(str(out / "epoch=0"))
    with pytest.raises(ValueError, match="bq_bits"):
        read_index_chunks(spark, str(out))


def _probe_feed_rows(base_id, n, offset=0):
    """Healthy documents: 30+ mostly-distinct tokens with stopwords —
    the teacher keeps them and the cheap features agree."""
    rows = []
    for i in range(n):
        toks = [f"tok{base_id}_{i}_{j + offset}" for j in range(28)]
        toks += ["the", "a", "of", "and"]
        rows.append({
            "doc_id": base_id + i,
            "text": " ".join(toks),
            "ingested_at": f"2024-12-01T00:{i:02d}:00.000Z",
        })
    return rows


def _bigram_bomb_rows(base_id, n):
    """Documents the TEACHER drops (repetitive_bigram) but the cheap
    features can't see: unit 'u{i} v{i} a b' repeated — distinct ratio
    ~0.5 (passes), stopword ratio 0.25 ('a' is a stopword — passes),
    length fine, but the bigram 'a b' carries ~25% of all bigrams
    (> the 0.20 gate). A student trained on healthy docs predicts keep
    — agreement collapses, which is exactly the drift signal."""
    rows = []
    for i in range(n):
        units = []
        for j in range(12):
            units += [f"u{base_id}_{i}_{j}", f"v{base_id}_{i}_{j}", "a", "b"]
        rows.append({
            "doc_id": base_id + i,
            "text": " ".join(units),
            "ingested_at": f"2024-12-02T00:{i:02d}:00.000Z",
        })
    return rows


def test_stream_probe_monitor_parity_and_frozen_weights(spark, tmp_path):
    """Streaming quality-probe monitor: epoch 0 trains the student
    (deterministically — the stored weights must equal a fresh
    batch-side probe_train on the same docs), later epochs score with
    the FROZEN weights, and the store's cumulative agreement must equal
    a fresh batch computation with those weights over the union."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.operators import classifier as C
    from shopify_etl_spark.streaming import (
        read_probe_drift,
        stream_probe_monitor,
    )

    src = tmp_path / "feed"
    store, ckpt = str(tmp_path / "probe"), str(tmp_path / "ck")
    batches = [
        _probe_feed_rows(0, 6),
        _probe_feed_rows(100, 5, offset=7),
        _probe_feed_rows(200, 7, offset=13),
    ]
    from shopify_etl_spark.streaming.dedup_stream import DOC_FEED_SCHEMA

    fed = []
    for b, rows in enumerate(batches):
        _write_jsonl(src / f"b{b}.jsonl", rows)
        feed = spark.readStream.schema(DOC_FEED_SCHEMA).json(str(src))
        stream_probe_monitor(feed, store, ckpt).awaitTermination(120)
        fed.extend(rows)

    drift = read_probe_drift(spark, store).collect()
    assert len(drift) == 3
    assert sum(1 for r in drift if r.trained) == 1

    # frozen weights == deterministic retrain on the epoch-0 docs
    ep0 = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in batches[0]],
        "doc_id long, text string",
    )
    frame0 = C.quality_probe_frame(ep0).localCheckpoint()
    mus, sds, n = C.feature_stats(frame0)
    w = C.probe_train(frame0, mus, sds, n, iters=16, lr=0.4)
    from shopify_etl_spark.streaming.probe_stream import _frozen_model

    sw, smus, ssds = _frozen_model(spark, store)
    assert sw == w and smus == mus and ssds == sds

    # cumulative agreement parity: store sums == fresh scoring of the
    # union with the stored weights
    union = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in fed], "doc_id long, text string"
    )
    uf = C.quality_probe_frame(union)
    scored = C.probe_score(uf, sw, smus, ssds)
    fresh = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("pred_keep") == F.col("keep")).cast("long")).alias("a"),
    ).collect()[0]
    assert sum(r.n_docs for r in drift) == fresh["n"]
    assert sum(r.n_agree for r in drift) == fresh["a"]


def test_stream_probe_drift_alarm_fires_on_bigram_bomb(spark, tmp_path):
    """Planted drift: a batch of bigram-bomb documents (teacher drops,
    cheap features look healthy) must push that epoch's agreement below
    baseline − 0.15 and set drifted=True — while the healthy epochs stay
    un-flagged."""
    from shopify_etl_spark.streaming import (
        read_probe_drift,
        stream_probe_monitor,
    )
    from shopify_etl_spark.streaming.dedup_stream import DOC_FEED_SCHEMA

    src = tmp_path / "feed"
    store, ckpt = str(tmp_path / "probe"), str(tmp_path / "ck")
    for b, rows in enumerate([
        _probe_feed_rows(0, 8),
        _bigram_bomb_rows(500, 8),
    ]):
        _write_jsonl(src / f"b{b}.jsonl", rows)
        feed = spark.readStream.schema(DOC_FEED_SCHEMA).json(str(src))
        stream_probe_monitor(feed, store, ckpt).awaitTermination(120)

    drift = {
        (r.trained): r for r in read_probe_drift(spark, store).collect()
    }
    healthy, bomb = drift[True], drift[False]
    assert not healthy.drifted
    assert bomb.drifted
    assert bomb.agreement <= healthy.baseline - 0.15


def test_stream_probe_torn_epoch_rewritten_and_compaction(spark, tmp_path):
    """Crash injection (the sketch-store protocol): a torn epoch-0 dir
    (bogus row, no _SUCCESS — the state a crash mid-write leaves) must
    be rewritten on replay, landing on the same numbers as a clean run;
    compaction changes no agreement number and preserves the trained
    model row."""
    from shopify_etl_spark.streaming import (
        compact_probe_store,
        read_probe_drift,
        stream_probe_monitor,
    )
    from shopify_etl_spark.streaming.dedup_stream import DOC_FEED_SCHEMA
    from shopify_etl_spark.streaming.probe_stream import _frozen_model

    src = tmp_path / "feed"
    clean = str(tmp_path / "probe_clean")
    store = tmp_path / "probe_torn"

    # torn store: epoch=0 exists with a bogus row and NO _SUCCESS
    # BEFORE the stream ever runs against it
    ep0 = store / "epoch=0"
    ep0.mkdir(parents=True)
    bogus = spark.createDataFrame(
        [(999, 0, 0.0, [0.0], [0.0], [1.0], True)],
        "n_docs long, n_agree long, sum_score double, w array<double>, "
        "mus array<double>, sds array<double>, trained boolean",
    )
    bogus.coalesce(1).write.mode("overwrite").parquet(str(ep0))
    (ep0 / "_SUCCESS").unlink()  # the crash: files landed, no marker

    # incremental epochs against BOTH stores (availableNow folds every
    # already-present file into one batch, so feed files land one at a
    # time)
    for b in range(3):
        _write_jsonl(
            src / f"b{b}.jsonl", _probe_feed_rows(1000 * b, 5, offset=b)
        )
        feed = spark.readStream.schema(DOC_FEED_SCHEMA).json(str(src))
        stream_probe_monitor(
            feed, clean, str(tmp_path / "ck_clean")
        ).awaitTermination(120)
        feed = spark.readStream.schema(DOC_FEED_SCHEMA).json(str(src))
        stream_probe_monitor(
            feed, str(store), str(tmp_path / "ck_torn")
        ).awaitTermination(120)

    want = sorted(map(tuple, read_probe_drift(spark, clean).collect()))
    assert len(want) == 3
    got = sorted(map(tuple, read_probe_drift(spark, str(store)).collect()))
    assert got == want  # bogus row gone, epoch 0 retrained + rewritten

    # compaction: row-union fold — numbers and the frozen model survive
    model_before = _frozen_model(spark, str(store))
    assert compact_probe_store(spark, str(store)) is not None
    after = sorted(map(tuple, read_probe_drift(spark, str(store)).collect()))
    assert after == want
    assert _frozen_model(spark, str(store)) == model_before


def test_stream_probe_empty_batches_never_train_or_crash(spark, tmp_path):
    """ADVICE r13: an empty microbatch must not kill the monitor. An
    empty epoch 0 (all documents filtered by the featurizer) must NOT
    freeze a model — the first non-empty batch trains instead; an empty
    LATER batch commits an n_docs=0 row (SUM-over-zero-rows nulls
    tolerated) that never alarms."""
    from shopify_etl_spark.streaming import (
        read_probe_drift,
        stream_probe_monitor,
    )
    from shopify_etl_spark.streaming.dedup_stream import DOC_FEED_SCHEMA
    from shopify_etl_spark.streaming.probe_stream import _frozen_model

    src = tmp_path / "feed"
    store, ckpt = str(tmp_path / "probe"), str(tmp_path / "ck")
    empty_docs = [  # zero tokens -> quality_probe_frame filters all rows
        {"doc_id": 1, "text": "", "ingested_at": "2024-12-01T00:00:00.000Z"}
    ]
    for b, rows in enumerate([
        empty_docs,                      # epoch 0: empty -> skip, no train
        _probe_feed_rows(100, 6),        # epoch 1: first real docs train
        empty_docs,                      # epoch 2: empty under frozen model
    ]):
        _write_jsonl(src / f"b{b}.jsonl", rows)
        feed = spark.readStream.schema(DOC_FEED_SCHEMA).json(str(src))
        stream_probe_monitor(feed, store, ckpt).awaitTermination(120)
        if b == 0:
            assert _frozen_model(spark, store) is None  # nothing trained

    drift = sorted(
        read_probe_drift(spark, store).collect(), key=lambda r: -r.n_docs
    )
    assert len(drift) == 2  # the empty epoch 0 was never committed
    trained, empty = drift
    assert trained.trained and trained.n_docs == 6
    assert empty.n_docs == 0 and empty.n_agree == 0
    assert empty.agreement is None
    assert empty.drifted is False  # no evidence -> no alarm


def test_stream_index_sq_search_parity_with_batch(spark, tmp_path):
    """Streaming↔batch SQ-search parity (VERDICT r13 #4): the store's
    incrementally maintained sq_codes — each epoch int8-encodes ONLY its
    own chunks against the frozen [min,max] grid — must answer the
    asymmetric dequantize-accumulate search EXACTLY like the same math
    over freshly encoded codes for the union of every fed document,
    after each epoch AND after compaction."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.operators import similarity
    from shopify_etl_spark.operators.quantization import sq_encode, sq_topk
    from shopify_etl_spark.operators.text import char_chunk_documents
    from shopify_etl_spark.streaming import (
        compact_index_epochs,
        search_index_sq,
        sq_grid,
        stream_index_chunks,
    )

    words = [f"s{i}" for i in range(40)]
    batches = [
        [
            {"doc_id": 100 * b + i,
             "text": " ".join(words[(3 * b + i + j) % 40] for j in range(90)),
             "ingested_at": f"2024-11-03T0{b}:{i:02d}:00.000Z"}
            for i in range(4)
        ]
        for b in range(3)
    ]
    src = tmp_path / "feed"
    out, ckpt = str(tmp_path / "index"), str(tmp_path / "ck")
    queries = _pq_query_chunks(spark, [
        (9300 + i, " ".join(words[(5 * i + j) % 40] for j in range(50)))
        for i in range(3)
    ])
    queries.cache().count()
    mins, maxs = sq_grid()

    fed: list[dict] = []

    def batch_answer():
        union = spark.createDataFrame(
            [(d["doc_id"], d["text"]) for d in fed], "doc_id long, text string"
        )
        chunks = char_chunk_documents(union, chunk_chars=160, overlap=40)
        emb = chunks.select(
            F.concat_ws(":", "doc_id", "chunk_idx").alias("chunk_key"),
            similarity.hash_embed("chunk_text").alias("ev"),
        )
        fresh = sq_encode(
            emb, mins, maxs, vec_col="ev", id_col="chunk_key"
        )
        return sorted(map(tuple, sq_topk(
            queries, fresh, mins, maxs, k=5,
            query_id="qk", query_vec="qv", corpus_id="chunk_key",
        ).collect()))

    def stream_answer():
        return sorted(map(tuple, search_index_sq(
            spark, out, queries, k=5
        ).collect()))

    got = None
    for b, rows in enumerate(batches):
        _write_jsonl(src / f"b{b}.jsonl", rows)
        stream_index_chunks(spark, str(src), out, ckpt).awaitTermination(120)
        fed.extend(rows)
        got, want = stream_answer(), batch_answer()
        assert got and got == want, f"epoch {b}: {got[:3]}..."
    assert len(got) == 15  # by the 3rd epoch every query fills its top-5

    # compaction folds all but the newest epoch; the answer must not move
    assert compact_index_epochs(spark, out) is not None
    assert stream_answer() == got == batch_answer()
    queries.unpersist()


def test_index_sq_search_unchanged_through_torn_compaction(spark, tmp_path):
    """Torn-compaction crash injection on the SQ search path: with the
    compact= dir and its subsumed epoch= dirs coexisting, a double-read
    would duplicate dequantized candidates and shift the top-k."""
    import shutil

    from shopify_etl_spark.streaming import (
        compact_index_epochs,
        read_index_chunks,
        search_index_sq,
        stream_index_chunks,
    )

    words = [f"u{i}" for i in range(30)]
    src = tmp_path / "feed"
    out, ckpt = str(tmp_path / "index"), str(tmp_path / "ck")
    for b in range(3):
        _write_jsonl(src / f"b{b}.jsonl", [
            {"doc_id": 50 * b + i,
             "text": " ".join(words[(b + 2 * i + j) % 30] for j in range(80)),
             "ingested_at": f"2024-11-04T0{b}:{i:02d}:00.000Z"}
            for i in range(3)
        ])
        stream_index_chunks(spark, str(src), out, ckpt).awaitTermination(120)

    queries = _pq_query_chunks(spark, [
        (7300, " ".join(words[(3 * j + 2) % 30] for j in range(50)))
    ])
    before = sorted(map(tuple, search_index_sq(
        spark, out, queries, k=5
    ).collect()))
    assert before
    n_rows = read_index_chunks(spark, out).count()

    snap = tmp_path / "snap"
    shutil.copytree(out, snap)
    assert compact_index_epochs(spark, out) is not None
    for name in os.listdir(snap):
        if name.startswith("epoch=") and not os.path.exists(
            os.path.join(out, name)
        ):
            shutil.copytree(os.path.join(snap, name),
                            os.path.join(out, name))
    assert any(n.startswith("compact=") for n in os.listdir(out))

    assert read_index_chunks(spark, out).count() == n_rows
    after = sorted(map(tuple, search_index_sq(
        spark, out, queries, k=5
    ).collect()))
    assert after == before


def test_index_store_pre_sq_format_rejected(spark, tmp_path):
    """A store written by the r13 format (ev + pq_codes + bq_bits, no
    sq_codes) is one generation old: the format gate names the missing
    column in its rebuild message instead of failing deep inside the
    SQ search."""
    import pytest
    from pyspark.sql import functions as F

    from shopify_etl_spark.streaming import read_index_chunks

    out = tmp_path / "index"
    r13_store = spark.createDataFrame(
        [("0:0", 0, 5, 0, 0.5)],
        "chunk_key string, doc_id long, n_tokens long, "
        "centroid_id int, sim double",
    ).withColumn(
        "ev", F.array(*[F.lit(float(i)) for i in range(4)])
    ).withColumn(
        "pq_codes", F.array(F.lit(0), F.lit(1), F.lit(2), F.lit(3))
    ).withColumn("bq_bits", F.array(F.lit(7)))
    r13_store.write.mode("overwrite").parquet(str(out / "epoch=0"))
    with pytest.raises(ValueError, match="sq_codes"):
        read_index_chunks(spark, str(out))


def test_probe_rebuild_retrains_after_drift_alarm(spark, tmp_path):
    """The drift alarm's remediation as a tested path (VERDICT r13 #4):
    a shifted batch fires the alarm against the old student; an explicit
    rebuild (store + checkpoint deleted TOGETHER) retrains on the
    current distribution and the new store's agreement is restored."""
    from shopify_etl_spark.streaming import (
        read_probe_drift,
        rebuild_probe_store,
        stream_probe_monitor,
    )
    from shopify_etl_spark.streaming.dedup_stream import DOC_FEED_SCHEMA

    src_old = tmp_path / "feed_old"     # the pre-drift distribution
    src_new = tmp_path / "feed_new"     # the post-drift distribution
    store, ckpt = str(tmp_path / "probe"), str(tmp_path / "ck")

    _write_jsonl(src_old / "b0.jsonl", _probe_feed_rows(0, 8))
    feed = spark.readStream.schema(DOC_FEED_SCHEMA).json(str(src_old))
    stream_probe_monitor(feed, store, ckpt).awaitTermination(120)

    _write_jsonl(src_new / "b0.jsonl", _bigram_bomb_rows(500, 8))
    # the drift batch arrives through the BOUND checkpoint's feed dir
    # (a separate checkpoint would violate the pairing gate)
    _write_jsonl(src_old / "b1.jsonl", _bigram_bomb_rows(500, 8))
    feed = spark.readStream.schema(DOC_FEED_SCHEMA).json(str(src_old))
    stream_probe_monitor(feed, store, ckpt).awaitTermination(120)

    drift = {r.trained: r for r in read_probe_drift(spark, store).collect()}
    assert drift[False].drifted  # the alarm the rebuild answers

    # remediation: rebuild store+checkpoint together, re-ingest the
    # CURRENT distribution — the student retrains as the new epoch 0
    rebuild_probe_store(spark, store, ckpt)
    feed = spark.readStream.schema(DOC_FEED_SCHEMA).json(str(src_new))
    stream_probe_monitor(feed, store, ckpt).awaitTermination(120)
    after = read_probe_drift(spark, store).collect()
    assert len(after) == 1 and after[0].trained
    assert not after[0].drifted
    assert after[0].agreement >= drift[False].agreement + 0.15


def _crawl_feed_batch(
    spark, src, name, doc_rows, docs_per_file=5, image_every=0, **synth_kw
):
    """Write one parquet feed delivery of synthesized .warc.gz archives.
    Part files land FLAT in the feed dir (the file stream source lists
    files, not nested delivery directories)."""
    import glob
    import shutil

    from shopify_etl_spark.sources.warc import synth_warc_files

    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    tmp = os.path.join(str(src), f"_tmp_{name}")
    synth_warc_files(
        docs, docs_per_file=docs_per_file, image_every=image_every,
        **synth_kw
    ).select(
        "file_id", "warc"
    ).write.mode("overwrite").parquet(tmp)
    for i, part in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*")))):
        shutil.move(part, os.path.join(str(src), f"{name}-{i}.parquet"))
    shutil.rmtree(tmp)


def test_stream_crawl_ingest_matches_batch_chain(spark, tmp_path):
    """Streaming↔batch parity for the crawl front door: the curated
    corpus over committed epochs must equal the batch chain (record
    split → extraction → quality gate) over the union of every archive
    ever fed — after each epoch AND after compaction. Exercises real
    gzip members, the 404 filter (doc 17 is planted), and quality
    verdicts through the stream."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.sources.warc import synth_warc_files
    from shopify_etl_spark.streaming import (
        compact_crawl_store,
        curate_archives,
        read_crawl_corpus,
        stream_crawl_ingest,
    )

    words = [f"c{i}" for i in range(40)] + ["the", "a", "of"]
    def doc(d):
        return (d, " ".join(words[(d + j) % 43] for j in range(30 + d % 9)))

    batches = [
        [doc(d) for d in range(0, 10)],
        [doc(d) for d in range(10, 20)],   # includes the 404-planted 17
        [doc(d) for d in range(20, 35)],
    ]
    src = tmp_path / "feed"
    src.mkdir()
    store, ckpt = str(tmp_path / "crawl"), str(tmp_path / "ck")

    fed = []
    for b, rows in enumerate(batches):
        _crawl_feed_batch(spark, src, f"d{b}.parquet", rows)
        stream_crawl_ingest(spark, str(src), store, ckpt).awaitTermination(120)
        fed.extend(rows)
        got = sorted(map(tuple, read_crawl_corpus(spark, store).collect()))
        union = spark.createDataFrame(fed, "doc_id long, text string")
        want = sorted(map(tuple, curate_archives(
            synth_warc_files(union, docs_per_file=5).select("file_id", "warc")
        ).collect()))
        assert got == want and got, f"epoch {b}"

    # the planted 404 never reaches the corpus; everything else does
    ids = {r.doc_id for r in read_crawl_corpus(spark, store).collect()}
    assert 17 not in ids and 0 not in ids  # doc 0: 0 % 17 == 0 too
    assert ids == {d for d in range(35) if d % 17 != 0}

    # compaction: row-union fold, corpus unchanged
    before = sorted(map(tuple, read_crawl_corpus(spark, store).collect()))
    assert compact_crawl_store(spark, store) is not None
    assert sorted(map(tuple, read_crawl_corpus(spark, store).collect())) \
        == before


def test_stream_crawl_torn_epoch_rewritten_on_replay(spark, tmp_path):
    """Crash injection (sketch-store protocol): a torn epoch-0 dir
    (bogus row, no _SUCCESS) must be invisible to readers and rewritten
    wholesale on replay, landing on clean-run values."""
    from shopify_etl_spark.streaming import (
        read_crawl_corpus,
        stream_crawl_ingest,
    )

    src = tmp_path / "feed"
    src.mkdir()
    store = tmp_path / "crawl"
    ep0 = store / "epoch=0"
    ep0.mkdir(parents=True)
    bogus = spark.createDataFrame(
        [(999, 999, "bogus", 1, True, "")],
        "file_id long, doc_id long, text_out string, n_tokens long, "
        "keep boolean, reasons string",
    )
    bogus.coalesce(1).write.mode("overwrite").parquet(str(ep0))
    (ep0 / "_SUCCESS").unlink()  # the crash: files landed, no marker

    rows = [(d, "w " * 25 + f"tail{d} the a of") for d in range(1, 6)]
    _crawl_feed_batch(spark, src, "d0.parquet", rows)
    stream_crawl_ingest(
        spark, str(src), str(store), str(tmp_path / "ck")
    ).awaitTermination(120)

    got = read_crawl_corpus(spark, str(store)).collect()
    assert {r.doc_id for r in got} == {1, 2, 3, 4, 5}
    assert all(r.doc_id != 999 for r in got)  # bogus row gone


def test_stream_crawl_mm_matches_batch_chain(spark, tmp_path):
    """Streaming↔batch parity for the MULTIMODAL crawl route (r15):
    epochs hold the mime-routed union — HTML fetches through
    extraction + the quality gate, image/png fetches through the REAL
    PNG decode — and the committed corpus must equal curate_archives_mm
    over the union of every archive ever fed. Image rows additionally
    pin the decoded pixel sums against the synth raster formula, so a
    silently-degraded decode (not just a dropped row) fails parity."""
    from shopify_etl_spark.sources.warc import synth_warc_files
    from shopify_etl_spark.streaming import (
        curate_archives_mm,
        read_crawl_corpus,
        stream_crawl_ingest,
    )

    words = [f"c{i}" for i in range(40)] + ["the", "a", "of"]

    def doc(d):
        return (d, " ".join(words[(d + j) % 43] for j in range(30 + d % 9)))

    batches = [
        [doc(d) for d in range(0, 12)],    # 2, 7, 12 are png fetches
        [doc(d) for d in range(12, 25)],   # includes the 404-planted 17
    ]
    src = tmp_path / "feed"
    src.mkdir()
    store, ckpt = str(tmp_path / "crawl_mm"), str(tmp_path / "ck_mm")

    fed = []
    for b, rows in enumerate(batches):
        _crawl_feed_batch(
            spark, src, f"d{b}.parquet", rows, image_every=5
        )
        stream_crawl_ingest(
            spark, str(src), store, ckpt, multimodal=True
        ).awaitTermination(120)
        fed.extend(rows)
        got = sorted(map(tuple, read_crawl_corpus(spark, store).collect()))
        union = spark.createDataFrame(fed, "doc_id long, text string")
        want = sorted(map(tuple, curate_archives_mm(
            synth_warc_files(
                union, docs_per_file=5, image_every=5
            ).select("file_id", "warc")
        ).collect()))
        assert got == want and got, f"epoch {b}"

    rows = read_crawl_corpus(spark, store).collect()
    by_mod = {}
    for r in rows:
        by_mod.setdefault(r.modality, []).append(r)
    # png fetches: d % 5 == 2, d % 17 != 0, over both batches
    want_imgs = {d for d in range(25) if d % 5 == 2 and d % 17 != 0}
    assert {r.doc_id for r in by_mod["image"]} == want_imgs
    # decoded pixel sums match the synth raster formula exactly
    for r in by_mod["image"]:
        d = r.doc_id
        w, h = 8 + d % 5, 6 + d % 4
        want_sum = sum(
            (d * 31 + rr * 17 + cc * 7) % 256
            for rr in range(h)
            for cc in range(w)
        )
        assert (r.n_pixels, r.pixel_sum) == (w * h, want_sum), d
    # text route: planted 404s excluded, image docs not in the text side
    text_ids = {r.doc_id for r in by_mod["text"]}
    assert text_ids == {
        d for d in range(25) if d % 17 != 0 and d % 5 != 2
    }


def test_stream_crawl_mm_torn_epoch_rewritten_on_replay(spark, tmp_path):
    """Crash injection on the multimodal route: a torn epoch-0 dir
    (bogus row in the UNIFIED schema, no _SUCCESS) is invisible and
    rewritten wholesale on replay."""
    from shopify_etl_spark.streaming import (
        read_crawl_corpus,
        stream_crawl_ingest,
    )

    src = tmp_path / "feed"
    src.mkdir()
    store = tmp_path / "crawl_mm"
    ep0 = store / "epoch=0"
    ep0.mkdir(parents=True)
    bogus = spark.createDataFrame(
        [(999, 999, "image", None, None, True, "", 1, 1)],
        "file_id long, doc_id long, modality string, text_out string, "
        "n_tokens long, keep boolean, reasons string, n_pixels long, "
        "pixel_sum long",
    )
    bogus.coalesce(1).write.mode("overwrite").parquet(str(ep0))
    (ep0 / "_SUCCESS").unlink()  # the crash: files landed, no marker

    rows = [(d, "w " * 25 + f"tail{d} the a of") for d in range(1, 8)]
    _crawl_feed_batch(spark, src, "d0.parquet", rows, image_every=5)
    stream_crawl_ingest(
        spark, str(src), str(store), str(tmp_path / "ck"),
        multimodal=True,
    ).awaitTermination(120)

    got = read_crawl_corpus(spark, str(store)).collect()
    assert all(r.doc_id != 999 for r in got)  # bogus row gone
    assert {r.doc_id for r in got if r.modality == "image"} == {2, 7}
    assert {r.doc_id for r in got if r.modality == "text"} == \
        {1, 3, 4, 5, 6}


def _shard_feed_batch(spark, src, name, rows):
    """One parquet delivery of (doc_id, source, text) docs, part files
    flat in the feed dir."""
    import glob
    import shutil

    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    tmp = os.path.join(str(src), f"_tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    for i, part in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*")))):
        shutil.move(part, os.path.join(str(src), f"{name}-{i}.parquet"))
    shutil.rmtree(tmp)


def _shard_rows(df):
    return sorted(
        (r.source, r.shard_id, r.n_seqs, r.n_tokens, r.n_pad,
         r.byte_len, r.checksum, bytes(r.blob))
        for r in df.collect()
    )


def test_stream_shard_export_matches_batch_under_frozen_vocab(
    spark, tmp_path
):
    """Streaming↔batch parity for the shard store (r15): the frozen
    vocabulary is trained on epoch 0 ONLY; every epoch's stored shard
    rows (blobs included, byte-for-byte) equal the batch export of
    that epoch's documents under the same frozen vocab — even when a
    later epoch's token distribution is disjoint from the training
    epoch (everything maps to OOV, ids stay stable)."""
    from shopify_etl_spark.operators import shards as S
    from shopify_etl_spark.streaming import (
        epoch_shards,
        read_shard_store,
        stream_shard_export,
    )

    def doc(d, src, words):
        return (d, src, " ".join(words[(d + j) % len(words)]
                                 for j in range(20 + d % 5)))

    w0 = [f"a{i}" for i in range(30)]
    w1 = [f"b{i}" for i in range(30)]  # disjoint: all-OOV under frozen
    batches = [
        [doc(d, "s0", w0) for d in range(8)],
        [doc(d, "s0", w1) for d in range(8, 14)]
        + [doc(d, "s1", w0) for d in range(14, 18)],
    ]
    src = tmp_path / "feed"
    src.mkdir()
    store, ckpt = str(tmp_path / "shards"), str(tmp_path / "ck")

    kw = dict(vocab_size=16, seq_len=8, seqs_per_shard=2)
    for b, rows in enumerate(batches):
        _shard_feed_batch(spark, src, f"d{b}.parquet", rows)
        stream_shard_export(
            spark, str(src), store, ckpt, **kw
        ).awaitTermination(120)

    stored = read_shard_store(spark, store)
    # frozen vocab == vocab trained on epoch-0 docs alone
    e0 = spark.createDataFrame(
        batches[0], "doc_id long, source string, text string"
    )
    frozen = S.train_vocab(e0, vocab_size=16, text_col="text")
    vocabs = {tuple(r["vocab"]) for r in stored.select("vocab").collect()}
    assert vocabs == {tuple(frozen)}
    # exactly one trained epoch
    assert set(
        r["trained"]
        for r in stored.select("trained").distinct().collect()
    ) == {True, False}

    # per-epoch parity: union of batch exports == stored rows
    want = []
    for rows in batches:
        df = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        want += _shard_rows(epoch_shards(df, frozen, **kw))
    got = _shard_rows(
        stored.select(
            "source", "shard_id", "n_seqs", "n_tokens", "n_pad",
            "byte_len", "checksum", "blob",
        )
    )
    assert got == sorted(want) and got

    # the disjoint-vocab epoch really is all-OOV: decode one s0 blob
    # from epoch 1 and check ids are OOV (16) or pad (17)
    import numpy as np

    e1_rows = [
        r for r in stored.collect()
        if not r.trained and r.source == "s0"
    ]
    assert e1_rows
    ids = set(
        np.frombuffer(bytes(e1_rows[0].blob), dtype="<u2").tolist()
    )
    assert ids <= {16, 17}


def test_stream_shard_store_crash_and_compaction(spark, tmp_path):
    """Torn epoch-0 (rows but no _SUCCESS) is invisible and rewritten
    on replay; compaction preserves every row byte-identically
    including the trained vocab row; validation catches a tampered
    checksum."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.streaming import (
        compact_shard_store,
        read_shard_store,
        stream_shard_export,
    )

    src = tmp_path / "feed"
    src.mkdir()
    store = tmp_path / "shards"
    ep0 = store / "epoch=0"
    ep0.mkdir(parents=True)
    bogus = spark.createDataFrame(
        [("sX", 0, 1, 1, 7, 16, 999, b"xx", ["t"], True)],
        "source string, shard_id long, n_seqs long, n_tokens long, "
        "n_pad long, byte_len long, checksum long, blob binary, "
        "vocab array<string>, trained boolean",
    )
    bogus.coalesce(1).write.mode("overwrite").parquet(str(ep0))
    (ep0 / "_SUCCESS").unlink()  # the crash

    rows = [(d, "s0", "w " * 12 + f"t{d}") for d in range(6)]
    _shard_feed_batch(spark, src, "d0.parquet", rows)
    stream_shard_export(
        spark, str(src), str(store), str(tmp_path / "ck"),
        vocab_size=16, seq_len=8, seqs_per_shard=2,
    ).awaitTermination(120)

    got = read_shard_store(spark, str(store))
    assert got.filter(F.col("source") == "sX").count() == 0  # bogus gone
    before = _shard_rows(
        got.select("source", "shard_id", "n_seqs", "n_tokens", "n_pad",
                   "byte_len", "checksum", "blob")
    )
    assert before

    # two more epochs then compact (the fold needs >= 2 inputs besides
    # the protected newest epoch): row union, byte-identical
    for b, ids in (("d1", (7, 8)), ("d2", (9, 10))):
        _shard_feed_batch(
            spark, src, f"{b}.parquet",
            [(d, "s0", f"u{d} v w") for d in ids],
        )
        stream_shard_export(
            spark, str(src), str(store), str(tmp_path / "ck"),
            vocab_size=16, seq_len=8, seqs_per_shard=2,
        ).awaitTermination(120)
    full = read_shard_store(spark, str(store))
    pre = _shard_rows(full.select(
        "source", "shard_id", "n_seqs", "n_tokens", "n_pad",
        "byte_len", "checksum", "blob"))
    n_trained = full.filter("trained").count()
    assert compact_shard_store(spark, str(store)) is not None
    post_df = read_shard_store(spark, str(store))
    assert _shard_rows(post_df.select(
        "source", "shard_id", "n_seqs", "n_tokens", "n_pad",
        "byte_len", "checksum", "blob")) == pre
    assert post_df.filter("trained").count() == n_trained

    # tampered checksum: validation refuses
    dirs = [str(p) for p in store.iterdir() if p.name.startswith(
        ("epoch=", "compact="))]
    tampered = spark.read.parquet(dirs[0]).withColumn(
        "checksum", F.col("checksum") + 1
    )
    tampered.cache().count()
    tampered.write.mode("overwrite").parquet(dirs[0])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="checksum"):
        read_shard_store(spark, str(store))


def test_stream_shard_empty_first_epoch_never_trains(spark, tmp_path):
    """An empty first delivery must not train a garbage vocab: the
    store stays untrained (no commit) and the first NON-empty batch
    becomes the training epoch."""
    from shopify_etl_spark.streaming import (
        read_shard_store,
        stream_shard_export,
    )

    src = tmp_path / "feed"
    src.mkdir()
    store, ckpt = str(tmp_path / "shards"), str(tmp_path / "ck")
    empty = spark.createDataFrame([], "doc_id long, source string, text string")
    import glob
    import shutil

    tmp = os.path.join(str(src), "_tmp_e")
    empty.coalesce(1).write.mode("overwrite").parquet(tmp)
    for i, part in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*")))):
        shutil.move(part, os.path.join(str(src), f"e-{i}.parquet"))
    shutil.rmtree(tmp)
    stream_shard_export(
        spark, str(src), store, ckpt, vocab_size=16, seq_len=8,
        seqs_per_shard=2,
    ).awaitTermination(120)
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        read_shard_store(spark, store)

    _shard_feed_batch(
        spark, src, "d0.parquet", [(1, "s0", "x y z w v u")]
    )
    stream_shard_export(
        spark, str(src), store, ckpt, vocab_size=16, seq_len=8,
        seqs_per_shard=2,
    ).awaitTermination(120)
    got = read_shard_store(spark, store)
    assert got.count() > 0 and got.filter("trained").count() == got.count()


def test_stream_shard_whitespace_only_first_epoch_never_wedges(
    spark, tmp_path
):
    """Review fix: a first batch whose docs all tokenize to ZERO tokens
    (empty/whitespace text) must not commit an untrained epoch — that
    would wedge every later epoch on the missing-model error. The
    store stays uncommitted and the first token-bearing batch trains."""
    from shopify_etl_spark.streaming import (
        read_shard_store,
        stream_shard_export,
    )

    src = tmp_path / "feed"
    src.mkdir()
    store, ckpt = str(tmp_path / "shards"), str(tmp_path / "ck")
    _shard_feed_batch(
        spark, src, "d0.parquet",
        [(1, "s0", "   "), (2, "s0", ""), (3, "s0", "\t\n")],
    )
    stream_shard_export(
        spark, str(src), store, ckpt, vocab_size=16, seq_len=8,
        seqs_per_shard=2,
    ).awaitTermination(120)
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        read_shard_store(spark, store)

    _shard_feed_batch(
        spark, src, "d1.parquet", [(4, "s0", "a b c d e f")]
    )
    stream_shard_export(
        spark, str(src), store, ckpt, vocab_size=16, seq_len=8,
        seqs_per_shard=2,
    ).awaitTermination(120)
    got = read_shard_store(spark, store)
    assert got.count() > 0
    assert got.filter("trained").count() == got.count()


def test_stream_crawl_routes_unknown_encoding_as_accounting_rows(
    spark, tmp_path
):
    """Transport routing through the STREAM (r16, VERDICT r15 #1): a
    feed whose archives carry unknown-Content-Encoding (br) fetches
    commits them as ACCOUNTING rows (keep=false,
    reasons='transport:br', null text) — counted, never extracted,
    never silently dropped — and the committed corpus still equals the
    batch chain over the union of everything fed."""
    from pyspark.sql import functions as F  # noqa: F401

    from shopify_etl_spark.sources.warc import synth_warc_files
    from shopify_etl_spark.streaming import (
        curate_archives,
        read_crawl_corpus,
        stream_crawl_ingest,
    )

    words = [f"c{i}" for i in range(40)] + ["the", "a", "of"]

    def doc(d):
        return (d, " ".join(words[(d + j) % 43] for j in range(30 + d % 9)))

    # ids 1..12: 6 rides the br leg (6 % 9 == 6); the rest decode
    rows = [doc(d) for d in range(1, 13)]
    src = tmp_path / "feed"
    src.mkdir()
    store, ckpt = str(tmp_path / "crawl_enc"), str(tmp_path / "ck_enc")
    _crawl_feed_batch(
        spark, src, "d0.parquet", rows,
        http_variants=True, unknown_encoding_every=9,
    )
    stream_crawl_ingest(spark, str(src), store, ckpt).awaitTermination(120)
    got = {r.doc_id: r for r in read_crawl_corpus(spark, store).collect()}
    assert set(got) == set(range(1, 13))
    skipped = got[6]
    assert skipped.keep is False
    assert skipped.reasons == "transport:br"
    assert skipped.text_out is None
    assert all(got[d].text_out is not None for d in got if d != 6)
    # batch-equivalence over the same feed
    union = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(map(tuple, curate_archives(
        synth_warc_files(
            union, docs_per_file=5, http_variants=True,
            unknown_encoding_every=9,
        ).select("file_id", "warc")
    ).collect()))
    assert sorted(map(tuple, read_crawl_corpus(spark, store).collect())) \
        == want


def test_stream_crawl_mm_plain_text_route(spark, tmp_path):
    """Round-17 (VERDICT r16 #7): text/plain fetches CURATE through
    the quality gate (no tag strip) instead of falling into the
    'other' accounting route — streaming epochs must equal the batch
    chain with the plain modality in the mix."""
    from shopify_etl_spark.sources.warc import synth_warc_files
    from shopify_etl_spark.streaming import (
        curate_archives_mm,
        read_crawl_corpus,
        stream_crawl_ingest,
    )

    words = [f"c{i}" for i in range(40)] + ["the", "a", "of"]

    def doc(d):
        return (d, " ".join(words[(d + j) % 43] for j in range(30 + d % 9)))

    rows = [doc(d) for d in range(0, 25)]
    src = tmp_path / "feed"
    src.mkdir()
    store, ckpt = str(tmp_path / "crawl_pl"), str(tmp_path / "ck_pl")
    _crawl_feed_batch(
        spark, src, "d0.parquet", rows, image_every=5, plain_text_every=9
    )
    stream_crawl_ingest(
        spark, str(src), store, ckpt, multimodal=True
    ).awaitTermination(120)
    got = sorted(map(tuple, read_crawl_corpus(spark, store).collect()))
    union = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(map(tuple, curate_archives_mm(
        synth_warc_files(
            union, docs_per_file=5, image_every=5, plain_text_every=9
        ).select("file_id", "warc")
    ).collect()))
    assert got == want and got
    by_id = {r[1]: r for r in got}  # (file_id, doc_id, modality, ...)
    # plain docs: d % 9 == 3, not 404 (17), not image (d % 5 == 2);
    # in range(25): 3 and 21 (12 is d%5==2 -> image wins). Doc 21's
    # word window wraps into the stopword tail, so the gate KEEPS it;
    # doc 3's does not (zero stopwords) — the gate judged both, which
    # is the point: plain text is CURATED, not routed to 'other'.
    r21 = by_id[21]
    assert r21[2] == "text" and r21[5] is True    # modality, keep
    # the plain body is raw "Doc 21 <text> end" — never tag-stripped
    assert r21[3].startswith("Doc 21 ")
    assert r21[3].endswith(" end")
    r3 = by_id[3]
    assert r3[2] == "text" and r3[5] is False
    assert "stopword" in r3[6]                    # a QUALITY reason
    assert by_id[12][2] == "image"                # image wins over plain


def test_stream_crawl_decoder_registry(spark, tmp_path):
    """Round-17 (VERDICT r16 #1): the streaming front accepts the
    transport-decoder registry — with raw-deflate registered under
    'br', the planted br leg DECODES and curates instead of becoming a
    transport-accounting row; batch parity holds with the same
    registry."""
    from shopify_etl_spark.sources import warc as W
    from shopify_etl_spark.streaming import (
        curate_archives,
        read_crawl_corpus,
        stream_crawl_ingest,
    )

    words = [f"c{i}" for i in range(40)] + ["the", "a", "of"]

    def doc(d):
        return (d, " ".join(words[(d + j) % 43] for j in range(30 + d % 9)))

    rows = [doc(d) for d in range(1, 16)]  # 6, 15 are br legs (d%9==6)
    src = tmp_path / "feed"
    src.mkdir()
    store, ckpt = str(tmp_path / "crawl_dec"), str(tmp_path / "ck_dec")
    _crawl_feed_batch(
        spark, src, "d0.parquet", rows,
        http_variants=True, unknown_encoding_every=9,
    )
    reg = {"br": W.raw_deflate_decoder}
    stream_crawl_ingest(
        spark, str(src), store, ckpt, decoders=reg
    ).awaitTermination(120)
    got = sorted(map(tuple, read_crawl_corpus(spark, store).collect()))
    union = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(map(tuple, curate_archives(
        W.synth_warc_files(
            union, docs_per_file=5, http_variants=True,
            unknown_encoding_every=9,
        ).select("file_id", "warc"),
        decoders=reg,
    ).collect()))
    assert got == want and got
    by_id = {r[1]: r for r in got}
    # the br legs DECODED: text extracted, quality-judged, no
    # transport accounting row
    for d in (6, 15):
        assert by_id[d][2] is not None          # text_out present
        assert by_id[d][2].startswith(f"Doc {d} ")
        assert not str(by_id[d][5]).startswith("transport")
