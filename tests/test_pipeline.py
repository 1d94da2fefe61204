"""End-to-end pipeline tests: two-store daily run, replay idempotence,
watermark/lookback semantics, barrier on failure."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from shopify_etl_spark.pipeline import PipelineConfig, RunLog, run_daily
from shopify_etl_spark.pipeline.runner import read_warehouse_table
from shopify_etl_spark.schemas import SCHEMA_MAP

from tests.shopify_fixtures import make_fixture_set


def _read(spark, wh, table):
    df = read_warehouse_table(spark, wh, table)
    assert df is not None, table
    return df


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    return make_fixture_set(tmp_path_factory.mktemp("shopify_pipe"))


def _cfg(tmp_path, fixture_paths, **overrides):
    raw = {k: str(v) for k, v in fixture_paths.items() if not k.endswith("_b2")}
    base = dict(
        raw_paths=raw,
        warehouse_dir=str(tmp_path / "wh"),
        run_log_dir=str(tmp_path / "runlog"),
        snapshot_date="2025-11-28",
        max_workers=4,
    )
    base.update(overrides)
    return PipelineConfig(**base)


def test_daily_run_end_to_end_and_replay(spark, tmp_path, fixture_paths):
    cfg = _cfg(tmp_path, fixture_paths)
    res = run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
    assert all(res["staging"].values()), res
    assert all(res["merge"].values()), res

    wh = cfg.warehouse_dir
    dim_customers = _read(spark, wh, "dim_customers")
    fact_orders = _read(spark, wh, "fact_orders").drop("created_month")
    items = _read(spark, wh, "fact_order_items").drop("created_month")
    inv = _read(spark, wh, "fact_current_inventory")
    snap = _read(spark, wh, "inventory_snapshot")

    assert dim_customers.count() == 60  # 30 per store
    assert dim_customers.columns == SCHEMA_MAP["dim_customers"] + ["ingested_at"]
    assert fact_orders.count() == 80
    assert set(r.order_id[:2] for r in fact_orders.select("order_id").collect()) == {"R-", "W-"}
    assert items.groupBy("order_id", "line_item_id").count().filter("count>1").count() == 0
    assert inv.groupBy("sku").count().filter("count>1").count() == 0
    assert snap.select("snapshot_date").distinct().count() == 1

    before = {
        t: sorted(map(tuple, _read(spark, wh, t).collect()))
        for t in ("dim_customers", "fact_orders", "fact_order_items",
                  "fact_current_inventory", "inventory_snapshot")
    }
    # replay the same day — idempotent end-to-end (C.1 + C.8)
    res2 = run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
    assert all(res2["merge"].values())
    for t, rows in before.items():
        after = sorted(map(tuple, _read(spark, wh, t).collect()))
        assert after == rows, f"{t} changed on replay"


def test_incremental_batch2_upserts(spark, tmp_path, fixture_paths):
    cfg = _cfg(tmp_path, fixture_paths)
    run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
    # day 2: orders batch 2 (8 updated + 10 new per store)
    cfg.raw_paths = dict(cfg.raw_paths)
    cfg.raw_paths["retail_orders"] = str(fixture_paths["retail_orders_b2"])
    cfg.raw_paths["wholesale_orders"] = str(fixture_paths["wholesale_orders_b2"])
    res = run_daily(spark, cfg, ingest_ts="2025-11-29 06:00:00")
    assert all(res["merge"].values())
    fact_orders = _read(spark, cfg.warehouse_dir, "fact_orders")
    assert fact_orders.count() == 100  # 80 + 10 new per store
    upd = fact_orders.filter(F.col("order_id") == "R-0").collect()[0]
    assert upd.updated_at.day == 28  # updated row won
    assert upd.ingested_at.day == 29  # re-stamped by day-2 run


def _partition_fingerprint(wh_dir: str, month: str, table: str = "fact_orders") -> dict:
    """{relative file path: md5} for one created_month partition of the
    orders pair store, resolved through the latest committed manifest —
    untouched partitions must keep pointing at their ORIGINAL generation
    dir with byte-identical files."""
    import hashlib
    import json
    from pathlib import Path

    manifests = sorted((Path(wh_dir) / "orders_txn" / "versions").glob("v*.json"))
    man = json.loads(manifests[-1].read_text())
    gen = man["tables"][table][month]
    base = (
        Path(wh_dir) / "orders_txn" / "data" / table / gen
        / f"created_month={month}"
    )
    return {
        str(p.relative_to(base)): hashlib.md5(p.read_bytes()).hexdigest()
        for p in sorted(base.rglob("*"))
        if p.is_file() and not p.name.startswith(("_", "."))
    }


def test_partitioned_upsert_leaves_untouched_months_byte_identical(
    spark, tmp_path
):
    """M6 at the 100 TB shape: a daily batch must rewrite ONLY the month
    partitions its staged keys live in — other months' files are never
    opened, never rewritten (VERDICT r1 item 2)."""
    from tests.shopify_fixtures import gen_order, write_envelope
    import random

    rng = random.Random(7)
    day1 = []
    for i, month in enumerate(["2025-09", "2025-09", "2025-10", "2025-11"]):
        o = gen_order(rng, i)
        o["createdAt"] = f"{month}-0{i % 9 + 1}T10:00:00Z"
        day1.append(o)
    p1 = write_envelope(tmp_path / "raw" / "orders_d1.json", "retail", "orders", day1)

    cfg = PipelineConfig(
        raw_paths={"retail_orders": str(p1)},
        warehouse_dir=str(tmp_path / "wh"),
        run_log_dir=str(tmp_path / "runlog"),
        stores=("retail",),
    )
    res = run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
    assert res["merge"]["orders"] is True

    before_sep = _partition_fingerprint(cfg.warehouse_dir, "2025-09")
    before_oct = _partition_fingerprint(cfg.warehouse_dir, "2025-10")
    assert before_sep and before_oct
    # M7 twin: items partitioned by the PARENT order's created month
    before_sep_i = _partition_fingerprint(cfg.warehouse_dir, "2025-09", "fact_order_items")
    before_oct_i = _partition_fingerprint(cfg.warehouse_dir, "2025-10", "fact_order_items")
    assert before_sep_i and before_oct_i

    # day 2: one update to the November order + one new November order
    upd = gen_order(rng, 3, updated_day=28)
    upd["createdAt"] = day1[3]["createdAt"]
    new = gen_order(rng, 99)
    new["createdAt"] = "2025-11-15T09:00:00Z"
    p2 = write_envelope(tmp_path / "raw" / "orders_d2.json", "retail", "orders", [upd, new])
    cfg.raw_paths = {"retail_orders": str(p2)}
    res2 = run_daily(spark, cfg, ingest_ts="2025-11-29 06:00:00")
    assert res2["merge"]["orders"] is True

    # untouched months: byte-identical files (not just equal rows)
    assert _partition_fingerprint(cfg.warehouse_dir, "2025-09") == before_sep
    assert _partition_fingerprint(cfg.warehouse_dir, "2025-10") == before_oct
    assert (
        _partition_fingerprint(cfg.warehouse_dir, "2025-09", "fact_order_items")
        == before_sep_i
    )
    assert (
        _partition_fingerprint(cfg.warehouse_dir, "2025-10", "fact_order_items")
        == before_oct_i
    )

    fact = _read(spark, cfg.warehouse_dir, "fact_orders")
    assert fact.count() == 5  # 4 + 1 new
    nov = fact.filter(F.col("order_id") == "R-3").collect()[0]
    assert nov.updated_at.day == 28  # day-2 version won
    assert nov.ingested_at.day == 29
    assert fact.groupBy("order_id").count().filter("count>1").count() == 0

    # delete+reload held within the touched month: the updated order's
    # children are exactly the day-2 versions, new order's children present
    items = _read(spark, cfg.warehouse_dir, "fact_order_items")
    assert items.groupBy("order_id", "line_item_id").count().filter("count>1").count() == 0
    assert items.filter(F.col("order_id") == "R-99").count() > 0
    r3 = items.filter(F.col("order_id") == "R-3")
    assert r3.count() > 0
    assert {r.ingested_at.day for r in r3.select("ingested_at").collect()} == {29}


def test_orders_pair_commit_is_atomic_across_tables(
    spark, tmp_path, fixture_paths, monkeypatch
):
    """The reference commits fact_orders + fact_order_items in ONE
    transaction (run_etl_with_retries.py:60-94). Crash injection: kill
    the merge BETWEEN the two tables' data writes — readers must keep
    seeing the OLD consistent pair (day-1 orders WITH day-1 items, never
    day-2 orders beside day-1 items), and the re-run must complete and
    publish the new pair."""
    from shopify_etl_spark.pipeline import txn_store

    cfg = _cfg(tmp_path, fixture_paths, retries=1)
    res = run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
    assert all(res["merge"].values())
    wh = cfg.warehouse_dir
    before_orders = sorted(
        map(tuple, _read(spark, wh, "fact_orders").collect())
    )
    before_items = sorted(
        map(tuple, _read(spark, wh, "fact_order_items").collect())
    )

    # day 2 with a crash after the FIRST table's generation write
    real_write = txn_store._write_gen
    calls = {"n": 0}

    def crashing_write(df, gen_dir, partition_col):
        calls["n"] += 1
        if calls["n"] == 2:  # fact_orders wrote; kill before items
            raise RuntimeError("injected crash between pair writes")
        real_write(df, gen_dir, partition_col)

    monkeypatch.setattr(txn_store, "_write_gen", crashing_write)
    cfg.raw_paths = dict(cfg.raw_paths)
    cfg.raw_paths["retail_orders"] = str(fixture_paths["retail_orders_b2"])
    cfg.raw_paths["wholesale_orders"] = str(fixture_paths["wholesale_orders_b2"])
    res2 = run_daily(spark, cfg, ingest_ts="2025-11-29 06:00:00")
    assert res2["merge"]["orders"] is False  # the crash surfaced
    assert calls["n"] == 2

    # reader still sees the OLD pair — consistent, not mixed
    assert sorted(map(tuple, _read(spark, wh, "fact_orders").collect())) == before_orders
    assert sorted(map(tuple, _read(spark, wh, "fact_order_items").collect())) == before_items

    # re-run (no injection) completes and publishes the NEW pair together
    monkeypatch.setattr(txn_store, "_write_gen", real_write)
    res3 = run_daily(spark, cfg, ingest_ts="2025-11-29 06:00:00")
    assert res3["merge"]["orders"] is True
    fact = _read(spark, wh, "fact_orders")
    items = _read(spark, wh, "fact_order_items")
    assert fact.count() == 100  # 80 + 10 new per store
    assert fact.groupBy("order_id").count().filter("count>1").count() == 0
    assert items.groupBy("order_id", "line_item_id").count().filter("count>1").count() == 0
    # parent-child consistency: every item's parent exists
    assert items.join(fact, "order_id", "left_anti").count() == 0


def test_inventory_survives_a_crash_inside_the_swap(spark, tmp_path, fixture_paths):
    """A crash between atomic_overwrite's two renames leaves
    fact_current_inventory only in its ``._old`` sibling. The next run
    must put it back and upsert into it, ending with the inventory of
    the same two days run without the crash — not only the SKUs the
    second day delivered."""
    import random
    import shutil

    from tests.shopify_fixtures import gen_product, write_envelope

    shared = [f"SHARED-{i}" for i in range(5)]
    rng = random.Random(3)
    day2 = {
        f"{store}_products": str(write_envelope(
            tmp_path / "raw" / store / "products_d2.json", store, "products",
            [gen_product(rng, base + i, shared) for i in range(3)],
        ))
        for store, base in (("retail", 0), ("wholesale", 5000))
    }

    def two_days(root, crash):
        products = ("retail_products", "wholesale_products")
        cfg = _cfg(root, fixture_paths, raw_paths={k: str(fixture_paths[k]) for k in products})
        assert run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")["merge"] == {"products": True}
        inv = f"{cfg.warehouse_dir}/fact_current_inventory"
        if crash:
            shutil.move(inv, f"{inv}._old")  # the state a crash between the renames leaves
        cfg.raw_paths, cfg.snapshot_date = day2, "2025-11-29"
        assert run_daily(spark, cfg, ingest_ts="2025-11-29 06:00:00")["merge"] == {"products": True}
        return sorted(map(tuple, _read(spark, cfg.warehouse_dir, "fact_current_inventory").collect()))

    expected = two_days(tmp_path / "clean", crash=False)
    assert two_days(tmp_path / "crashed", crash=True) == expected


def test_entity_merges_overlap(spark, tmp_path, fixture_paths, monkeypatch):
    """The three entity merges run at once: each waits at a three-party
    barrier before it merges, which a one-after-another loop never
    passes."""
    import threading

    from shopify_etl_spark.pipeline import runner

    real_merge = runner._merge_entity
    barrier = threading.Barrier(3, timeout=60)

    def meet_then_merge(*args):
        barrier.wait()
        real_merge(*args)

    monkeypatch.setattr(runner, "_merge_entity", meet_then_merge)
    cfg = _cfg(tmp_path, fixture_paths, retries=1)
    res = run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
    assert res["merge"] == {"customers": True, "orders": True, "products": True}, res
    assert _read(spark, cfg.warehouse_dir, "dim_customers").count() == 60
    assert _read(spark, cfg.warehouse_dir, "fact_orders").count() == 80


def test_failed_entity_merge_leaves_the_others_committed(
    spark, tmp_path, fixture_paths, monkeypatch
):
    """A merge that fails every attempt is retried ``cfg.retries`` times
    and reported alone: the other entities still commit, and no BI
    refresh is sent."""
    from shopify_etl_spark.pipeline import runner, trigger

    real_merge = runner._merge_entity
    attempts = {"products": 0}
    refreshes = []

    def products_fail(spark_, cfg_, entity, ingest_ts):
        if entity == "products":
            attempts["products"] += 1
            raise RuntimeError("injected products merge failure")
        real_merge(spark_, cfg_, entity, ingest_ts)

    monkeypatch.setattr(runner, "_merge_entity", products_fail)
    monkeypatch.setattr(trigger, "trigger_bi_refresh", lambda *a, **k: refreshes.append(a))
    cfg = _cfg(tmp_path, fixture_paths, retries=3, bi_refresh_url="http://127.0.0.1:9/refreshes")
    res = run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
    assert res["merge"] == {"customers": True, "orders": True, "products": False}, res
    assert "injected" in res["errors"]["products"]
    assert set(res["errors"]) == {"products"}
    assert attempts["products"] == cfg.retries
    assert refreshes == [] and "bi_refresh" not in res
    assert _read(spark, cfg.warehouse_dir, "dim_customers").count() == 60
    assert _read(spark, cfg.warehouse_dir, "fact_orders").count() == 80
    assert read_warehouse_table(spark, cfg.warehouse_dir, "dim_products") is None


def test_barrier_skips_merge_on_staging_failure(spark, tmp_path, fixture_paths):
    cfg = _cfg(tmp_path, fixture_paths)
    cfg.raw_paths = dict(cfg.raw_paths)
    cfg.raw_paths["retail_orders"] = str(tmp_path / "missing.json")
    res = run_daily(spark, cfg)
    assert res["staging"][("retail", "orders")] is False
    assert res["merge"] == {}  # barrier held


def test_runlog_watermark_and_lookback(spark, tmp_path):
    log = RunLog(spark, str(tmp_path / "rl"))
    now = datetime(2025, 11, 28, 6, 0, 0)
    # no history → default lookback
    assert log.get_start_date("retail", "orders", default_days=30, now=now) == now - timedelta(days=30)
    rid = log.log_start("retail", "orders")
    log.log_staging_success(rid, "retail", "orders", "2025-11-26T12:00:00")
    # days_gap = 1 → start = now - 3 days (reference daily_scheduler.py:75-81
    # anchors the lookback at now, ≈ watermark minus two days)
    start = log.get_start_date("retail", "orders", now=now)
    assert start == datetime(2025, 11, 25, 6, 0, 0)
    # failed runs don't move the watermark
    rid2 = log.log_start("retail", "orders")
    log.log_failure(rid2, "retail", "orders", "boom")
    assert log.last_watermark("retail", "orders") == datetime(2025, 11, 26, 12, 0, 0)


def _runlog_files(cfg) -> list:
    from pathlib import Path

    return sorted(Path(cfg.run_log_dir).glob("*.parquet"))


def test_run_log_one_file_per_run_with_observed_watermarks(spark, tmp_path, fixture_paths):
    """One run_daily writes ONE run-log file: a RUNNING and a SUCCESS row
    per staging task, each SUCCESS row carrying the watermark
    flatten.max_updated_at gives over that task's nodes — on the envelope
    path and on the bulk path (retail customers)."""
    from shopify_etl_spark.operators import flatten
    from shopify_etl_spark.sources import read_envelope, read_jsonl
    from shopify_etl_spark.sources.bulk import FakeBulkTransport

    cfg = _cfg(tmp_path, fixture_paths)
    cfg.raw_paths = {k: v for k, v in cfg.raw_paths.items() if k != "retail_customers"}
    cfg.bulk_transports = {
        "retail_customers": FakeBulkTransport(
            str(fixture_paths["retail_customers"]), running_polls=0
        )
    }
    cfg.bulk_poll_interval_s = 0.0
    res = run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
    assert all(res["staging"].values()) and all(res["merge"].values()), res
    assert len(res["staging"]) == 6
    assert len(_runlog_files(cfg)) == 1

    rows = RunLog(spark, cfg.run_log_dir).read().collect()
    assert len(rows) == 12
    for store, entity in res["staging"]:
        mine = [r for r in rows if (r.store_name, r.entity_name) == (store, entity)]
        assert sorted(r.status for r in mine) == ["RUNNING", "SUCCESS"], mine
        assert len({r.id for r in mine}) == 1
        key = f"{store}_{entity}"
        if key in cfg.raw_paths:
            nodes = read_envelope(spark, cfg.raw_paths[key], entity)
        else:  # the bulk path: the JSONL the bulk operation landed
            nodes = read_jsonl(
                spark, f"{cfg.warehouse_dir}/landing/{store}/{entity}.jsonl", entity
            )
        (success,) = [r for r in mine if r.status == "SUCCESS"]
        expect = datetime.fromisoformat(flatten.max_updated_at(nodes))
        assert success.source_updated_at == expect, (store, entity)

    # the next run adds exactly one more file
    run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
    assert len(_runlog_files(cfg)) == 2


def test_failed_run_log_write_holds_the_barrier(
    spark, tmp_path, tmp_path_factory, monkeypatch
):
    """The run log lands once, at the staging barrier. If that write
    fails no watermark is durable: no merge runs, no raw file is archived,
    and a clean re-run ends with the warehouse of a run that never
    failed."""
    import shutil
    from pathlib import Path

    src = make_fixture_set(tmp_path_factory.mktemp("shopify_flush"))
    raw_dir = tmp_path / "landing"
    raw_dir.mkdir()
    raw = {}
    for k, v in src.items():
        if not k.endswith("_b2"):
            raw[k] = str(shutil.copy(str(v), raw_dir / f"{k}.json"))
    tables = ("dim_customers", "dim_products", "dim_product_variants", "fact_orders",
              "fact_order_items", "fact_current_inventory", "inventory_snapshot")

    def snapshot(wh):
        return {t: sorted(map(tuple, _read(spark, wh, t).collect())) for t in tables}

    # the run that never failed (no archiving, so the raw files stay)
    ref = PipelineConfig(
        raw_paths=raw, warehouse_dir=str(tmp_path / "ref"),
        run_log_dir=str(tmp_path / "ref_log"), snapshot_date="2025-11-28",
    )
    assert all(run_daily(spark, ref, ingest_ts="2025-11-28 06:00:00")["merge"].values())

    cfg = PipelineConfig(
        raw_paths=raw, warehouse_dir=str(tmp_path / "wh"),
        run_log_dir=str(tmp_path / "runlog"), snapshot_date="2025-11-28",
        archive_dir=str(tmp_path / "archive"),
    )

    def failing_flush(self):
        raise IOError("injected run-log write failure")

    monkeypatch.setattr(RunLog, "flush", failing_flush)
    res = run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
    assert res["merge"] == {}
    assert not any(res["staging"].values())
    assert "injected" in res["errors"]["run_log"]
    assert all(Path(p).exists() for p in raw.values())
    assert not (tmp_path / "archive").exists() or not any((tmp_path / "archive").rglob("*.json"))
    assert _runlog_files(cfg) == []
    monkeypatch.undo()

    res = run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
    assert all(res["staging"].values()) and all(res["merge"].values()), res
    assert snapshot(cfg.warehouse_dir) == snapshot(ref.warehouse_dir)
    assert not any(Path(p).exists() for p in raw.values())  # archived now
    assert len(_runlog_files(cfg)) == 1


#: Spark jobs of one warm run_daily on the fixture set (measured on
#: local[8] with 4 shuffle partitions, the test session's settings; the
#: same count in 3 runs). It was 93 before the run log was buffered and
#: the watermark observed, and 41 before the run log was written without
#: a Spark job and the orders pair's touched partitions were found in
#: one collect.
JOBS_PER_RUN = 38


def test_warm_run_job_budget(spark, tmp_path, fixture_paths):
    """A warm day runs no more Spark jobs than it does now — a change that
    brings back per-task, per-table or repeated jobs fails here. Counted
    from Spark's status store, as the benchmark does."""
    store = spark.sparkContext._jsc.sc().statusStore()

    def last_job_id() -> int:
        it = store.jobsList(None).iterator()
        newest = -1
        while it.hasNext():
            newest = max(newest, it.next().jobId())
        return newest

    cfg = _cfg(tmp_path, fixture_paths)
    assert all(run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")["merge"].values())
    cfg.raw_paths = dict(cfg.raw_paths)
    cfg.raw_paths["retail_orders"] = str(fixture_paths["retail_orders_b2"])
    cfg.raw_paths["wholesale_orders"] = str(fixture_paths["wholesale_orders_b2"])
    before = last_job_id()
    res = run_daily(spark, cfg, ingest_ts="2025-11-29 06:00:00")
    jobs = last_job_id() - before
    assert all(res["merge"].values()), res
    assert jobs <= JOBS_PER_RUN, jobs


def test_archive_and_bi_trigger(spark, tmp_path, tmp_path_factory):
    """K4 + O7 end to end: a successful run moves the raw landing files
    into the archive tree (idempotently) and kicks the BI refresh webhook
    with bearer auth + retry on transient 5xx."""
    import json as _json
    import shutil
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from pathlib import Path

    # private fixture copy: archiving MOVES files, must not eat the shared set
    src = make_fixture_set(tmp_path_factory.mktemp("shopify_arch"))
    raw_dir = tmp_path / "landing"
    raw_dir.mkdir()
    raw = {}
    for k, v in src.items():
        if k.endswith("_b2"):
            continue
        dest = raw_dir / f"{k}.json"
        shutil.copy(str(v), dest)
        raw[k] = str(dest)

    hits = []

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            hits.append(self.headers.get("Authorization"))
            code = 503 if len(hits) == 1 else 202  # transient failure first
            self.send_response(code)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        cfg = PipelineConfig(
            raw_paths=raw,
            warehouse_dir=str(tmp_path / "wh"),
            run_log_dir=str(tmp_path / "runlog"),
            snapshot_date="2025-11-28",
            archive_dir=str(tmp_path / "archive"),
            bi_refresh_url=f"http://127.0.0.1:{srv.server_port}/refreshes",
            bi_refresh_token="tok-bi",
        )
        res = run_daily(spark, cfg, ingest_ts="2025-11-28 06:00:00")
        assert all(res["staging"].values()) and all(res["merge"].values())
        # K4: every raw file moved (not copied) into archive/store/entity/
        for k in raw:
            store, entity = k.split("_", 1)
            assert not Path(raw[k]).exists(), f"{k} not moved"
            assert (
                tmp_path / "archive" / store / entity / f"{k}.json"
            ).exists(), f"{k} not archived"
        # O7: first attempt hit the 503, retry succeeded, bearer token sent
        assert res["bi_refresh"] == {"ok": True, "status": 202, "attempts": 2}
        assert hits == ["Bearer tok-bi"] * 2
        # replay with the raw files gone-but-archived: staging fails on the
        # missing source, the barrier holds, and no refresh fires
        hits.clear()
        res2 = run_daily(spark, cfg, ingest_ts="2025-11-28 07:00:00")
        assert not all(res2["staging"].values())
        assert res2["merge"] == {} and "bi_refresh" not in res2
        assert hits == []
    finally:
        srv.shutdown()
        srv.server_close()
