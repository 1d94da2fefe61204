"""Two-phase pipeline runner: parallel staging → barrier → concurrent merges.

Spark twin of the reference's daily job (reference daily_scheduler.py:
100-216, O1-O5 in SURVEY.md §2.12):

* **Phase 1** — store×entity staging tasks run concurrently via a thread
  pool (Spark's scheduler is thread-safe; concurrent jobs share the
  executors). Each task: read the raw envelope and parse it once
  (cached) → flatten → overwrite its staging tables directly (per-run
  scratch, guarded by the barrier) → buffer its run-log rows, with the
  watermark observed on the first staging write (no extra job).
* **Barrier** — the run log's buffered rows land as one file; any staging
  failure, or a failed run-log write, skips the merge phase
  (daily_scheduler.py:168-172). Raw files archive only after that write.
* **Phase 2** — one merge per staged entity with a 2-attempt retry
  (run_etl_with_retries.py; 'attempt 1/2' markers at run_logs.txt:239).
  Full refresh for dims, upsert for orders/inventory, delete+reload for
  order items, keyed snapshot append. Staging tables are read with the
  schema their flatteners declare, and each merge input with more than
  one consumer is computed once (a local checkpoint).

  Divergence from the reference, which merges the entities one after
  another: here the merges run concurrently, one thread and one FAIR
  scheduler pool per entity, as staging does. Their order carries no
  meaning. The entities write disjoint tables and each publishes on its
  own; the barrier before them and the BI trigger after all of them are
  unchanged, and the orders merge stays the single writer of the orders
  pair store.

Single-table warehouse merges are staged to a ``_tmp`` sibling and
swapped in by ``atomic_overwrite``; the writer puts back a table a crash
left mid-swap before it reads or replaces it. The daily snapshot
overwrites only its own date partition. The orders entity writes TWO
tables per run (fact_orders + fact_order_items) and the reference
commits them in one transaction (run_etl_with_retries.py:60-94), so the
pair publishes through the manifest store in ``txn_store.py`` — one
atomic rename covers both tables, closing SURVEY §7.4 risk 1. That
store's commit is the package's only partition-scoped merge; the
streaming order feed (``streaming/incremental.py``) commits through it
too.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..operators import flatten, merge
from ..schemas import MERGE_KEYS, NODE_SCHEMAS, project_declared
from ..sources import read_envelope
from .watermark import RunLog

STORES = ("retail", "wholesale")
ENTITIES = ("customers", "orders", "products")


@dataclass
class PipelineConfig:
    raw_paths: dict[str, str]  # f"{store}_{entity}" -> envelope path
    warehouse_dir: str
    run_log_dir: str
    snapshot_date: str | None = None
    max_workers: int = 4
    retries: int = 2
    stores: tuple = STORES
    # S5 hook: f"{store}_{entity}" -> bulk transport. Entities listed here
    # stage from a bulk operation (submit → poll → JSONL download → parallel
    # read) instead of a raw envelope — the reference's initial-load path
    # (run_logs.txt:17-147; extract_table.py:325).
    bulk_transports: dict | None = None
    bulk_poll_interval_s: float = 15.0
    # K4 (reference daily_scheduler.py:85-97 archive_and_delete): after a
    # SUCCESSFUL staging, move the raw landing file into this directory
    # (scheme-agnostic — file://, s3a://…). None = keep files in place.
    # Divergence from the reference, on purpose: its no-bucket default
    # DELETES the raw file without archiving anything; we never destroy
    # the only copy — archiving is a move, disabling it is a no-op.
    archive_dir: str | None = None
    # O7 (reference trigger_pbi.py): POST here after all merges succeed.
    # Token is opaque to the engine (S7 stance: no credential minting).
    bi_refresh_url: str | None = None
    bi_refresh_token: str | None = None


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) via the Hadoop API — scheme-agnostic (file://,
    hdfs://, s3a://…), unlike ``pathlib``/``shutil`` which silently report
    'missing' for any non-local URI."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _fs_write(fs, p, data: bytes) -> None:
    out = fs.create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file via the Hadoop FS API (scheme-agnostic —
    markers, manifests, bindings). Overwrites; callers needing an atomic
    publish write to a sibling and rename."""
    fs, p = _hadoop_fs(spark, path)
    _fs_write(fs, p, text.encode("utf-8"))


def fs_publish(spark: SparkSession, path: str, data: bytes) -> None:
    """Land a small file atomically via the Hadoop FS API: write it under
    a hidden ``.``-prefixed sibling, which Spark's readers skip, then
    rename it to ``path``."""
    fs, final = _hadoop_fs(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(final.getParent(), f".{final.getName()}")
    try:
        _fs_write(fs, tmp, data)
        if not fs.rename(tmp, final):
            raise IOError(f"fs_publish: failed to rename {tmp} to {path}")
    except Exception:
        fs.delete(tmp, False)
        raise


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file via the Hadoop FS API; None if absent."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def table_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def atomic_overwrite(df: DataFrame, path: str) -> None:
    """Write to a _tmp sibling, then swap — readers never see a half table,
    and the source table can be part of ``df``'s own plan (parquet can't
    overwrite a path it is concurrently reading). Uses the Hadoop FS API
    so the swap works on any filesystem scheme.

    The swap is two renames: ``path`` → ``path._old``, then ``_tmp`` →
    ``path``. Between them the table is ABSENT. A crash there leaves the
    previous version only in ``path._old``; the writer's next read of the
    table (``_read_table``) or its next swap here puts it back, so no row
    is lost. Readers still see the table as absent during the window;
    publishing the warehouse through one manifest store (as
    ``txn_store.py`` does for the orders pair; ROADMAP.md, "One manifest
    store") closes it. Rename results are checked: Hadoop signals rename
    failure by returning false, not by raising.
    """
    tmp = f"{path}._tmp"
    df.write.mode("overwrite").parquet(tmp)
    spark = df.sparkSession
    fs, target = _hadoop_fs(spark, path)
    tmp_path = _hadoop_fs(spark, tmp)[1]
    old_path = _hadoop_fs(spark, f"{path}._old")[1]
    had_previous = _finish_interrupted_swap(fs, target, old_path)
    if had_previous and not fs.rename(target, old_path):
        raise IOError(f"atomic_overwrite: failed to move aside {path}")
    if not fs.rename(tmp_path, target):
        # put the old table back before failing
        if had_previous:
            fs.rename(old_path, target)
        raise IOError(f"atomic_overwrite: failed to install new table at {path}")
    if had_previous:
        fs.delete(old_path, True)


def _finish_interrupted_swap(fs, target, old_path) -> bool:
    """Settle what a crash inside ``atomic_overwrite`` left behind, and
    return whether the table exists. Target absent beside ``_old``: the
    crash fell between the two renames, so ``_old`` is the table and is
    renamed back. Both present: it fell after them, so ``_old`` is stale.
    Only the writer calls this — a reader renaming inside a live swap
    would break it."""
    if fs.exists(target):
        if fs.exists(old_path):
            fs.delete(old_path, True)
        return True
    if not fs.exists(old_path):
        return False
    if not fs.rename(old_path, target):
        raise IOError(f"atomic_overwrite: failed to restore {old_path} to {target}")
    return True


def _read_table(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame | None:
    """The writer's read of the parquet table at ``path`` (None if
    absent), after settling an interrupted swap. A known ``schema`` skips
    the schema-inference job a bare read runs."""
    fs, target = _hadoop_fs(spark, path)
    if not _finish_interrupted_swap(fs, target, _hadoop_fs(spark, f"{path}._old")[1]):
        return None
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(path)


def archive_raw(spark: SparkSession, src: str, archive_dir: str, store: str, entity: str) -> str | None:
    """K4: move a raw landing file under ``archive_dir/store/entity/``
    (reference daily_scheduler.py:85-97 uploads to
    ``incremental/{store}/{name}`` then deletes the local file). Hadoop FS
    rename is a pure metadata move on hdfs/file and the upload+delete
    analog on object stores via their committers — same API either way.
    Returns the archive path, or None if the source doesn't exist."""
    fs, src_path = _hadoop_fs(spark, src)
    if not fs.exists(src_path):
        return None
    dest = f"{archive_dir}/{store}/{entity}/{src_path.getName()}"
    fs_d, dest_path = _hadoop_fs(spark, dest)
    fs_d.mkdirs(dest_path.getParent())
    if fs_d.exists(dest_path):  # idempotent re-run: same file already archived
        fs.delete(src_path, False)
    elif str(fs.getUri()) != str(fs_d.getUri()):
        # Hadoop rename cannot cross filesystems (file:// landing →
        # s3a:// archive returns false, it does not copy) — use the
        # copy+delete-source path for cross-scheme moves.
        if not spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs, src_path, fs_d, dest_path, True,  # True = delete source
            spark._jsc.hadoopConfiguration(),
        ):
            raise IOError(f"archive_raw: failed to copy {src} to {dest}")
    elif not fs.rename(src_path, dest_path):
        raise IOError(f"archive_raw: failed to move {src} to {dest}")
    return dest


ORDERS_PAIR = ("fact_orders", "fact_order_items")


def orders_pair_store(spark: SparkSession, warehouse_dir: str):
    """The warehouse's transactional store for the orders entity pair."""
    from .txn_store import PairStore

    return PairStore(spark, f"{warehouse_dir}/orders_txn", "created_month")


def read_warehouse_table(spark: SparkSession, warehouse_dir: str, table: str):
    """Resolve a warehouse table to a DataFrame (None if absent).

    The orders pair resolves through the latest committed manifest of its
    store, so readers always see a CONSISTENT (fact_orders,
    fact_order_items) pair; every other table is a plain parquet
    directory maintained by ``atomic_overwrite``. A read here never
    renames anything.
    """
    if table in ORDERS_PAIR:
        return orders_pair_store(spark, warehouse_dir).read_table(table)
    path = f"{warehouse_dir}/{table}"
    return spark.read.parquet(path) if table_exists(spark, path) else None


def _staging_frames(nodes: DataFrame, store: str, entity: str) -> dict[str, DataFrame]:
    """The staging tables one (store, entity) task writes, in write order.
    The first has one row per node, so the task's watermark is observed
    on its write."""
    if entity == "customers":
        return {"dim_customers": flatten.flatten_customers(nodes, store)}
    if entity == "orders":
        return {
            "fact_orders": flatten.flatten_orders(nodes, store),
            "fact_order_items": flatten.explode_order_items(nodes, store),
        }
    return {
        "dim_products": flatten.flatten_products(nodes),
        "dim_product_variants": flatten.explode_variants(nodes),
        "fact_current_inventory": flatten.inventory_from_products(nodes, store),
    }


_STAGING_SCHEMAS: dict[str, StructType] = {}
_STAGING_SCHEMAS_LOCK = threading.Lock()


def staging_schema(spark: SparkSession, entity: str, table: str) -> StructType:
    """A staging table's schema as its flattener declares it at plan time
    (the flattener over an empty node frame — no job), so merges read
    staging without a schema-inference job. Memoized: it depends only on
    the code. The concurrent merge threads share the memo, so it fills
    under a lock."""
    with _STAGING_SCHEMAS_LOCK:
        if table not in _STAGING_SCHEMAS:
            empty = spark.createDataFrame([], StructType([StructField("node", NODE_SCHEMAS[entity])]))
            for t, df in _staging_frames(empty, "retail", entity).items():
                _STAGING_SCHEMAS[t] = df.schema
        return _STAGING_SCHEMAS[table]


def _stage_one(spark: SparkSession, cfg: PipelineConfig, runlog: RunLog, store: str, entity: str):
    """One staging task (reference process_entity, daily_scheduler.py:100-148).
    Returns whether the staging tables landed; the run-log rows it buffers
    become durable at the barrier (``run_daily``)."""
    # Each staging thread gets its own scheduler pool so concurrent jobs
    # share executors fairly (needs spark.scheduler.mode=FAIR, set in
    # session.py; a no-op under FIFO). Local properties are thread-local.
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"staging-{store}-{entity}")
    run_id = runlog.log_start(store, entity)
    nodes = None
    try:
        key = f"{store}_{entity}"
        if cfg.bulk_transports and key in cfg.bulk_transports:
            from ..sources.bulk import bulk_extract_to_dataframe

            nodes = bulk_extract_to_dataframe(
                spark,
                cfg.bulk_transports[key],
                entity,
                f"{cfg.warehouse_dir}/landing/{store}/{entity}.jsonl",
                poll_interval_s=cfg.bulk_poll_interval_s,
            )
        else:
            nodes = read_envelope(spark, cfg.raw_paths[key], entity)
        # parse once: every staging frame reads the cached nodes
        nodes = nodes.cache()
        out_dir = f"{cfg.warehouse_dir}/staging/{store}"
        watermark = Observation()
        for i, (table, df) in enumerate(_staging_frames(nodes, store, entity).items()):
            if i == 0:
                # A1 watermark (flatten.max_updated_at) from the first
                # write's own pass: its rows are one per node
                df = df.observe(watermark, F.max("updated_at").alias("wm"))
            # staging is per-run scratch: written in place, no swap. It
            # keeps extra plumbing cols (e.g. created_at on inventory);
            # projection to declared happens at merge time.
            df.write.mode("overwrite").parquet(f"{out_dir}/{table}")
        runlog.log_staging_success(run_id, store, entity, watermark.get["wm"])
        return True
    except Exception as e:  # noqa: BLE001
        runlog.log_failure(run_id, store, entity, str(e))
        return False
    finally:
        if nodes is not None:
            nodes.unpersist()


@contextmanager
def computed_once():
    """Yield ``once(df)``, which returns ``df`` as a lazy local checkpoint,
    so a merge input read twice is computed once. cache() would run the
    cached plan without AQE's partition coalescing and multiply the
    warehouse's part-files; a checkpoint keeps the coalesced partitions.
    Every checkpoint is released on exit, also when the body fails, so a
    retry starts clean."""
    held: list[DataFrame] = []

    def once(df: DataFrame) -> DataFrame:
        held.append(df.localCheckpoint(eager=False))
        return held[-1]

    try:
        yield once
    finally:
        for df in held:
            # the checkpoint's blocks belong to the RDD its plan scans
            df._jdf.queryExecution().logical().rdd().unpersist(False)


def _merge_entity(spark: SparkSession, cfg: PipelineConfig, entity: str, ingest_ts) -> None:
    """One attempt at one entity's merge (reference run_entity_merge). It
    writes only its own entity's tables, so it runs beside the other
    entities' merges."""
    wh = cfg.warehouse_dir
    stores = list(cfg.stores)

    def store_staging(store: str, table: str) -> DataFrame | None:
        path = f"{wh}/staging/{store}/{table}"
        return _read_table(spark, path, staging_schema(spark, entity, table))

    def staged(table: str) -> DataFrame:
        """U1 — UNION ALL of the stores' staging tables (reference
        make_combined_staging_table, run_etl_with_retries.py:41-44), as
        one read over their paths."""
        paths = [f"{wh}/staging/{s}/{table}" for s in stores]
        paths = [p for p in paths if table_exists(spark, p)]
        if not paths:
            raise ValueError(f"no staging table {table} for stores {stores}")
        return spark.read.schema(staging_schema(spark, entity, table)).parquet(*paths)

    def finish(table: str, df: DataFrame) -> None:
        out = merge.stamp_ingested(project_declared(df, table), ingest_ts)
        atomic_overwrite(out, f"{wh}/{table}")

    with computed_once() as once:
        if entity == "customers":
            # M1: TRUNCATE+INSERT full refresh (run_logs.txt:240-285)
            finish("dim_customers", staged("dim_customers"))
        elif entity == "products":
            # M2/M3 full refreshes
            finish("dim_products", staged("dim_products"))
            finish("dim_product_variants", staged("dim_product_variants"))
            # M4: current inventory pipeline + upsert on sku (run_logs.txt:335-435)
            inv_r = store_staging("retail", "fact_current_inventory")
            inv_w = store_staging("wholesale", "fact_current_inventory")
            # single-store runs degrade to an empty other side rather than
            # silently skipping the inventory pipeline
            if inv_r is None and inv_w is not None:
                inv_r = inv_w.limit(0)
            if inv_w is None and inv_r is not None:
                inv_w = inv_r.limit(0)
            if inv_r is not None and inv_w is not None:
                # each store's inventory joins its OWN staging dims (reference
                # run_logs.txt:358/377) — ids carry no store prefix, so a
                # cross-store dim union would duplicate shared variants
                def store_dim(store: str, table: str) -> DataFrame:
                    df = store_staging(store, table)
                    if df is None:
                        other = "wholesale" if store == "retail" else "retail"
                        df = store_staging(other, table).limit(0)
                    return df

                current = merge.current_inventory(
                    inv_r,
                    inv_w,
                    store_dim("retail", "dim_product_variants"),
                    store_dim("retail", "dim_products"),
                    store_dim("wholesale", "dim_product_variants"),
                    store_dim("wholesale", "dim_products"),
                )
                staged_inv = merge.stamp_ingested(
                    project_declared(current, "fact_current_inventory"), ingest_ts
                )
                target = _read_table(spark, f"{wh}/fact_current_inventory", staged_inv.schema)
                # The upsert result feeds both writes, computed once; _batch
                # marks today's rows, which are the snapshot. Materializing
                # the whole upsert (not just current) keeps its union
                # co-partitioned, so the table's part-files do not change.
                upserted = staged_inv.withColumn("_batch", F.lit(True))
                if target is not None:
                    upserted = merge.upsert(
                        target.withColumn("_batch", F.lit(False)),
                        upserted,
                        MERGE_KEYS["fact_current_inventory"],
                    )
                upserted = once(upserted)
                atomic_overwrite(upserted.drop("_batch"), f"{wh}/fact_current_inventory")
                # M5: daily snapshot — dynamic overwrite of ONLY today's
                # partition (same-day reruns idempotent, history never
                # rewritten; the 100 TB shape vs a full-table upsert)
                snap = merge.stamp_ingested(
                    merge.snapshot_rows(upserted.filter("_batch"), cfg.snapshot_date), ingest_ts
                )
                merge.overwrite_partitions(snap, f"{wh}/inventory_snapshot", "snapshot_date")
        else:  # orders
            # M6: keyed upsert; M7: delete+reload of child items (run_logs.txt:472-573).
            # A batch can re-deliver an order (pagination overlap mid-extraction,
            # multiple envelope files): dedupe staged rows to the latest version
            # per key BEFORE merging, like the streaming order feed does — otherwise
            # duplicate-key rows land in the warehouse.
            staged_orders = merge.latest_per_key(
                staged("fact_orders"), "order_id", "updated_at", "order_number"
            )
            staged_orders = merge.stamp_ingested(
                project_declared(staged_orders, "fact_orders"), ingest_ts
            )

            # children: keep only the winning parent version's rows (the
            # transient _parent_updated_at carries the order version)
            staged_items = merge.latest_per_key(
                staged("fact_order_items"),
                ["order_id", "line_item_id"],
                "_parent_updated_at",
                ["quantity", "title"],
            )
            # Items partition on the PARENT order's created month (immutable),
            # so every existing child of a staged order lives inside the
            # partitions the batch touches — the delete side of delete+reload
            # never looks outside the pruned set.
            staged_items = merge.with_month_partition(
                staged_items, "_parent_created_at", "created_month"
            )
            staged_items = merge.stamp_ingested(
                project_declared(staged_items, "fact_order_items", keep=("created_month",)),
                ingest_ts,
            )

            # M6+M7 commit ATOMICALLY as a pair, matching the reference's
            # one-transaction-per-entity semantics (run_etl_with_retries.py:
            # 60-94, conn.autocommit=False at :30): both tables' touched
            # month partitions stage into fresh generation dirs, and ONE
            # manifest rename publishes them together — a crash between the
            # two table writes leaves readers on the OLD consistent pair
            # (crash-injection pinned in tests/test_pipeline.py). The
            # commit is partition-scoped: a daily batch opens only the 1-2
            # months its staged keys live in. It reads each staged frame
            # twice (touched partitions, then the write).
            orders_pair_store(spark, wh).commit([
                (
                    "fact_orders",
                    once(merge.with_month_partition(staged_orders)),
                    lambda ex, st: st if ex is None
                    else merge.upsert(ex, st, MERGE_KEYS["fact_orders"]),
                ),
                (
                    "fact_order_items",
                    once(staged_items),
                    lambda ex, st: st if ex is None
                    else merge.delete_reload(ex, st, ["order_id"]),
                ),
            ])


def _merge_with_retries(spark: SparkSession, cfg: PipelineConfig, entity: str, ingest_ts):
    """One merge thread: ``cfg.retries`` attempts at ``_merge_entity`` in
    the entity's own scheduler pool. Returns (committed, last error)."""
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"merge-{entity}")
    err = None
    for _attempt in range(cfg.retries):
        try:
            _merge_entity(spark, cfg, entity, ingest_ts)
            return True, None
        except Exception as e:  # noqa: BLE001
            err = e
    return False, err


def run_daily(spark: SparkSession, cfg: PipelineConfig, ingest_ts=None) -> dict:
    """Full daily run: parallel staging → barrier → concurrent per-entity
    merges, each with its own retries.

    Returns {'staging': {(store, entity): bool}, 'merge': {entity: bool}},
    plus 'errors' when a merge or the run-log write failed.
    """
    runlog = RunLog(spark, cfg.run_log_dir)
    sources = set(cfg.raw_paths) | set(cfg.bulk_transports or ())
    tasks = [(s, e) for s in cfg.stores for e in ENTITIES if f"{s}_{e}" in sources]

    results = {"staging": {}, "merge": {}}
    try:
        with ThreadPoolExecutor(max_workers=cfg.max_workers) as pool:
            futures = {
                (s, e): pool.submit(_stage_one, spark, cfg, runlog, s, e) for s, e in tasks
            }
            results["staging"] = {k: f.result() for k, f in futures.items()}
    finally:
        # the barrier: every task's rows, failures included, in ONE write
        try:
            runlog.flush()
        except Exception as e:  # noqa: BLE001
            # no durable watermark, so no staging run counts as a success
            results["staging"] = dict.fromkeys(results["staging"], False)
            results["errors"] = {"run_log": str(e)}
    staging = results["staging"]

    # K4: archive a raw file only once its staging run's watermark is
    # durable — a crash before this re-reads the raw file on retry, never
    # loses it. An archival hiccup past that commit point must NOT flip
    # the staging run to failed (tables and watermark already landed; the
    # raw file stays put for the next attempt) — warn and carry on.
    if cfg.archive_dir:
        for (store, entity), ok in staging.items():
            key = f"{store}_{entity}"
            if not ok or key not in cfg.raw_paths:
                continue
            try:
                archive_raw(spark, cfg.raw_paths[key], cfg.archive_dir, store, entity)
            except Exception as ae:  # noqa: BLE001
                import sys

                print(
                    f"archive_raw warning ({store}/{entity}): {ae}",
                    file=sys.stderr,
                )

    if not all(staging.values()):  # barrier (daily_scheduler.py:168-172)
        return results

    # merge only entities that actually staged this run — a partial config
    # (orders-only) must not attempt customer/product merges over nothing.
    # The entities write disjoint tables and each publishes on its own, so
    # they merge concurrently, one thread each.
    staged_entities = [e for e in ENTITIES if any(ent == e for (_s, ent) in tasks)]
    if staged_entities:
        with ThreadPoolExecutor(max_workers=min(len(staged_entities), cfg.max_workers)) as pool:
            futures = {
                e: pool.submit(_merge_with_retries, spark, cfg, e, ingest_ts)
                for e in staged_entities
            }
            for entity, f in futures.items():
                ok, err = f.result()
                results["merge"][entity] = ok
                if not ok and err is not None:
                    results.setdefault("errors", {})[entity] = str(err)

    # O7: kick the BI refresh only when every merge committed (the
    # reference's scheduler runs trigger_pbi after the pipeline). The
    # result is recorded, never raised — see trigger_bi_refresh.
    if cfg.bi_refresh_url and results["merge"] and all(results["merge"].values()):
        from .trigger import trigger_bi_refresh

        results["bi_refresh"] = trigger_bi_refresh(
            cfg.bi_refresh_url, cfg.bi_refresh_token, retries=cfg.retries
        )
    return results
