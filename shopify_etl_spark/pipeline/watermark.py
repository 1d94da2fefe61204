"""Incremental watermark + audit run log.

Spark twin of the reference's ``etl_run_log`` table and lookback logic
(reference daily_scheduler.py:24-83): every (store, entity) staging run
appends an audit row carrying the batch's ``max(updatedAt)`` watermark;
the next run restarts extraction ``2 + days_gap`` days before the last
success, deliberately re-reading late updates which the idempotent keyed
merges absorb (the reference's late-data model, SURVEY.md §2.10).

Storage is an append-only parquet directory. Rows buffer on the driver
and ``flush`` writes them as ONE file per run (``run_daily`` flushes at
the staging barrier), serialized by Arrow and published by a rename, so
the barrier runs no Spark job; reads flush first, then aggregate over
every file. Unlike the reference, the watermark is a real timestamp, not
a lexicographically-compared string (SURVEY §1.2 trap).
"""

from __future__ import annotations

import threading
import uuid
from datetime import datetime, timedelta, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

RUN_LOG_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("store_name", StringType(), False),
        StructField("entity_name", StringType(), False),
        StructField("status", StringType(), False),  # RUNNING|SUCCESS|FAILED
        StructField("ingested_at", TimestampType(), False),
        StructField("staging_success", BooleanType(), True),
        StructField("merge_success", BooleanType(), True),
        StructField("source_updated_at", TimestampType(), True),
        StructField("notes", StringType(), True),
    ]
)


class RunLog:
    """Append-only audit log with watermark retrieval (O4/A5)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._rows: list[dict] = []
        # Staging threads log concurrently into the shared buffer. The
        # lock also serializes flushes, so no row is written twice.
        self._lock = threading.Lock()

    def _append(self, row: dict) -> None:
        defaults = {
            "staging_success": None,
            "merge_success": None,
            "source_updated_at": None,
            "notes": None,
        }
        with self._lock:
            self._rows.append({**defaults, **row})

    def flush(self) -> None:
        """Write the buffered rows as one parquet file, with no Spark job:
        Arrow serializes them on the driver in the schema Spark writes,
        and ``fs_publish`` lands the bytes atomically. Rows stay buffered
        if the write fails."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from .runner import fs_publish

        with self._lock:
            if not self._rows:
                return
            rows = pd.DataFrame(self._rows, columns=RUN_LOG_SCHEMA.names)
            # naive timestamps are session-local, as createDataFrame reads them
            tz = self.spark.conf.get("spark.sql.session.timeZone")
            for f in RUN_LOG_SCHEMA.fields:
                if isinstance(f.dataType, TimestampType):
                    rows[f.name] = (
                        pd.to_datetime(rows[f.name])
                        .dt.tz_localize(tz, ambiguous=False)
                        .dt.tz_convert("UTC")
                    )
            table = pa.Table.from_pandas(
                rows, schema=to_arrow_schema(RUN_LOG_SCHEMA), preserve_index=False
            )
            buf = pa.BufferOutputStream()
            pq.write_table(table, buf)
            fs_publish(
                self.spark, f"{self.path}/part-{uuid.uuid4().hex}.parquet",
                buf.getvalue().to_pybytes(),
            )
            self._rows.clear()

    def read(self):
        # Only a MISSING log means "first run"; any other failure (corrupt
        # footer, permissions) must surface — swallowing it would silently
        # reset the watermark and trigger a full re-extraction.
        from .runner import table_exists

        self.flush()
        if not table_exists(self.spark, self.path):
            return self.spark.createDataFrame([], RUN_LOG_SCHEMA)
        return self.spark.read.schema(RUN_LOG_SCHEMA).parquet(self.path)

    def log_start(self, store: str, entity: str) -> str:
        """INSERT a RUNNING row, return its id (reference daily_scheduler.py:24-36)."""
        run_id = uuid.uuid4().hex
        self._append(
            {
                "id": run_id,
                "store_name": store,
                "entity_name": entity,
                "status": "RUNNING",
                "ingested_at": datetime.now(timezone.utc).replace(tzinfo=None),
            }
        )
        return run_id

    def log_staging_success(self, run_id: str, store: str, entity: str, watermark) -> None:
        """Append the SUCCESS row carrying the new high-water mark
        (reference daily_scheduler.py:38-49). Append-only: the latest row
        per run wins at read time."""
        wm = datetime.fromisoformat(watermark) if isinstance(watermark, str) else watermark
        if wm is not None and wm.tzinfo is not None:
            wm = wm.astimezone(timezone.utc).replace(tzinfo=None)
        self._append(
            {
                "id": run_id,
                "store_name": store,
                "entity_name": entity,
                "status": "SUCCESS",
                "ingested_at": datetime.now(timezone.utc).replace(tzinfo=None),
                "staging_success": True,
                "source_updated_at": wm,
            }
        )

    def log_failure(self, run_id: str, store: str, entity: str, notes: str) -> None:
        self._append(
            {
                "id": run_id,
                "store_name": store,
                "entity_name": entity,
                "status": "FAILED",
                "ingested_at": datetime.now(timezone.utc).replace(tzinfo=None),
                "staging_success": False,
                "notes": notes[:500],
            }
        )

    def last_watermark(self, store: str, entity: str):
        """MAX(source_updated_at) over successful runs (A5 — the reference
        orders by source_updated_at DESC LIMIT 1, daily_scheduler.py:68-74)."""
        row = (
            self.read()
            .filter(
                (F.col("store_name") == store)
                & (F.col("entity_name") == entity)
                & (F.col("status") == "SUCCESS")
                & F.col("source_updated_at").isNotNull()
            )
            .agg(F.max("source_updated_at").alias("wm"))
            .first()
        )
        return row.wm if row else None

    def get_start_date(self, store: str, entity: str, default_days: int = 30, now=None):
        """Lookback start: ``now - (2 + days_gap) days`` ≈ watermark minus
        two days (reference daily_scheduler.py:75-83). ``days_gap`` is the
        watermark's staleness; the overlap re-reads late updates on
        purpose. Anchored at *now*, not the watermark — anchoring at the
        watermark would double the re-extraction window as staleness grows.
        """
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        wm = self.last_watermark(store, entity)
        if wm is None:
            return now - timedelta(days=default_days)
        days_gap = max((now - wm).days, 0)
        return now - timedelta(days=2 + days_gap)
