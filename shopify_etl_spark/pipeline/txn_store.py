"""Cross-table atomic publish: a manifest-pointer store whose commit is
the package's one partition-scoped merge.

The reference commits ``fact_orders`` + ``fact_order_items`` in ONE
Postgres transaction (reference run_etl_with_retries.py:60-94;
``conn.autocommit = False`` at :30) — a reader never sees new orders
beside stale items. The engine's per-table atomic renames
(``runner.atomic_overwrite``) could not reproduce that: a crash between
the two table swaps left a mixed pair, with idempotent re-run as the
only story (the divergence SURVEY §7.4 flagged as risk #1).

This module closes it by staging invisibly and making ONE atomic
rename the publish point of a multi-table commit — the
snapshot-manifest idea table formats like Iceberg are built on,
reduced to exactly what the orders entity needs. The batch runner commits
the orders pair through it, and the streaming order feed commits each
micro-batch of ``fact_orders`` the same way:

* **Data files are immutable.** Each commit writes the partitions it
  touches into a fresh generation directory
  ``data/<table>/g<version>/<part>=<value>/``; nothing ever rewrites in
  place.
* **A version manifest maps (table, partition) → generation.** Untouched
  partitions keep their old generation entry, so a daily batch writes
  only the 1-2 month partitions it touches — the 100 TB shape, with
  untouched files byte-identical (pinned in tests/test_pipeline.py).
* **Publish is ONE file rename** of the staged manifest
  ``versions/_tmp.v<N>.json`` → ``versions/v<N>.json``, covering every
  table of the commit. Readers resolve the highest committed manifest;
  at every instant they see a consistent (orders, items) pair: the old pair
  before the rename, the new pair after, never a mix. A crash anywhere
  before the rename leaves only invisible staging (orphan generations,
  swept by the next commit's GC); a crash after it leaves a committed
  pair plus sweepable garbage.

Single-writer, reader-resolves-at-plan-time — the same operational
contract as ``atomic_overwrite`` (and Iceberg without a catalog lock).
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"  # Spark/Hive's null dir name
# How many committed versions stay readable: current + one back, enough
# for time-travel diffing and for ROLLBACK after a bad batch, while GC
# still reclaims superseded data promptly.
RETAIN_VERSIONS = 2


def _encode_partition(value) -> str:
    return NULL_PARTITION if value is None else str(value)


class PairStore:
    """Versioned multi-table store with one-rename commits.

    ``root`` holds ``versions/v<N>.json`` manifests and
    ``data/<table>/g<N>/`` generation dirs. ``partition_col`` is the
    physical partition column every member table shares (the orders pair:
    ``created_month``, immutable per row, so keys never migrate across
    partitions — the precondition of any partition-scoped merge).
    """

    def __init__(self, spark: SparkSession, root: str, partition_col: str):
        self.spark = spark
        self.root = root
        self.partition_col = partition_col

    # -- filesystem plumbing -------------------------------------------------

    def _fs(self, path: str):
        from .runner import _hadoop_fs

        return _hadoop_fs(self.spark, path)

    def _versions_dir(self) -> str:
        return f"{self.root}/versions"

    def _gen_dir(self, table: str, gen: str) -> str:
        return f"{self.root}/data/{table}/{gen}"

    def _committed_versions(self) -> list[int]:
        fs, p = self._fs(self._versions_dir())
        if not fs.exists(p):
            return []
        out = []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def current_version(self) -> int:
        vs = self._committed_versions()
        return vs[-1] if vs else 0

    def manifest(self, version: int | None = None) -> dict:
        from .runner import fs_read_text

        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "partition_col": self.partition_col, "tables": {}}
        raw = fs_read_text(
            self.spark, f"{self._versions_dir()}/v{v:07d}.json"
        )
        if raw is None:
            raise FileNotFoundError(
                f"PairStore: version {v} is not retained at {self.root} "
                f"(RETAIN_VERSIONS={RETAIN_VERSIONS}; available: "
                f"{self._committed_versions()})"
            )
        return json.loads(raw)

    # -- reads ---------------------------------------------------------------

    def read_table(self, table: str, version: int | None = None) -> DataFrame | None:
        """The table's committed state, partition column included —
        current by default, or AS OF a retained ``version`` (time
        travel; the last ``RETAIN_VERSIONS`` manifests and every data
        directory they reference survive GC)."""
        return self._read(table, self.manifest(version)["tables"].get(table) or {})

    def _read(self, table: str, entries: dict, schema=None) -> DataFrame | None:
        """The rows of the ``entries`` (partition → generation) of
        ``table``; None if there are none. A known ``schema`` skips the
        schema-inference job (the commit's merge input).

        Reads exactly the (generation, partition) directories listed —
        never a whole generation dir, which may hold partitions
        superseded by later commits but not yet swept.
        """
        by_gen: dict[str, list[str]] = {}
        for part_key, gen in entries.items():
            by_gen.setdefault(gen, []).append(part_key)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        frames = []
        for gen, part_keys in sorted(by_gen.items()):
            base = self._gen_dir(table, gen)
            paths = [f"{base}/{self.partition_col}={k}" for k in sorted(part_keys)]
            frames.append(reader.option("basePath", base).parquet(*paths))
        if not frames:
            return None
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        return df

    def _list_partition_dirs(self, table: str, gen: str) -> list[str]:
        fs, p = self._fs(self._gen_dir(table, gen))
        if not fs.exists(p):
            return []
        prefix = f"{self.partition_col}="
        return [
            st.getPath().getName()[len(prefix):]
            for st in fs.listStatus(p)
            if st.isDirectory() and st.getPath().getName().startswith(prefix)
        ]

    # -- the commit ----------------------------------------------------------

    def commit(self, updates: list) -> int:
        """Apply ``updates`` to their tables and publish ALL of them with
        one manifest rename.

        ``updates`` is a list of ``(table, staged_df, merge_fn)``;
        ``merge_fn(existing_or_None, staged) -> merged`` receives the
        current rows of ONLY the partitions the staged batch touches
        (the partition-scoped merge) and returns the new state of those
        partitions. ``staged_df`` must carry ``partition_col`` and have
        the table's schema; it is read twice (one collect finds the
        touched partitions of every table, then the write), so callers
        pass it materialized.

        Crash contract: every write before the final rename lands in
        fresh generation dirs no committed manifest references — a crash
        at ANY point (including between the two tables' writes: the
        injection test) leaves readers on the previous consistent pair,
        and the daily re-run repeats the commit with the same version
        number, overwriting the orphans. GC of superseded data is
        best-effort AFTER the publish and never fails a committed run.
        """
        new_version = self.current_version() + 1
        gen = f"g{new_version:07d}"
        man = self.manifest()
        new_tables = {t: dict(m) for t, m in man["tables"].items()}

        for (table, staged, merge_fn), touched in zip(updates, self._touched(updates)):
            current = man["tables"].get(table) or {}
            existing = self._read(
                table,
                {k: g for k, g in current.items() if k in touched},
                staged.schema,
            )
            if existing is not None:
                merged = merge_fn(existing, staged.select(*existing.columns))
            else:
                merged = merge_fn(None, staged)
            _write_gen(
                merged, self._gen_dir(table, gen), self.partition_col
            )
            written = set(self._list_partition_dirs(table, gen))
            entries = new_tables.setdefault(table, {})
            for k in touched:
                # a touched partition the merge emptied disappears
                entries.pop(k, None)
            for k in written:
                entries[k] = gen

        manifest = {
            "version": new_version,
            "partition_col": self.partition_col,
            "tables": new_tables,
        }
        self._publish(manifest, new_version)
        try:
            self._gc(manifest)
        except Exception as e:  # noqa: BLE001 — space reclaim only
            import sys

            print(f"PairStore gc warning ({self.root}): {e}", file=sys.stderr)
        return new_version

    def _touched(self, updates: list) -> list[set]:
        """Each update's touched partitions, encoded, from ONE collect over
        the staged frames tagged by their position in ``updates``."""
        tagged = [
            staged.select(F.lit(i).alias("i"), F.col(self.partition_col).alias("p"))
            for i, (_table, staged, _merge_fn) in enumerate(updates)
        ]
        out = [set() for _ in updates]
        for r in reduce(DataFrame.unionAll, tagged).distinct().collect():
            out[r.i].add(_encode_partition(r.p))
        return out

    def _publish(self, manifest: dict, version: int) -> None:
        from .runner import fs_write_text

        vdir = self._versions_dir()
        tmp = f"{vdir}/_tmp.v{version:07d}.json"
        final = f"{vdir}/v{version:07d}.json"
        fs_write_text(self.spark, tmp, json.dumps(manifest, sort_keys=True))
        fs, final_p = self._fs(final)
        tmp_p = self._fs(tmp)[1]
        if fs.exists(final_p):
            raise IOError(
                f"PairStore: {final} already exists — concurrent writer? "
                "The store is single-writer by contract."
            )
        if not fs.rename(tmp_p, final_p):
            raise IOError(f"PairStore: failed to publish {final}")

    def rollback(self, to_version: int) -> int:
        """Publish a RETAINED past version's table map as a NEW version —
        the bad-batch recovery story: no data is rewritten (the old
        generations still exist under the retention window), so rollback
        is exactly one manifest write + one atomic rename, with the same
        crash contract as any commit. History stays append-only: the bad
        version remains inspectable until retention ages it out."""
        old = self.manifest(to_version)
        new_version = self.current_version() + 1
        manifest = {
            "version": new_version,
            "partition_col": self.partition_col,
            "tables": {t: dict(m) for t, m in old["tables"].items()},
            "rolled_back_from": self.current_version(),
            "rolled_back_to": to_version,
        }
        self._publish(manifest, new_version)
        try:
            self._gc(manifest)
        except Exception as e:  # noqa: BLE001 — space reclaim only
            import sys

            print(f"PairStore gc warning ({self.root}): {e}", file=sys.stderr)
        return new_version

    def _gc(self, manifest: dict) -> None:
        """Sweep manifests beyond the retention window and data dirs no
        RETAINED manifest references. Pure space reclaim: readers only
        follow retained manifests, so anything swept here is already
        invisible (a crash mid-GC just leaves garbage for the next
        commit's sweep)."""
        fs, vp = self._fs(self._versions_dir())
        current = manifest["version"]
        floor = current - RETAIN_VERSIONS + 1
        for st in fs.listStatus(vp):
            name = st.getPath().getName()
            if name.startswith("_tmp."):
                fs.delete(st.getPath(), False)
                continue
            if name.startswith("v") and name.endswith(".json"):
                try:
                    v = int(name[1:-5])
                except ValueError:
                    continue
                if v < floor or v > current:
                    fs.delete(st.getPath(), False)
        # union of live (partition → gen) entries across retained manifests
        retained = [manifest]
        for v in self._committed_versions():
            if v != current:
                try:
                    retained.append(self.manifest(v))
                except FileNotFoundError:
                    continue
        live_by_table: dict[str, set] = {}
        for man in retained:
            for table, entries in man["tables"].items():
                bucket = live_by_table.setdefault(table, set())
                bucket.update((k, g) for k, g in entries.items())
        for table, live in live_by_table.items():
            tdir = f"{self.root}/data/{table}"
            tfs, tp = self._fs(tdir)
            if not tfs.exists(tp):
                continue
            live_gens = {g for _, g in live}
            for st in tfs.listStatus(tp):
                if not st.isDirectory():
                    continue
                gen = st.getPath().getName()
                if gen not in live_gens:
                    tfs.delete(st.getPath(), True)
                    continue
                keep_parts = {k for k, g in live if g == gen}
                prefix = f"{self.partition_col}="
                remaining = 0
                for pst in tfs.listStatus(st.getPath()):
                    pname = pst.getPath().getName()
                    if not pname.startswith(prefix):
                        continue
                    if pname[len(prefix):] in keep_parts:
                        remaining += 1
                    else:
                        tfs.delete(pst.getPath(), True)
                if remaining == 0:
                    tfs.delete(st.getPath(), True)


def _write_gen(df: DataFrame, gen_dir: str, partition_col: str) -> None:
    """Write one table's merged partitions into its generation dir.

    Module-level so the crash-injection test can intercept the SECOND
    table's write and prove the pair publish is atomic. ``overwrite``
    makes a re-run of a crashed commit (same version ⇒ same gen dir)
    replace the orphan wholesale instead of appending to it.
    """
    df.write.mode("overwrite").partitionBy(partition_col).parquet(gen_dir)
