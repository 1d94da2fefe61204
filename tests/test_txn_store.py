"""PairStore model tests: a seeded random commit walk over a two-table
store must match a plain-dict reference model after EVERY commit and
after a replay of the last batch, and GC must keep exactly one live
generation per (table, partition)."""

import json
from pathlib import Path

from shopify_etl_spark.operators import merge
from shopify_etl_spark.pipeline.txn_store import RETAIN_VERSIONS, PairStore

SCHEMA = "k long, v string, created_month string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _upsert(ex, st):
    return st if ex is None else merge.upsert(ex, st, ["k"])


def _delete_reload(ex, st):
    return st if ex is None else merge.delete_reload(ex, st, ["k"])


def _store_rows(store, table):
    df = store.read_table(table)
    if df is None:
        return {}
    return {r["k"]: (r["v"], r["created_month"]) for r in df.collect()}


def test_random_commit_walk_matches_model(spark, tmp_path):
    import random

    rng = random.Random(20240814)
    store = PairStore(spark, str(tmp_path / "pair"), "created_month")
    months = ["2025-01", "2025-02", "2025-03", None]
    model_a: dict = {}  # upsert semantics
    model_b: dict = {}  # delete+reload semantics (keyed delete on k)

    for _step in range(6):
        batch_a = [
            (k, f"a{_step}-{k}", rng.choice(months[:3]))
            for k in rng.sample(range(20), rng.randint(1, 6))
        ]
        batch_b = [
            (k, f"b{_step}-{k}", rng.choice(months))
            for k in rng.sample(range(20), rng.randint(1, 6))
        ]
        # model: upsert replaces by key; delete_reload removes every row of
        # the staged keys then inserts the batch. NOTE the store applies
        # these PARTITION-SCOPED, which is only equivalent when a key's
        # partition value never changes — enforce that in the generator,
        # exactly the created_at-immutability precondition the real tables
        # carry.
        part_of_a = {k: m for k, (_, m) in model_a.items()}
        batch_a = [(k, v, part_of_a.get(k, m)) for k, v, m in batch_a]
        part_of_b = {k: m for k, (_, m) in model_b.items()}
        batch_b = [(k, v, part_of_b.get(k, m)) for k, v, m in batch_b]
        for k, v, m in batch_a:
            model_a[k] = (v, m)
        for k, v, m in batch_b:
            model_b.pop(k, None)
        for k, v, m in batch_b:
            model_b[k] = (v, m)

        version = store.commit([
            ("ta", _df(spark, batch_a), _upsert),
            ("tb", _df(spark, batch_b), _delete_reload),
        ])
        assert version == _step + 1
        assert _store_rows(store, "ta") == model_a, f"step {_step} ta"
        assert _store_rows(store, "tb") == model_b, f"step {_step} tb"

    # replay: committing an already-applied batch again changes no row
    store.commit([
        ("ta", _df(spark, batch_a), _upsert),
        ("tb", _df(spark, batch_b), _delete_reload),
    ])
    assert _store_rows(store, "ta") == model_a, "replay ta"
    assert _store_rows(store, "tb") == model_b, "replay tb"

    # GC invariant: on-disk (generation, partition) dirs are exactly the
    # union of what the RETAINED manifests reference — nothing more.
    retained = [store.manifest(), store.manifest(store.current_version() - 1)]
    for table in {"ta", "tb"}:
        data = Path(tmp_path / "pair" / "data" / table)
        on_disk = {
            (g.name, p.name.split("=", 1)[1])
            for g in data.iterdir() if g.is_dir()
            for p in g.iterdir() if p.is_dir()
        }
        live = {
            (g, k)
            for man in retained
            for k, g in man["tables"].get(table, {}).items()
        }
        assert on_disk == live, table
    # exactly RETAIN_VERSIONS committed manifests survive
    versions = sorted((tmp_path / "pair" / "versions").glob("v*.json"))
    assert len(versions) == RETAIN_VERSIONS == 2
    assert json.loads(versions[-1].read_text())["version"] == 7


def test_time_travel_and_rollback(spark, tmp_path):
    """The retention window makes the previous version readable AS OF,
    and rollback republishes it as a NEW version without rewriting any
    data — the bad-batch recovery story."""
    import pytest

    store = PairStore(spark, str(tmp_path / "pair"), "created_month")
    store.commit([("t", _df(spark, [(1, "good", "2025-01")]), _upsert)])
    good = _store_rows(store, "t")
    store.commit([("t", _df(spark, [(1, "BAD", "2025-01")]), _upsert)])
    assert _store_rows(store, "t") == {1: ("BAD", "2025-01")}
    # time travel: version 1 still resolves under RETAIN_VERSIONS = 2
    assert {
        r["k"]: (r["v"], r["created_month"])
        for r in store.read_table("t", version=1).collect()
    } == good
    # rollback: new version 3 with version 1's table map, no data rewrite
    assert store.rollback(1) == 3
    assert _store_rows(store, "t") == good
    assert store.manifest()["rolled_back_to"] == 1
    # the bad version ages out of retention (3 retained? window=2: keep 2,3)
    with pytest.raises(FileNotFoundError, match="not retained"):
        store.manifest(1)
    # ...but version 2 (the bad one) stays inspectable inside the window
    assert {
        r["v"] for r in store.read_table("t", version=2).collect()
    } == {"BAD"}


def test_empty_partition_disappears_from_manifest(spark, tmp_path):
    """A merge that empties a touched partition must DROP its manifest
    entry — and the reader must not resurrect the old rows from the
    previous generation (the stale-dir trap `read_table`'s
    manifest-listed-dirs-only discipline exists for)."""
    store = PairStore(spark, str(tmp_path / "pair"), "created_month")
    store.commit([
        ("t", _df(spark, [(1, "x", "2025-01"), (2, "y", "2025-02")]), _upsert),
    ])

    def _drop_all(ex, st):
        # the staged batch declares the touched set (2025-01); the merged
        # state of that partition is empty — every row deleted
        return (ex if ex is not None else st).limit(0)

    store.commit([("t", _df(spark, [(1, "dead", "2025-01")]), _drop_all)])
    assert _store_rows(store, "t") == {2: ("y", "2025-02")}
    assert "2025-01" not in store.manifest()["tables"]["t"]
