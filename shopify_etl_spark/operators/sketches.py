"""Mergeable distinct-count sketches (Datasketches HLL, Spark 3.5+).

The 100 TB pattern: COUNT(DISTINCT) over a year of raw events rescans
everything, every time. Instead, aggregate once into per-grain HLL
sketches (a few KB each), persist them, and answer any coarser rollup —
weekly, monthly, arbitrary ranges, cross-dimension unions — by UNIONING
sketches, never touching raw data again. Sketch union is associative
and lossless w.r.t. the sketch state, so pre-aggregation commutes with
rollup: build daily, merge to weekly, the answer is identical to
sketching the week directly (pinned in tests).

Accuracy regime: Datasketches HLL is EXACT below its sparse-mode
threshold (far above this corpus's cardinalities at ``lg_k=14``), then
~0.8 % RSE beyond — which is why the catalog query carries a real
COUNT(DISTINCT) oracle here, while unbounded-cardinality use stays the
documented approximate path (`approx_event_stats`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Sparse-mode headroom for every test SF (exact ≪ 2^14 distincts/group).
DEFAULT_LG_K = 14


def distinct_sketches(
    df: DataFrame, key_col: str, group_cols: list[str], lg_k: int = DEFAULT_LG_K
) -> DataFrame:
    """One HLL sketch of ``key_col`` per ``group_cols`` value — the
    persistable pre-aggregate (binary column ``sk``)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sk")
    )


def rollup_distinct(
    sketches: DataFrame, group_cols: list[str], estimate_col: str = "distinct_keys"
) -> DataFrame:
    """Roll finer-grain sketches up to ``group_cols`` by sketch union and
    estimate — no raw-data access."""
    agg = F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(estimate_col)
    if group_cols:
        return sketches.groupBy(*group_cols).agg(agg)
    return sketches.agg(agg)


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable frequency estimation (heavy hitters at scale)
# ---------------------------------------------------------------------------
#
# The companion problem to HLL's "how many distinct": "how often does each
# key occur" over a stream/corpus too large (or too key-diverse) to hold an
# exact count table. A CMS is a depth × width counter grid; each key
# increments one cell per depth row (row-seeded hash), and a key's estimate
# is the MIN over its depth cells. Guarantees (Cormode & Muthukrishnan):
#
#   estimate >= true count                      (always — collisions only add)
#   estimate <= true + (e/width) * N            with prob >= 1 - e^-depth
#
# Like the HLL table above, the sketch is a persistable DataFrame keyed on
# (row, cell) whose merge is a plain SUM — build per day/source, union any
# subset, query without raw data. Everything is JVM expressions: xxhash64
# per depth row, one groupBy; no UDFs, shuffle carries width*depth rows max.


def cms_build(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    width: int = 2048,
    depth: int = 4,
    seed: int = 41,
) -> DataFrame:
    """Build a count-min sketch table ``(row, cell, c)`` over ``key_col``.

    ``pmod`` (not ``%``) maps hashes to cells: xxhash64 is signed and a
    negative ``%`` would scatter keys into negative cells that never match
    at query time.
    """
    w = F.col(weight_col) if weight_col else F.lit(1)
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(depth)])
    ).alias("row")
    return (
        df.select(F.col(key_col).alias("_k"), w.alias("_w"))
        .select("_w", rows, F.col("_k"))
        .select(
            "row",
            F.pmod(F.xxhash64(F.col("_k"), F.col("row") + F.lit(seed)), F.lit(width)).alias("cell"),
            "_w",
        )
        .groupBy("row", "cell")
        .agg(F.sum("_w").alias("c"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union CMS tables built with the SAME (width, depth, seed): cellwise
    sum — associative, order-free, no raw data."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "cell").agg(F.sum("c").alias("c"))


def cms_query(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 2048,
    depth: int = 4,
    seed: int = 41,
) -> DataFrame:
    """Estimate each key's frequency: min over its depth cells.

    ``keys`` is a (small) candidate table — heavy-hitter candidates come
    from a sample or a coarser exact pass; the sketch itself cannot
    enumerate keys. The probe fans each key to its depth (row, cell)
    coordinates and joins the sketch on its grid key; an absent cell means
    count 0 (never hit), kept via left join + coalesce.
    """
    probes = (
        keys.select(F.col(key_col))
        .distinct()
        .select(
            key_col,
            F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row"),
        )
        .select(
            key_col,
            "row",
            F.pmod(F.xxhash64(F.col(key_col), F.col("row") + F.lit(seed)), F.lit(width)).alias("cell"),
        )
    )
    # The sketch is bounded at width*depth rows BY CONSTRUCTION (that is
    # the whole point of a CMS), so it is always the broadcast side — the
    # probe never shuffles, at any corpus size.
    return (
        probes.join(F.broadcast(sketch), ["row", "cell"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_count"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    sample_filter: Column,
    n_candidates: int = 40,
    width: int = 2048,
    depth: int = 4,
    seed: int = 41,
) -> DataFrame:
    """End-to-end heavy-hitter pipeline: sample → candidates → CMS probe.

    The 100 TB shape for "top keys by frequency" when the key space is
    too large to exact-count: (1) exact-count only a deterministic
    SAMPLE of the stream (``sample_filter``) and keep its top
    ``n_candidates`` keys — heavy hitters are heavy in any uniform
    sample, so the candidate set catches them w.h.p.; (2) sketch the
    FULL stream into a fixed-size CMS (one groupBy, width×depth rows);
    (3) probe only the candidates against the sketch. No exact count
    table over the full key space ever materializes.

    Returns (key, sample_n, cms_count): the candidate's exact count in
    the sample and its full-stream CMS estimate (>= true count always).
    Candidate selection ties break on (sample_n DESC, key ASC) so the
    set is deterministic and oracle-comparable.
    """
    cand = (
        df.filter(sample_filter)
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("sample_n"))
        .orderBy(F.desc("sample_n"), F.asc(key_col))
        .limit(n_candidates)
    )
    sketch = cms_build(df, key_col, width=width, depth=depth, seed=seed)
    est = cms_query(sketch, cand, key_col, width=width, depth=depth, seed=seed)
    # est is bounded by n_candidates rows — broadcast, never shuffle cand
    return cand.join(F.broadcast(est), key_col)


def cms_inner_product(sa: DataFrame, sb: DataFrame) -> DataFrame:
    """Equi-join SIZE estimate from two CMS grids (Cormode–Muthukrishnan
    inner-product estimator): for each depth row, sum the cellwise
    product of the two grids; take the MIN over rows.

    This is the planner's question — "how many rows will A ⋈ B on key k
    produce" = Σ_k count_A(k)·count_B(k) — answered from two
    width×depth summaries without touching either table. Guarantees
    (non-negative counts): every row's cellwise-product sum ≥ the true
    inner product (collisions only ADD mass), so the min stays an
    UPPER-bounded-error overestimate — est ≥ true always, and
    est ≤ true + (e/width)·N_a·N_b with the standard CMS slack. Both
    grids must share (width, depth, seed); grids are mergeable first
    (``cms_merge``), so per-shard sketches estimate cross-shard joins.

    The left join keeps depth rows whose cells never overlap (their
    inner product is 0 — an inner join would silently drop them and the
    min would overestimate).
    """
    b = sb.select(
        F.col("row"), F.col("cell"), F.col("c").alias("_cb")
    )
    return (
        sa.join(b, ["row", "cell"], "left")
        .groupBy("row")
        .agg(F.sum(F.col("c") * F.coalesce("_cb", F.lit(0))).alias("_ip"))
        .agg(F.coalesce(F.min("_ip"), F.lit(0)).cast("long").alias("join_size_est"))
    )


def hll_overlap(
    a: DataFrame, b: DataFrame, key_col: str, lg_k: int = DEFAULT_LG_K
) -> DataFrame:
    """Distinct-key OVERLAP estimate between two sides by sketch algebra:
    ``|A ∩ B| = |A| + |B| − |A ∪ B|`` with every term an HLL estimate
    and the union computed by lossless sketch union (never raw data).

    This is the "how selective is this join key" planner input that
    complements :func:`cms_inner_product`'s row-count estimate: CMS says
    how many PAIRS the join emits, this says how many KEYS participate.
    Both sides' sketches are the same mergeable per-shard aggregates
    the rest of the sketch layer builds, so new batches merge in
    without re-reading history. Inclusion–exclusion amplifies the
    relative error of the union estimate when the overlap is small — a
    known property of the construction, bounded by the 3·rsd slack the
    guarantee gate asserts on each term.
    """
    sa = a.agg(F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("ska"))
    sb = b.agg(F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("skb"))
    return (
        F.broadcast(sa)
        .join(F.broadcast(sb))
        .select(
            F.hll_sketch_estimate("ska").alias("est_a"),
            F.hll_sketch_estimate("skb").alias("est_b"),
            F.hll_sketch_estimate(
                F.hll_union("ska", "skb")
            ).alias("est_union"),
        )
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_overlap"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Bloom filter — the memory-bounded membership screen
# ---------------------------------------------------------------------------


def _bloom_pos(key_col, i_col, m: int, salt: str):
    """Portable position hash: md5 over ``salt:i:key`` → 60-bit int % m.

    Same engine-portable conversion as ``dedup._md5_hash64`` — DuckDB
    recomputes it as ``CAST(('0x' || substr(md5(...), 1, 15)) AS BIGINT)``,
    so a SQL oracle reproduces every bit position exactly.
    """
    payload = F.concat(
        F.lit(f"{salt}:"), i_col.cast("string"), F.lit(":"), F.col(key_col)
    )
    return (
        F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long") % m
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    m: int = 4096,
    k: int = 3,
    salt: str = "bloom-v1",
) -> DataFrame:
    """Distributed Bloom filter over a key column, materialized as its
    SET-POSITION table: ≤ ``m`` rows of one int each, no matter how many
    keys went in — the fixed-size membership screen for cross-corpus
    ingest dedup at 100 TB (the exact anti-join re-shuffles both corpora
    per ingest batch; the Bloom table broadcasts once and answers from
    executor memory, at a bounded, measurable false-positive rate and
    ZERO false negatives).

    Build is one scan: explode each key into its ``k`` hash positions
    (deterministic salted md5 — engine-portable, so the whole filter is
    SQL-oracle-checkable) and keep the distinct set. Mergeable by
    construction: the union of two position tables IS the filter of
    their union — the same merge economics as CMS/HLL.
    """
    idx = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_i")
    return (
        df.select(F.col(key_col), idx)
        .select(_bloom_pos(key_col, F.col("_i"), m, salt).alias("pos"))
        .distinct()
    )


def bloom_probe(
    bloom: DataFrame,
    df: DataFrame,
    key_col: str,
    m: int = 4096,
    k: int = 3,
    salt: str = "bloom-v1",
    id_cols=None,
) -> DataFrame:
    """Membership screen: ``might_contain`` per probe key — TRUE iff all
    ``k`` of the key's positions are set in ``bloom``.

    The filter table broadcasts (≤ m ints); the probe side computes its
    positions in-row and LEFT-joins them — one broadcast join, the probe
    corpus never shuffles. Contract (the Bloom guarantee, asserted by
    the oracle gate): no false negatives — every key that was IN the
    build set answers TRUE; FALSE is definitive.
    """
    id_cols = list(id_cols or [key_col])
    idx = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_i")
    probes = df.select(*id_cols, F.col(key_col), idx).select(
        *id_cols, _bloom_pos(key_col, F.col("_i"), m, salt).alias("pos")
    )
    marked = bloom.select("pos", F.lit(1).alias("_set"))
    return (
        probes.join(F.broadcast(marked), "pos", "left")
        .groupBy(*id_cols)
        .agg(
            (F.min(F.coalesce("_set", F.lit(0))) == 1).alias("might_contain")
        )
    )
