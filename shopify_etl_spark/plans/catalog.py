"""Declared query catalog — the engine's verifiable surface.

Every query here re-expresses an operator family from the reference
(SURVEY.md §2, citations in each docstring) over the driver's deterministic
testdata tables, paired with an ANSI-SQL oracle that DuckDB runs on the same
parquet files. Both sides are hash-compared at sf=0.01 (the round-era
CORRECTNESS_r{N}.json records are at 1814ba1 in git history);
``tools/check_correctness.py`` runs the same comparison locally.

Design rules (scale-first):

* Declarative DataFrame plans only — Catalyst does pushdown/pruning/join
  selection; we add ``broadcast()`` hints solely for fixed-size dims
  (region/nation: 5/25 rows at EVERY scale factor, so the hint is safe at
  100 TB too).
* Aggregates over doubles are ``ROUND``ed **inside the query on both
  sides** so order-of-addition FP noise can't break the value hash.
* Every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver sorts columns by name before hashing).
* No ``collect()``-driven logic; every builder returns a lazy DataFrame.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan; Catalyst pushes filters/projections into the reader.

    Timestamp handling is version-adaptive (the driver has shipped two
    generations of testdata):

    * TIMESTAMP(NANOS) ``events.ts`` (gen-1): Spark's vectorized reader
      rejects nanos; the legacy conf reads them as long and we rebuild a
      TimestampType with integer ``div`` (a double-precision division
      would lose microseconds at ~1.7e18 nanos). DuckDB truncates ns→µs
      the same way, so both engines see identical values.
    * TIMESTAMP micros without isAdjustedToUTC (gen-2): reads as
      TIMESTAMP_NTZ by default, which breaks comparisons against
      ``timestamp`` literals; ``inferTimestampNTZ.enabled=false`` reads
      it as TimestampType with no plan impact (predicates still push
      down to the scan; session tz is UTC so values are identical).

    Both confs are runtime-settable SQL confs, set here so a session NOT
    built by our factory (e.g. the driver's) behaves the same.
    """
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if dict(df.dtypes).get("ts") == "bigint":  # gen-1 nanos file
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for the DuckDB oracle; None → rows-only check
    doc: str  # operator coverage + reference citation


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str):
    def deco(fn):
        QUERIES[name] = QuerySpec(name=name, builder=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Relational core: aggregations (SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                              AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                   AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                              AS avg_price,
           ROUND(AVG(l_discount), 4)                                   AS avg_disc,
           COUNT(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship scan→filter→groupBy→multi-agg (TPC-H Q1 shape). Covers "
    "A2/A3/A6-style SUM/COUNT/AVG aggregation (reference running aggregates, "
    "incremental_loaders.py:205-207,253; audit counts run_logs.txt:281-283). "
    "Partial (map-side) aggregation + whole-stage codegen; single shuffle on "
    "the 2-value grouping key.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT o_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="3-way equi-join + filter + agg + top-N (TPC-H Q3 shape). Covers "
    "J1/J2 inner equi-joins (run_logs.txt:357-359). Filters push to the "
    "parquet scans; AQE picks broadcast for the filtered customer side.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1996-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="6-way join pipeline (TPC-H Q5 shape) — the widest join tree in the "
    "catalog. region/nation are explicitly broadcast (fixed 5/25 rows at any "
    "SF, safe at 100 TB); customer⋈supplier nation co-membership adds a "
    "non-key equality. AQE plans the rest.",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, (li.l_suppkey == sup.s_suppkey) & (cust.c_nationkey == sup.s_nationkey))
        .join(nation, sup.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "part_brand_volume",
    oracle="""
    SELECT p_brand, ROUND(SUM(l_quantity), 2) AS total_qty, COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 15
    GROUP BY p_brand
    """,
    doc="Dimension join with filtered small side (J1/J2 analog of "
    "inventory⋈variants⋈products, run_logs.txt:357-359). The filtered part "
    "side is broadcast-hinted: dims-after-filter stay broadcastable far "
    "longer than raw fact tables as SF grows.",
)
def part_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Anti/semi joins and priority merge (SURVEY §2.6 J3, §2.8 U2)
# ---------------------------------------------------------------------------


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
    doc="LEFT ANTI join (J3 'retail-priority gap fill' core primitive, "
    "run_logs.txt:381-390 NOT IN subquery). Spark plans a broadcast/shuffled "
    "hash anti-join; only the key column of orders is scanned (pruning).",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "orders_with_heavy_items",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    """,
    doc="LEFT SEMI join (EXISTS). Not in the reference (it only uses anti), "
    "exposed as part of the complete join surface. Semi-join avoids the "
    "row-multiplying inner join + distinct.",
)
def orders_with_heavy_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "priority_gap_fill",
    oracle="""
    WITH retail AS (
      SELECT o_custkey, o_orderkey, '1-URGENT' AS source_system
      FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT * FROM retail
    UNION ALL
    SELECT o_custkey, o_orderkey, '2-HIGH' AS source_system
    FROM orders o
    WHERE o_orderpriority = '2-HIGH'
      AND NOT EXISTS (SELECT 1 FROM retail r WHERE r.o_custkey = o.o_custkey)
    """,
    doc="Retail-priority gap fill (J3+U2): primary ∪ (secondary ∖ primary "
    "keys) — the exact shape of run_logs.txt:381-390 where wholesale rows "
    "fill SKUs absent from retail. left_anti + unionByName; the NOT IN null "
    "trap doesn't apply (keys are non-null, as the reference guarantees via "
    "its sku filter at run_logs.txt:359).",
)
def priority_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    retail = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey", "o_orderkey", F.lit("1-URGENT").alias("source_system")
    )
    wholesale = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        "o_custkey", "o_orderkey", F.lit("2-HIGH").alias("source_system")
    )
    gap = wholesale.join(
        retail.select("o_custkey"), on="o_custkey", how="left_anti"
    )
    return retail.unionByName(gap)


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.8)
# ---------------------------------------------------------------------------


@register(
    "union_two_sources",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM (
      SELECT * FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT * FROM orders WHERE o_orderstatus <> 'O'
    )
    GROUP BY o_orderstatus, o_orderpriority
    """,
    doc="UNION ALL two-source combine (U1 — staging_retail ∪ staging_"
    "wholesale, run_etl_with_retries.py:41-44). unionByName resolves by "
    "column name, not position, so schema drift between sources is caught.",
)
def union_two_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    open_o = orders.filter(F.col("o_orderstatus") == "O")
    rest = orders.filter(F.col("o_orderstatus") != "O")
    return (
        open_o.unionByName(rest)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "distinct_flag_status",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="DISTINCT (U3 — SELECT DISTINCT order_id in delete+reload, "
    "run_logs.txt:551). Plans as a partial+final hash aggregate.",
)
def distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# Window / dedup (SURVEY §2.7 W1)
# ---------------------------------------------------------------------------


@register(
    "latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey AS latest_orderkey,
           o_orderdate AS latest_orderdate, o_totalprice AS latest_totalprice
    FROM (
      SELECT o.*, ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders o
    ) WHERE rn = 1
    """,
    doc="Latest-per-key window dedup (W1 — Postgres DISTINCT ON … ORDER BY "
    "created_at DESC, run_logs.txt:346-361) with a deterministic tie-break "
    "on the key (the reference's PG plan is nondeterministic on ties; we pin "
    "orderkey DESC, the documented divergence in SURVEY §7.4). Single "
    "shuffle on the partition key; sort+filter is codegen'd.",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_orderdate").alias("latest_orderdate"),
            F.col("o_totalprice").alias("latest_totalprice"),
        )
    )


@register(
    "cumulative_customer_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), 2) AS cum_revenue
    FROM orders
    """,
    doc="Running-total analytic frame (generalizes A1's running max, "
    "incremental_loaders.py:128-131, to a full window-frame surface). "
    "Deterministic frame order via (o_orderdate, o_orderkey).",
)
def cumulative_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("cum_revenue"),
    )


# ---------------------------------------------------------------------------
# Merge-layer patterns as queries (SURVEY §2.9 M4-M7)
# ---------------------------------------------------------------------------


@register(
    "upsert_orders",
    oracle="""
    WITH staged AS (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1996-06-01 00:00:00'),
         tgt    AS (SELECT * FROM orders WHERE o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
    SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice FROM staged
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice
    FROM tgt t
    WHERE NOT EXISTS (SELECT 1 FROM staged s WHERE s.o_orderkey = t.o_orderkey)
    """,
    doc="Keyed upsert as a relational rewrite (M6/J4 — ON CONFLICT "
    "(order_id) DO UPDATE, run_logs.txt:510-536): staged rows win, target "
    "rows survive only where their key is absent (left_anti ∪ staged). The "
    "overlapping date windows mirror the reference's lookback re-reads "
    "(daily_scheduler.py:75-81); replay is idempotent.",
)
def upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"]
    staged = orders.filter(
        F.col("o_orderdate") >= F.lit("1996-06-01 00:00:00").cast("timestamp")
    ).select(*cols)
    target = orders.filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")
    ).select(*cols)
    survivors = target.join(staged.select("o_orderkey"), "o_orderkey", "left_anti")
    return staged.unionByName(survivors)


@register(
    "delete_reload_items",
    oracle="""
    WITH staged_keys AS (
      SELECT DISTINCT l_orderkey FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem t
    WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND NOT EXISTS (SELECT 1 FROM staged_keys s WHERE s.l_orderkey = t.l_orderkey)
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    """,
    doc="Delete+reload of child rows (M7/J5 — DELETE … WHERE order_id IN "
    "(SELECT DISTINCT order_id FROM staging) then INSERT, "
    "run_logs.txt:550-565): parent keys present in the staged batch have ALL "
    "their old children removed, then the staged children are appended. "
    "distinct → left_anti → unionByName.",
)
def delete_reload_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1997-01-01 00:00:00").cast("timestamp")
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    staged = li.filter(F.col("l_shipdate") >= cutoff)
    staged_keys = staged.select("l_orderkey").distinct()
    kept = (
        li.filter(F.col("l_shipdate") < cutoff)
        .join(staged_keys, "l_orderkey", "left_anti")
        .select(*cols)
    )
    return kept.unionByName(staged.select(*cols))


@register(
    "daily_event_snapshot",
    oracle="""
    SELECT CAST(ts AS DATE) AS snapshot_date, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY CAST(ts AS DATE), event_type
    """,
    doc="Daily snapshot keyed (entity, snapshot_date) — M5 "
    "(fact_inventory_snapshot_append, run_logs.txt:439-468) and the tumbling-"
    "window batch analog (SURVEY §2.10). At scale the target table is "
    "partitioned by snapshot_date and each run overwrites only today's "
    "partition (replaceWhere), never the full table.",
)
def daily_event_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("snapshot_date"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "watermark_max_ts",
    oracle="""
    SELECT event_type, MAX(ts) AS high_watermark, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Running-max watermark per entity (A1/A5 — max(updatedAt) during "
    "load, incremental_loaders.py:128-131; persisted high-water mark, "
    "daily_scheduler.py:64-83). Real TimestampType comparison replaces the "
    "reference's lexicographic string compare (SURVEY §1.2 trap).",
)
def watermark_max_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.max("ts").alias("high_watermark"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Grouping sets / pivot (free Spark surface noted in SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "rollup_returns",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets — not in the reference (SURVEY §2.5 notes it "
    "comes free from Spark); exposed for engine completeness. Single expand+"
    "aggregate, no extra shuffle per grouping set.",
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


@register(
    "event_type_pivot",
    oracle="""
    SELECT user_id,
           ROUND(SUM(CASE WHEN event_type = 'click'    THEN value ELSE 0 END), 2) AS click_value,
           ROUND(SUM(CASE WHEN event_type = 'view'     THEN value ELSE 0 END), 2) AS view_value,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase_value,
           ROUND(SUM(CASE WHEN event_type = 'signup'   THEN value ELSE 0 END), 2) AS signup_value,
           ROUND(SUM(CASE WHEN event_type = 'error'    THEN value ELSE 0 END), 2) AS error_value,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
    doc="Pivot-sum over a measure-name column (P5 — quantities[{name,"
    "quantity}] pivoted to 5 measure columns then summed, "
    "incremental_loaders.py:315-334). Conditional aggregation keeps it one "
    "hash-aggregate pass, no per-measure shuffle.",
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    aggs = [
        F.round(
            F.sum(F.when(F.col("event_type") == t, F.col("value")).otherwise(F.lit(0.0))), 2
        ).alias(f"{t}_value")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return ev.groupBy("user_id").agg(*aggs, F.count(F.lit(1)).alias("n_events"))


# ---------------------------------------------------------------------------
# Scalar function surface (SURVEY §2.4 F1-F10)
# ---------------------------------------------------------------------------


@register(
    "scalar_surface",
    oracle="""
    SELECT p_partkey,
           'P-' || regexp_extract('gid://shopify/Part/' || CAST(p_partkey AS VARCHAR),
                                  '([^/]+)$', 1)                    AS clean_id,
           UPPER(TRIM(p_name))                                      AS name_norm,
           REPLACE(p_brand, '#', '')                                AS brand_stripped,
           array_to_string(string_split(p_type, ' '), ',')          AS type_csv,
           CAST((p_size > 25) AS VARCHAR)                           AS is_large,
           COALESCE(TRY_CAST(p_type AS DOUBLE), 0.0)                AS safe_num,
           ROUND(p_retailprice, 2)                                  AS price_2dp
    FROM part
    WHERE p_name IS NOT NULL AND TRIM(p_name) <> ''
    """,
    doc="The reference's scalar layer in one projection (SURVEY §2.4): F1 "
    "clean_id GID→prefixed tail (incremental_loaders.py:63-65), F2 safe_val "
    "try-cast-with-default (:67-69), F4 array→CSV (:148), F5 '#' strip "
    "(:228), F6 bool→string (:147), F7 UPPER(TRIM()) SKU normalize "
    "(run_logs.txt:346), F9 empty-string filter (run_logs.txt:359). All "
    "JVM-side Column expressions — zero Python UDFs, full codegen.",
)
def scalar_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    gid = F.concat(F.lit("gid://shopify/Part/"), F.col("p_partkey").cast("string"))
    return (
        p.filter(F.col("p_name").isNotNull() & (F.trim("p_name") != ""))
        .select(
            "p_partkey",
            F.concat(F.lit("P-"), F.regexp_extract(gid, r"([^/]+)$", 1)).alias("clean_id"),
            F.upper(F.trim("p_name")).alias("name_norm"),
            F.regexp_replace("p_brand", "#", "").alias("brand_stripped"),
            F.concat_ws(",", F.split("p_type", " ")).alias("type_csv"),
            (F.col("p_size") > 25).cast("string").alias("is_large"),
            F.coalesce(F.expr("try_cast(p_type AS double)"), F.lit(0.0)).alias("safe_num"),
            F.round("p_retailprice", 2).alias("price_2dp"),
        )
    )


# ---------------------------------------------------------------------------
# Explode / nested-data surface (SURVEY §2.3 P3-P5)
# ---------------------------------------------------------------------------


@register(
    "token_explode_counts",
    oracle=r"""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    HAVING COUNT(*) >= 10
    """,
    doc="Array explode → re-aggregate (P3/P4 lineItems/variants explode, "
    "incremental_loaders.py:198-221,296-313, over a text token array). "
    "explode is a generator in the same codegen stage as the scan; only the "
    "grouped count shuffles.",
)
def token_explode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 10)
    )


# ---------------------------------------------------------------------------
# Sessionization (streaming-analog surface, SURVEY §2.10)
# ---------------------------------------------------------------------------


@register(
    "sessionize_events",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ), sess AS (
      SELECT user_id,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30-min inactivity) via lag + running sum "
    "— the same sessions Spark's session_window assigns "
    "(session_window_counts). Microsecond-"
    "exact gap math (unix_micros) on both sides; one shuffle on user_id "
    "shared by both window functions.",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(order))
    flagged = ev.withColumn(
        "new_sess",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("session_id", F.sum("new_sess").over(run))
    return sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events"))


# ---------------------------------------------------------------------------
# Extended relational surface — operators the reference lacks but Spark
# provides "for free" (SURVEY §2.5/§2.8 notes); exposed for engine
# completeness and oracle-checked like everything else.
# ---------------------------------------------------------------------------


@register(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets over two dimensions — all 4 grouping "
    "combinations in one expand+aggregate pass (no per-set re-scan).",
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "customer_intersect_years",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
    doc="INTERSECT (set semantics — implicit dedup): customers active in "
    "both 1995 and 1996. Not in the reference (SURVEY §2.8: no INTERSECT/"
    "EXCEPT); part of the complete set-op surface.",
)
def customer_intersect_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def year(y):
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y+1}-01-01 00:00:00").cast("timestamp"))
        ).select("o_custkey")

    return year(1995).intersect(year(1996))


@register(
    "customer_except_years",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
    doc="EXCEPT (set difference with dedup): 1995 customers who went "
    "silent in 1996. Complements the anti-join (row-preserving) variant.",
)
def customer_except_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def year(y):
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y+1}-01-01 00:00:00").cast("timestamp"))
        ).select("o_custkey")

    # subtract == EXCEPT (set semantics); exceptAll would be bag difference
    # and keep customers with merely MORE 1995 orders than 1996 ones.
    return year(1995).subtract(year(1996))


@register(
    "full_outer_nation_counts",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
               FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           COALESCE(n_suppliers, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
    doc="FULL OUTER join of two pre-aggregated sides with COALESCE'd "
    "keys — nations appear even when one side is empty. Completes the "
    "join-type surface (reference has inner + anti only).",
)
def full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    joined = cust.join(sup, cust.nk_c == sup.nk_s, "full_outer")
    return joined.select(
        F.coalesce("nk_c", "nk_s").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured JSON column extraction (get_json_object) + "
    "aggregate — the props payload stays an opaque string until queried, "
    "the standard pattern for evolving event properties at scale.",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


@register(
    "weekly_revenue",
    oracle="""
    SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY date_trunc('week', o_orderdate)
    """,
    doc="Calendar-week tumbling rollup via date_trunc (both engines are "
    "ISO/Monday-based) — the batch form of a weekly windowed aggregation.",
)
def weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    return (
        orders.groupBy(F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "price_quantiles_by_brand",
    oracle="""
    WITH g AS (
      SELECT p_brand, list_sort(list(l_extendedprice)) AS v
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
    )
    SELECT p_brand,
           v[CAST(floor((len(v)-1)*0.25) AS BIGINT)+1]
           + (v[CAST(ceil((len(v)-1)*0.25) AS BIGINT)+1]
              - v[CAST(floor((len(v)-1)*0.25) AS BIGINT)+1])
             * CAST((len(v)-1)*0.25 - floor((len(v)-1)*0.25) AS DOUBLE) AS p25,
           v[CAST(floor((len(v)-1)*0.50) AS BIGINT)+1]
           + (v[CAST(ceil((len(v)-1)*0.50) AS BIGINT)+1]
              - v[CAST(floor((len(v)-1)*0.50) AS BIGINT)+1])
             * CAST((len(v)-1)*0.50 - floor((len(v)-1)*0.50) AS DOUBLE) AS p50,
           v[CAST(floor((len(v)-1)*0.75) AS BIGINT)+1]
           + (v[CAST(ceil((len(v)-1)*0.75) AS BIGINT)+1]
              - v[CAST(floor((len(v)-1)*0.75) AS BIGINT)+1])
             * CAST((len(v)-1)*0.75 - floor((len(v)-1)*0.75) AS DOUBLE) AS p75
    FROM g
    """,
    doc="Exact interpolated percentiles per group. Both sides compute the "
    "interpolation `lo + (hi-lo)*frac` over an explicitly sorted value "
    "array so the IEEE arithmetic — and hence the output doubles — are "
    "bit-identical, UNROUNDED. (Engine-internal percentile routines "
    "interpolate in different FP order, and ROUND itself diverges at "
    "decimal half-way points: Spark rounds the decimal repr HALF_UP, "
    "DuckDB rounds the binary double.) Exact percentile inherently "
    "buffers the group; the 100 TB path is approx_percentile (see "
    "approx_event_stats).",
)
def price_quantiles_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    g = j.groupBy("p_brand").agg(
        F.sort_array(F.collect_list("l_extendedprice")).alias("v")
    )
    n1 = (F.size("v") - F.lit(1)).cast("double")

    def interp(p: float):
        pos = n1 * F.lit(p)
        lo = F.element_at("v", (F.floor(pos) + 1).cast("int"))
        hi = F.element_at("v", (F.ceil(pos) + 1).cast("int"))
        return lo + (hi - lo) * (pos - F.floor(pos))

    return g.select(
        "p_brand",
        interp(0.25).alias("p25"),
        interp(0.50).alias("p50"),
        interp(0.75).alias("p75"),
    )


@register(
    "first_last_event_per_user",
    oracle="""
    SELECT user_id,
           arg_min(event_type, ts) AS first_event,
           arg_max(event_type, ts) AS last_event,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
    doc="min_by/max_by (arg_min/arg_max): first and last event type per "
    "user in ONE aggregate pass — no self-join, no window sort.",
)
def first_last_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", "ts").alias("first_event"),
        F.max_by("event_type", "ts").alias("last_event"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "string_surface_extended",
    oracle="""
    SELECT c_custkey,
           substr(c_name, 1, 8)                    AS name_prefix,
           lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS nation_padded,
           strpos(c_name, '0')                     AS first_zero_pos,
           reverse(c_mktsegment)                   AS segment_rev,
           repeat('*', c_nationkey % 4)            AS stars,
           ascii(c_mktsegment)                     AS seg_ascii,
           levenshtein(c_mktsegment, 'BUILDING')   AS dist_building,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_translated
    FROM customer
    """,
    doc="Extended string-function surface (substr/lpad/instr/reverse/"
    "repeat/ascii/levenshtein/translate) — one codegen'd projection.",
)
def string_surface_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nation_padded"),
        F.instr(F.col("c_name"), "0").alias("first_zero_pos"),
        F.reverse("c_mktsegment").alias("segment_rev"),
        F.repeat(F.lit("*"), F.col("c_nationkey") % 4).alias("stars"),
        F.ascii("c_mktsegment").alias("seg_ascii"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("dist_building"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_translated"),
    )


@register(
    "approx_event_stats",
    # The sketches are approximate, but their ERROR BOUNDS are exact and
    # published — so the oracle-checkable output is (exact stats, bounds
    # flags): Spark computes the approx AND exact values and emits whether
    # each estimate sits inside its guarantee; the oracle recomputes the
    # exact stats and asserts the flags are literally TRUE. A broken
    # sketch (or a future Spark regression) hash-mismatches instead of
    # sailing through a rows-only check.
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n,
           TRUE AS users_within_3rsd,
           TRUE AS median_within_rank_bounds
    FROM events GROUP BY event_type
    """,
    doc="Approximate aggregates — the 100 TB versions of COUNT(DISTINCT) "
    "and percentiles: approx_count_distinct (HLL, default rsd 5%) and "
    "approx_percentile (rank error 1/accuracy, single pass, bounded "
    "memory vs exact sort-based percentile). Output carries the exact "
    "twins plus in-bounds flags (|HLL err| <= 3*rsd; approx median "
    "between exact p45/p55 — generous vs the 1e-4 rank guarantee) so "
    "the driver hash-compares the GUARANTEE. tests/test_catalog_extras.py "
    "additionally pins tolerances.",
)
def approx_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # The exact-distinct twin runs as its OWN aggregation and joins back
    # on the (few-row) group key: mixing count_distinct into the same agg
    # as the buffer-based percentiles forces Spark's Expand-based
    # distinct plan over every row — measured 5.3 s combined vs ≤0.8 s
    # for any piece alone at sf0.1. Two single-purpose passes + a
    # broadcast join of 5-row results run ~4x faster, and the distinct
    # side uses the scalable two-stage groupBy shape (no Expand).
    plain = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("approx_median"),
        F.percentile("value", F.array(F.lit(0.45), F.lit(0.55))).alias("ps"),
        F.count(F.lit(1)).alias("n"),
    )
    # NULL user_ids are excluded to match COUNT(DISTINCT) semantics (the
    # oracle's COUNT(DISTINCT) and approx_count_distinct both ignore
    # NULL; a bare groupBy would count it as one extra "user")
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.lit(1))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    # left join + coalesce: an event_type whose user_ids are ALL null
    # still gets a row (exact_users=0), matching the oracle's grouping
    agg = plain.join(F.broadcast(exact), "event_type", "left").withColumn(
        "exact_users", F.coalesce(F.col("exact_users"), F.lit(0))
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.col("exact_users") * (3 * 0.05)
        ).alias("users_within_3rsd"),
        (
            (F.col("approx_median") >= F.col("ps")[0])
            & (F.col("approx_median") <= F.col("ps")[1])
        ).alias("median_within_rank_bounds"),
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#4'
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    doc="Correlated scalar subquery (TPC-H Q17 shape): per-part average "
    "threshold applied back to the detail rows. Expressed as its "
    "decorrelated form — pre-aggregate thresholds, broadcast, join — the "
    "exact rewrite Catalyst performs on the subquery; at 100 TB the "
    "threshold side is |parts|, not |lineitem|.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    thresholds = (
        li.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((F.avg("l_quantity") * 0.2).alias("qty_threshold"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(thresholds), li.l_partkey == thresholds.t_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q18_large_volume_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 280)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
    doc="IN-subquery over an aggregate (TPC-H Q18 shape): orders whose "
    "total quantity exceeds a threshold, joined back to customers and "
    "re-aggregated. The IN becomes a left_semi against the pre-aggregated "
    "key set — the aggregate runs once, not per outer row.",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q")).filter(F.col("q") > 280)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so users can drive the
    engine through raw ``spark.sql`` — the SQL front door next to the
    DataFrame API (both compile to the same Catalyst plans)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


@register(
    "sql_interface_nation_stats",
    oracle="""
    WITH cust_orders AS (
      SELECT c_nationkey, o_totalprice
      FROM customer JOIN orders ON c_custkey = o_custkey
    )
    SELECT n_name,
           COUNT(*) AS n_orders,
           ROUND(AVG(o_totalprice), 2) AS avg_order_value
    FROM cust_orders JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="The SQL front door: this builder is pure ``spark.sql`` over "
    "registered temp views (CTE + joins + agg), proving the engine is "
    "drivable as SQL text, not only through the DataFrame API — both "
    "compile to identical Catalyst plans.",
)
def sql_interface_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH cust_orders AS (
          SELECT c_nationkey, o_totalprice
          FROM customer JOIN orders ON c_custkey = o_custkey
        )
        SELECT n_name,
               COUNT(*) AS n_orders,
               ROUND(AVG(o_totalprice), 2) AS avg_order_value
        FROM cust_orders JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@register(
    "current_inventory_analog",
    oracle="""
    WITH cleaned AS (
      SELECT UPPER(TRIM(l_returnflag || '-' || CAST(l_partkey AS VARCHAR))) AS sku,
             l_quantity, l_shipdate, l_suppkey, l_partkey, l_orderkey, l_linenumber,
             CASE WHEN l_linestatus = 'F' THEN 'retail' ELSE 'wholesale' END AS source_system
      FROM lineitem
      WHERE l_partkey IS NOT NULL
    ), deduped AS (
      SELECT * FROM (
        SELECT c.*, ROW_NUMBER() OVER (
          PARTITION BY source_system, sku
          ORDER BY l_shipdate DESC, l_suppkey DESC,
                   l_orderkey DESC, l_linenumber DESC) AS rn
        FROM cleaned c
      ) WHERE rn = 1
    ), joined AS (
      SELECT d.sku, ROUND(d.l_quantity, 2) AS qty, d.source_system
      FROM deduped d JOIN part p ON d.l_partkey = p.p_partkey
      WHERE p.p_size <= 40
    ), retail AS (SELECT * FROM joined WHERE source_system = 'retail'),
       wholesale AS (SELECT * FROM joined WHERE source_system = 'wholesale')
    SELECT * FROM retail
    UNION ALL
    SELECT * FROM wholesale w
    WHERE NOT EXISTS (SELECT 1 FROM retail r WHERE r.sku = w.sku)
    """,
    doc="The M4 fact_current_inventory pipeline composed end-to-end on "
    "testdata (reference run_logs.txt:335-401): SKU normalize (F7) + "
    "non-null filter (F9) → latest-per-key window dedup with pinned "
    "tie-break (W1) → dimension join with status filter (J1/J2) → "
    "retail-priority anti-join gap fill (J3/U2). Exercises "
    "operators/merge.py::latest_per_key + priority_fill under the "
    "driver's oracle gate, not just unit tests.",
)
def current_inventory_analog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import latest_per_key, priority_fill

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 40)
    cleaned = li.filter(F.col("l_partkey").isNotNull()).select(
        F.upper(
            F.trim(F.concat(F.col("l_returnflag"), F.lit("-"), F.col("l_partkey").cast("string")))
        ).alias("sku"),
        "l_quantity",
        "l_shipdate",
        "l_suppkey",
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linestatus") == "F", F.lit("retail"))
        .otherwise(F.lit("wholesale"))
        .alias("source_system"),
    )
    # (l_orderkey, l_linenumber) completes a TOTAL order — suppkey+
    # shipdate alone can tie, making the surviving quantity engine-dependent
    deduped = latest_per_key(
        cleaned, ["source_system", "sku"], "l_shipdate",
        ["l_suppkey", "l_orderkey", "l_linenumber"],
    )
    joined = deduped.join(F.broadcast(part), deduped.l_partkey == part.p_partkey).select(
        "sku", F.round("l_quantity", 2).alias("qty"), "source_system"
    )
    retail = joined.filter(F.col("source_system") == "retail")
    wholesale = joined.filter(F.col("source_system") == "wholesale")
    return priority_fill(retail, wholesale, "sku")


@register(
    "date_functions_surface",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)          AS order_year,
           CAST(month(o_orderdate) AS INT)         AS order_month,
           CAST(dayofweek(o_orderdate) AS INT) + 1 AS order_dow,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE)  AS due_date,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
           CAST(last_day(o_orderdate) AS DATE)     AS month_end,
           GREATEST(o_totalprice, 1000.0)          AS price_floor,
           CASE WHEN o_orderstatus = 'O' THEN 'open'
                WHEN o_orderstatus = 'F' THEN 'filled'
                ELSE 'partial' END                 AS status_label,
           NULLIF(o_orderpriority, '1-URGENT')     AS priority_or_null
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'
    """,
    doc="Date/time + conditional function surface (F8/F10 family widened): "
    "year/month/dayofweek, interval arithmetic, datediff, last_day, "
    "greatest, CASE, NULLIF — one codegen'd projection. DuckDB dayofweek "
    "is 0-based Sunday vs Spark's 1-based, hence the +1 in the oracle.",
)
def date_functions_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-01 00:00:00").cast("timestamp")
    )
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_y2k"
        ),
        F.last_day("o_orderdate").alias("month_end"),
        F.greatest("o_totalprice", F.lit(1000.0)).alias("price_floor"),
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "filled")
        .otherwise("partial")
        .alias("status_label"),
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("priority_or_null"),
    )


@register(
    "session_window_counts",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ), sess AS (
      SELECT user_id, ts,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Native session_window (30-min gap) — Spark's built-in session "
    "assignment in batch mode, oracle-checked against the lag+running-sum "
    "formulation (the two agree except at exactly-1800s gaps, absent by "
    "construction in µs-resolution data). In streaming the same operator "
    "runs with withWatermark for state eviction.",
)
def session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
