"""Salted-join equivalence."""

from pyspark.sql import functions as F

from shopify_etl_spark.operators.skew import salted_join


def test_salted_join_equals_plain_join(spark):
    # one hot key (90% of rows) + long tail
    skewed = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("attr"))
    plain = skewed.join(dim, "k").select("k", "payload", "attr")
    salted = salted_join(skewed, dim, "k").select("k", "payload", "attr")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join keeps unmatched skewed rows
    dim_partial = dim.filter(F.col("k") < 50)
    plain_l = skewed.join(dim_partial, "k", "left").select("k", "payload", "attr")
    salted_l = salted_join(skewed, dim_partial, "k", how="left").select("k", "payload", "attr")
    assert sorted(map(tuple, plain_l.collect(), )) == sorted(map(tuple, salted_l.collect()))
