"""Explicit skew handling (north_rule: "partitioning / shuffle / skew
handled explicitly").

Sketch builds don't need salting — the partition-local partial
aggregation collapses any key skew before the shuffle (operators/
sketch.py). These helpers cover the operations that DO row-shuffle on a
skewed key: exact distinct counts, and size-balanced repartitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_exact_distinct(
    df: DataFrame, keys: list[str], col: str, salt_buckets: int = 16, out: str = "exact_distinct"
) -> DataFrame:
    """Exact COUNT(DISTINCT col) GROUP BY keys, two-stage with a salt
    derived from the *counted value* (disjoint value sets per salt ⇒
    partial distinct counts sum exactly):

        stage 1: groupBy(keys, hash(col) % B) → count_distinct
        stage 2: groupBy(keys) → sum

    One hot key becomes B parallel partial aggregations instead of one
    straggler reducer. Same result as plain countDistinct, skew-proof.
    """
    salt = F.pmod(F.hash(F.col(col)), F.lit(salt_buckets)).alias("__salt")
    stage1 = (
        df.filter(F.col(col).isNotNull())
        .groupBy(*keys, salt)
        .agg(F.countDistinct(col).alias("__partial"))
    )
    return stage1.groupBy(*keys).agg(F.sum("__partial").cast("long").alias(out))


def rebalance(df: DataFrame, n: int) -> DataFrame:
    """``df`` in at most ``n`` partitions, merged by size when AQE is on
    (``hint("rebalance", n)``). Spark drops the REBALANCE hint when AQE
    is off ("Unrecognized hint"), so that case takes ``repartition(n)``."""
    if df.sparkSession.conf.get("spark.sql.adaptive.enabled").lower() == "true":
        return df.hint("rebalance", n)
    return df.repartition(n)

