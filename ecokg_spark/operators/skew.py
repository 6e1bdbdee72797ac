"""Explicit skew handling: two-phase salted aggregation.

The corpus is head-heavy by construction (hot subject entity ~30% of
mentions; `biolink:has_phenotype` ~45-48% of edges — the reference graph's
real distribution, merged-kg_stats.yaml:23-24). AQE's skew-join splitting
covers joins; group-by hot keys need salting, which the north rule requires
explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_col(*key_cols: str, buckets: int = 16) -> Column:
    """Deterministic salt in [0, buckets): hash of the NON-key attributes is
    unavailable generically, so salt on a hash of the full row via
    monotonically varying xxhash64 over the key plus spark partition id —
    cheap and uniform enough to split a hot key across `buckets` reducers.

    WARNING: the spark_partition_id() component makes the CONTENTS of each
    salt bucket depend on the input's physical partitioning. That is
    correct for commutative re-aggregations (counts/sums are
    partition-invariant — salted_count below) but NOT for order- or
    membership-sensitive uses: do not salt first/collect_list/limit-style
    logic with this column, and do not persist it as a stable key."""
    return F.pmod(F.xxhash64(*key_cols, F.spark_partition_id()), F.lit(buckets))


def salted_count(df: DataFrame, group_cols: list[str], out_col: str = "n",
                 buckets: int = 16) -> DataFrame:
    """Two-phase count: partial count per (keys, salt) then final sum —
    the hot key's partial aggregation spreads across `buckets` tasks."""
    partial = (
        df.groupBy(*group_cols, salt_col(*group_cols, buckets=buckets).alias("_salt"))
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(*group_cols).agg(F.sum("_partial").cast("long").alias(out_col))
