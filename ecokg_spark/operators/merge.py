"""KGX merge: n-way union + id-merge + dedup (reference EP2 re-expressed).

The reference funnels every per-source nodes/edges TSV into one in-driver
networkx MultiDiGraph (merge_utils/merge_kg.py:22-32, sources merge.yaml:10-58)
— the central scalability wall. Here the merge is relational and fully
distributed:

  nodes: unionByName(allowMissingColumns=True) across heterogeneous
         per-source schemas (§1.3 dynamic headers) -> groupBy(id) with
         first-non-null per property + '|'-joined sorted provenance set;
  edges: union -> groupBy(subject, predicate, object) property-merge
         (the reference's A1 seen_edge dedup gate, eol_traits.py:45-46).

First-occurrence semantics: the reference keeps the first row in file order;
a distributed merge has no file order, so property pick is min() — still
deterministic, and golden comparisons are order-insensitive (SURVEY.md §7
hard-part 1).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def merge_nodes(node_dfs: list[DataFrame]) -> DataFrame:
    """Union per-source node tables and merge rows sharing `id`."""
    u = _union_all(node_dfs)
    props = [c for c in u.columns if c not in ("id", "provided_by")]
    aggs = [F.min(c).alias(c) for c in props]
    if "provided_by" in u.columns:
        aggs.append(
            F.array_join(F.sort_array(F.collect_set("provided_by")), "|").alias("provided_by")
        )
    return u.groupBy("id").agg(*aggs)


def merge_edges(edge_dfs: list[DataFrame]) -> DataFrame:
    """Union per-source edge tables, merge rows sharing (s, p, o)."""
    u = _union_all(edge_dfs)
    keys = ["subject", "predicate", "object"]
    props = [c for c in u.columns if c not in keys + ["provided_by"]]
    aggs = [F.min(c).alias(c) for c in props]
    if "provided_by" in u.columns:
        aggs.append(
            F.array_join(F.sort_array(F.collect_set("provided_by")), "|").alias("provided_by")
        )
    return u.groupBy(*keys).agg(*aggs)


def dedup_min(df: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic dedup without an order column: keep the lexicographic
    minimum of the non-key columns per key (one hash aggregate, skew-immune
    via partial agg). Use instead of dropDuplicates(keys) wherever rows
    sharing a key can differ in other columns — dropDuplicates keeps an
    arbitrary row, so output would vary across runs/partitionings (ADVICE
    r1; the reference's seen_* gates are deterministic first-in-file-order,
    which has no distributed equivalent without an order key)."""
    others = [c for c in df.columns if c not in keys]
    packed = df.groupBy(*keys).agg(F.min(F.struct(*others)).alias("_m"))
    return packed.select(*keys, *[F.col(f"_m.{c}").alias(c) for c in others]) \
        .select(*df.columns)


def dedup_first_wins(df: DataFrame, keys: list[str],
                     order_col: str | Column) -> DataFrame:
    """Reference first-occurrence dedup (A2, eol_traits.py:250-267): keep the
    row with the smallest `order_col` per key — the distributed equivalent of
    'first row in file order'. A struct orders lexicographically, so
    F.struct(a, b) breaks ties on a by b."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def diff_graphs(
    old: DataFrame,
    new: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """KG snapshot diff: which (key) rows appeared and which disappeared
    between two graph versions — the release-over-release audit every
    periodically-rebuilt KG (and crawl-refreshed corpus) publishes.

    Two LEFT ANTI joins on the key columns, unioned with a `change`
    marker ('added' rows come from `new`, 'removed' from `old`).
    Duplicate keys within one side collapse (set semantics — a diff is
    about membership). At scale each anti-join is one shuffle on the key
    columns."""
    keys = keys or ["subject", "predicate", "object"]
    o = old.select(*keys).distinct()
    n = new.select(*keys).distinct()
    added = n.join(o, keys, "left_anti").select(
        F.lit("added").alias("change"), *keys)
    removed = o.join(n, keys, "left_anti").select(
        F.lit("removed").alias("change"), *keys)
    return added.unionByName(removed)
