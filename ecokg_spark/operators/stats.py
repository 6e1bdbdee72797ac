"""Graph statistics — the reference's merged-kg_stats.yaml shape (A3) and
its canonical query (count nodes by category, tests/test_query.py:33-36).

All single-pass hash aggregations. has_phenotype carries about half the
edge mass, and Spark's partial aggregation already folds a hot key
map-side, so no count here needs salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def count_by_predicate(edges: DataFrame) -> DataFrame:
    return edges.groupBy("predicate").agg(F.count(F.lit(1)).cast("long").alias("n"))


def count_by_category(nodes: DataFrame) -> DataFrame:
    """The reference's golden SPARQL query: SELECT (COUNT(?v2) AS ?v1) ?v0
    WHERE { ?v2 biolink:category ?v0 } GROUP BY ?v0."""
    return nodes.groupBy("category").agg(F.count(F.lit(1)).cast("long").alias("n"))


def count_by_spo(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(subject category, predicate, object category) facet counts — two
    joins against the node-category dim. No forced broadcast: the dim
    grows with the graph (41M nodes at 100x the reference scale would
    overflow a forced build side), so the strategy is left to the
    optimizer — AQE broadcasts when the dim is actually small and falls
    back to a shuffle join (with skew splitting) when it isn't."""
    s = nodes.select(F.col("id").alias("_sid"), F.col("category").alias("subject_category"))
    o = nodes.select(F.col("id").alias("_oid"), F.col("category").alias("object_category"))
    return (
        edges.join(s, F.col("subject") == F.col("_sid"))
        .join(o, F.col("object") == F.col("_oid"))
        .groupBy("subject_category", "predicate", "object_category")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# stats facets are human-readable YAML blocks keyed by schema-bounded enums
# (biolink categories / predicates — dozens of values). A column with more
# distinct values than this is not a facet; fail loudly instead of pulling
# an unbounded result onto the driver (SCALE.md).
MAX_FACETS = 100_000


def _rollup_counts(df: DataFrame, col: str,
                   max_facets: int = MAX_FACETS) -> tuple[int, dict]:
    """(total, {facet_value: count}) in ONE aggregation job: ROLLUP emits
    the per-value rows and the grand total from a single scan+shuffle
    (map-side partials cover both granularities), where separate count()
    + groupBy() jobs would scan the table twice. grouping_id
    distinguishes the total row from a genuine NULL facet value; NULLs
    map to '' (summed with any literal-'' rows) so keys stay strings.

    The collect is size-gated: limit(max_facets + 2) bounds what reaches
    the driver even when the column is high-cardinality, and overflow
    raises instead of silently truncating the stats artifact."""
    rows = (
        df.rollup(col)
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.grouping_id().alias("_g"))
        .limit(max_facets + 2)
        .collect()
    )
    if len(rows) > max_facets + 1:  # facet rows + the 1 grand-total row
        raise ValueError(
            f"column {col!r} has more than {max_facets} distinct values — "
            "not a facet column; use a distributed aggregate "
            "(count_by_predicate/count_by_category) instead")
    total = next(r["n"] for r in rows if r["_g"] == 1)
    facet: dict = {}
    for r in rows:
        if r["_g"] == 0:
            k = r[col] or ""
            facet[k] = facet.get(k, 0) + r["n"]
    return total, facet


def graph_summary(nodes: DataFrame, edges: DataFrame) -> dict:
    """Driver-side dict in merged-kg_stats.yaml spirit (totals + facets).
    Two rollup jobs (one per table) instead of four scans."""
    total_edges, by_pred = _rollup_counts(edges, "predicate")
    total_nodes, by_cat = _rollup_counts(nodes, "category")
    return {
        "total_nodes": total_nodes,
        "total_edges": total_edges,
        "count_by_predicate": by_pred,
        "count_by_category": by_cat,
    }


def write_stats_yaml(nodes: DataFrame, edges: DataFrame, path: str) -> dict:
    """Emit the reference merge phase's golden artifact shape
    (merged-kg_stats.yaml via KGX graph-stats operation, merge.yaml:59-65;
    facet shape merged-kg_stats.yaml:2-58 predicates / :479-508 categories /
    :476,:692 totals): `edge_stats.count_by_predicates`,
    `node_stats.count_by_category`, `total_edges`, `total_nodes`.
    Hand-rendered YAML (sorted keys, no external YAML lib needed)."""
    s = graph_summary(nodes, edges)

    def block(d: dict, key: str) -> list[str]:
        lines = [f"  {key}:"]
        for k in sorted(d):
            # bare curies (biolink:x) are valid plain YAML keys and match
            # the reference's merged-kg_stats.yaml shape; quote only keys
            # that would be malformed/ambiguous ('' or ': '-bearing)
            safe = k if k and ": " not in k and not k.startswith(("'", '"', " ")) else repr(k)
            lines.append(f"    {safe}:")
            lines.append(f"      count: {d[k]}")
        return lines

    lines = ["edge_stats:"]
    lines += block(s["count_by_predicate"], "count_by_predicates")
    lines.append(f"  total_edges: {s['total_edges']}")
    lines.append("graph_name: Merged Graph")
    lines.append("node_stats:")
    lines += block(s["count_by_category"], "count_by_category")
    lines.append(f"  total_nodes: {s['total_nodes']}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return s
