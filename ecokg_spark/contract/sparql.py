"""SPARQL compiler certification rows (query.py surface): one row per SPARQL 1.1 feature family."""

from __future__ import annotations

from pyspark.sql import functions as F
from ecokg_spark.contract._shared import t


def q_sparql_sink_error(spark, sf):
    """S17 SPARQL-result sink (query.py sink_bindings): an OPTIONAL that
    binds ?m only for size-5 parts, written the TSV way — every binding a
    string, an unbound one the literal 'ERROR'."""
    from ecokg_spark.query import sink_bindings, sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sink_bindings(sparql_select(
        spark,
        "SELECT ?x ?cat ?m WHERE { ?x biolink:category ?cat . "
        'OPTIONAL { ?x biolink:has_size ?m . FILTER(?m = "SZ:5") } }',
        nodes, edges,
    ))


SQL_SPARQL_SINK_ERROR = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS cat,
       CASE WHEN p_size = 5 THEN 'SZ:5' ELSE 'ERROR' END AS m
FROM part
"""


def q_sparql_offset(spark, sf):
    """ORDER BY + LIMIT + OFFSET slice (SPARQL §15.4-15.5; OFFSET without
    ORDER BY is rejected as nondeterministic): page 3 of the size-ordered
    part listing, 20 rows per page."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?x ?m WHERE { ?x biolink:has_size ?m } "
        "ORDER BY ?m ?x LIMIT 20 OFFSET 40",
        nodes, edges,
    )


SQL_SPARQL_OFFSET = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x,
       'SZ:' || CAST(p_size AS VARCHAR) AS m
FROM part
ORDER BY m, x LIMIT 20 OFFSET 40
"""


def q_sparql_select(spark, sf):
    """EP3 SPARQL runner (eco_kg/query.py:7-36 re-expressed in-engine): the
    reference's golden query shape — SELECT (COUNT(?v2) AS ?v1) ?v0 WHERE
    { ?v2 biolink:category ?v0 } GROUP BY ?v0 — compiled to a Catalyst
    plan over a node table synthesized from part."""
    from ecokg_spark.query import sparql_select

    p = t(spark, sf, "part")
    nodes = p.select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("id"),
        F.col("p_brand").alias("category"),
    )
    edges = spark.createDataFrame(
        [], "subject string, predicate string, object string")
    return sparql_select(
        spark,
        "SELECT (COUNT(?v2) AS ?v1) ?v0 WHERE { ?v2 biolink:category ?v0 } GROUP BY ?v0",
        nodes, edges,
    )


SQL_SPARQL_SELECT = """
SELECT CAST(COUNT(*) AS BIGINT) AS v1, p_brand AS v0 FROM part GROUP BY p_brand
"""


def _kg_tables_from_part(spark, sf):
    """nodes(id, category) + edges(s,p,o) synthesized from part/supplier —
    shared input for the beyond-parity SPARQL contract rows."""
    p = t(spark, sf, "part")
    nodes = p.select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("id"),
        F.col("p_brand").alias("category"),
    )
    edges = p.select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("subject"),
        F.lit("biolink:has_size").alias("predicate"),
        F.concat(F.lit("SZ:"), F.col("p_size").cast("string")).alias("object"),
    )
    return nodes, edges


def q_sparql_filter(spark, sf):
    """SPARQL FILTER + conjunctive join (beyond-parity grammar, VERDICT r2
    #5): category pattern joined to an edge pattern, equality filter on the
    object variable and inequality on the category."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        'SELECT ?x ?cat WHERE { ?x biolink:category ?cat . '
        '?x biolink:has_size ?m . FILTER(?m = "SZ:5") '
        'FILTER(?cat != Brand#13) }',
        nodes, edges,
    )


SQL_SPARQL_FILTER = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS cat
FROM part
WHERE 'SZ:' || CAST(p_size AS VARCHAR) = 'SZ:5' AND p_brand != 'Brand#13'
"""


def q_sparql_distinct(spark, sf):
    """SPARQL SELECT DISTINCT projection (beyond-parity grammar)."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT DISTINCT ?cat ?m WHERE { ?x biolink:category ?cat . "
        "?x biolink:has_size ?m }",
        nodes, edges,
    )


SQL_SPARQL_DISTINCT = """
SELECT DISTINCT p_brand AS cat, 'SZ:' || CAST(p_size AS VARCHAR) AS m FROM part
"""


def q_sparql_optional(spark, sf):
    """SPARQL OPTIONAL -> LEFT OUTER join (beyond-parity grammar): only
    parts with p_size < 25 get a has_size edge, so the optional variable
    binds NULL for the rest."""
    from ecokg_spark.query import sparql_select

    p = t(spark, sf, "part")
    nodes = p.select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("id"),
        F.col("p_brand").alias("category"),
    )
    edges = p.where(F.col("p_size") < 25).select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("subject"),
        F.lit("biolink:has_size").alias("predicate"),
        F.concat(F.lit("SZ:"), F.col("p_size").cast("string")).alias("object"),
    )
    return sparql_select(
        spark,
        "SELECT ?x ?cat ?m WHERE { ?x biolink:category ?cat . "
        "OPTIONAL { ?x biolink:has_size ?m } }",
        nodes, edges,
    )


SQL_SPARQL_OPTIONAL = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS cat,
       CASE WHEN p_size < 25 THEN 'SZ:' || CAST(p_size AS VARCHAR) END AS m
FROM part
"""


def q_sparql_order_limit(spark, sf):
    """SPARQL ORDER BY DESC + LIMIT (beyond-parity grammar); the sort key
    is unique, so the limited set is deterministic and exactly
    SQL-recomputable."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?x ?cat WHERE { ?x biolink:category ?cat } "
        "ORDER BY DESC(?x) LIMIT 20",
        nodes, edges,
    )


SQL_SPARQL_ORDER_LIMIT = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS cat
FROM part ORDER BY x DESC LIMIT 20
"""


def q_sparql_union(spark, sf):
    """SPARQL UNION -> per-branch conjunctive joins + bag unionByName
    (beyond-parity grammar): category bindings unioned with size-edge
    bindings; ?x appears in both branches, ?v carries the branch value."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?x ?v WHERE { { ?x biolink:category ?v } UNION "
        "{ ?x biolink:has_size ?v } }",
        nodes, edges,
    )


SQL_SPARQL_UNION = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS v FROM part
UNION ALL
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x,
       'SZ:' || CAST(p_size AS VARCHAR) AS v FROM part
"""


def q_sparql_values(spark, sf):
    """SPARQL VALUES inline data on a pattern-bound variable -> IN-list
    filter (beyond-parity grammar)."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?x ?m WHERE { ?x biolink:has_size ?m . "
        "VALUES ?m { SZ:1 SZ:5 SZ:10 } }",
        nodes, edges,
    )


SQL_SPARQL_VALUES = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x,
       'SZ:' || CAST(p_size AS VARCHAR) AS m
FROM part
WHERE 'SZ:' || CAST(p_size AS VARCHAR) IN ('SZ:1', 'SZ:5', 'SZ:10')
"""


def _tree_edges_from_nation(spark, sf):
    """subclass_of edges forming a binary tree over nation (i -> i//2 for
    i>0, depth ~5 at 25 nodes) — shared input for the property-path rows."""
    n = t(spark, sf, "nation")
    return n.where(F.col("n_nationkey") > 0).select(
        F.concat(F.lit("N:"), F.col("n_nationkey").cast("string"))
        .alias("subject"),
        F.lit("biolink:subclass_of").alias("predicate"),
        F.concat(F.lit("N:"), F.floor(F.col("n_nationkey") / 2).cast("long")
                 .cast("string")).alias("object"),
    )


def q_sparql_path_seq(spark, sf):
    """SPARQL 1.1 sequence property path `p1/p2` -> edge-edge equi-join on
    the hidden midpoint (beyond-parity grammar; reference's triplestore
    would evaluate this server-side, eco_kg/query.py:7-36): grandparent
    pairs in the subclass tree."""
    from ecokg_spark.query import sparql_select

    edges = _tree_edges_from_nation(spark, sf)
    nodes = spark.createDataFrame([], "id string, category string")
    return sparql_select(
        spark,
        "SELECT ?x ?y WHERE { ?x biolink:subclass_of/biolink:subclass_of ?y }",
        nodes, edges,
    )


SQL_SPARQL_PATH_SEQ = """
SELECT 'N:' || CAST(a.n_nationkey AS VARCHAR) AS x,
       'N:' || CAST(b.n_nationkey // 2 AS VARCHAR) AS y
FROM nation a JOIN nation b ON a.n_nationkey // 2 = b.n_nationkey
WHERE a.n_nationkey > 0 AND b.n_nationkey > 0
"""


def q_sparql_path_plus(spark, sf):
    """SPARQL 1.1 OneOrMorePath `p+` -> semi-naive transitive closure
    (query.py _closure; duplicate-free node-pair semantics per spec §9.3):
    all ancestor pairs in the subclass tree. DuckDB recomputes with a
    recursive CTE — UNION (not UNION ALL) gives the same set semantics."""
    from ecokg_spark.query import sparql_select

    edges = _tree_edges_from_nation(spark, sf)
    nodes = spark.createDataFrame([], "id string, category string")
    return sparql_select(
        spark,
        "SELECT ?x ?y WHERE { ?x biolink:subclass_of+ ?y }",
        nodes, edges,
    )


SQL_SPARQL_PATH_PLUS = """
WITH RECURSIVE e AS (
  SELECT 'N:' || CAST(n_nationkey AS VARCHAR) AS s,
         'N:' || CAST(n_nationkey // 2 AS VARCHAR) AS o
  FROM nation WHERE n_nationkey > 0),
tc(x, y) AS (
  SELECT s, o FROM e
  UNION
  SELECT tc.x, e.o FROM tc JOIN e ON tc.y = e.s)
SELECT x, y FROM tc
"""


def q_sparql_path_star(spark, sf):
    """SPARQL 1.1 ZeroOrMorePath `p*`: transitive closure UNION the
    zero-length path, which binds every graph term to itself (spec §9.3);
    DuckDB recomputes as recursive CTE UNION identity-over-terms."""
    from ecokg_spark.query import sparql_select

    edges = _tree_edges_from_nation(spark, sf)
    nodes = spark.createDataFrame([], "id string, category string")
    return sparql_select(
        spark,
        "SELECT ?x ?y WHERE { ?x biolink:subclass_of* ?y }",
        nodes, edges,
    )


SQL_SPARQL_PATH_STAR = """
WITH RECURSIVE e AS (
  SELECT 'N:' || CAST(n_nationkey AS VARCHAR) AS s,
         'N:' || CAST(n_nationkey // 2 AS VARCHAR) AS o
  FROM nation WHERE n_nationkey > 0),
tc(x, y) AS (
  SELECT s, o FROM e
  UNION
  SELECT tc.x, e.o FROM tc JOIN e ON tc.y = e.s),
terms AS (SELECT s AS t FROM e UNION SELECT o FROM e)
SELECT x, y FROM tc UNION SELECT t, t FROM terms
"""


def q_sparql_path_inverse(spark, sf):
    """SPARQL 1.1 InversePath in a sequence: `p/^p` = nodes sharing a
    parent (siblings-or-self) in the subclass tree — the inverse step is
    a plan-time column swap (query.py _compile_path)."""
    from ecokg_spark.query import sparql_select

    edges = _tree_edges_from_nation(spark, sf)
    nodes = spark.createDataFrame([], "id string, category string")
    return sparql_select(
        spark,
        "SELECT ?x ?y WHERE { ?x biolink:subclass_of/^biolink:subclass_of ?y }",
        nodes, edges,
    )


SQL_SPARQL_PATH_INVERSE = """
SELECT 'N:' || CAST(a.n_nationkey AS VARCHAR) AS x,
       'N:' || CAST(b.n_nationkey AS VARCHAR) AS y
FROM nation a JOIN nation b ON a.n_nationkey // 2 = b.n_nationkey // 2
WHERE a.n_nationkey > 0 AND b.n_nationkey > 0
"""


def q_sparql_path_alt(spark, sf):
    """SPARQL 1.1 AlternativePath `(p1|p2)` -> bag union of the branch
    relations (query.py _compile_path): subclass tree edges UNION a second
    `related_to` predicate (i -> (i+3)%25) in one path step."""
    from ecokg_spark.query import sparql_select

    n = t(spark, sf, "nation")
    rel = n.select(
        F.concat(F.lit("N:"), F.col("n_nationkey").cast("string"))
        .alias("subject"),
        F.lit("biolink:related_to").alias("predicate"),
        F.concat(F.lit("N:"), ((F.col("n_nationkey") + 3) % 25)
                 .cast("string")).alias("object"),
    )
    edges = _tree_edges_from_nation(spark, sf).unionByName(rel)
    nodes = spark.createDataFrame([], "id string, category string")
    return sparql_select(
        spark,
        "SELECT ?x ?y WHERE { ?x (biolink:subclass_of|biolink:related_to) ?y }",
        nodes, edges,
    )


SQL_SPARQL_PATH_ALT = """
SELECT 'N:' || CAST(n_nationkey AS VARCHAR) AS x,
       'N:' || CAST(n_nationkey // 2 AS VARCHAR) AS y
FROM nation WHERE n_nationkey > 0
UNION ALL
SELECT 'N:' || CAST(n_nationkey AS VARCHAR),
       'N:' || CAST((n_nationkey + 3) % 25 AS VARCHAR)
FROM nation
"""


def q_sparql_not_exists(spark, sf):
    """SPARQL FILTER NOT EXISTS (negation, spec §8.1.1 — VERDICT r3 next
    #6): category-bound nodes with NO biolink:has_size SZ:5 edge; compiles
    to a LEFT ANTI join of the required solution against the inner group
    on the shared ?x."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?x ?cat WHERE { ?x biolink:category ?cat . "
        "FILTER NOT EXISTS { ?x biolink:has_size SZ:5 } }",
        nodes, edges,
    )


SQL_SPARQL_NOT_EXISTS = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS cat
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part e
  WHERE e.p_partkey = p.p_partkey
    AND 'SZ:' || CAST(e.p_size AS VARCHAR) = 'SZ:5'
)
"""


def q_sparql_agg(spark, sf):
    """SPARQL aggregates beyond COUNT (VERDICT r3 next #6):
    COUNT(DISTINCT ?x), MIN(?sz), MAX(?sz) grouped by category. MIN/MAX
    order RDF terms by codepoint string order on both engines (binary
    collation)."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT (COUNT(DISTINCT ?x) AS ?n) (MIN(?sz) AS ?lo) "
        "(MAX(?sz) AS ?hi) ?cat WHERE { ?x biolink:category ?cat . "
        "?x biolink:has_size ?sz } GROUP BY ?cat",
        nodes, edges,
    )


SQL_SPARQL_AGG = """
SELECT CAST(COUNT(DISTINCT 'P:' || CAST(p_partkey AS VARCHAR)) AS BIGINT) AS n,
       MIN('SZ:' || CAST(p_size AS VARCHAR)) AS lo,
       MAX('SZ:' || CAST(p_size AS VARCHAR)) AS hi,
       p_brand AS cat
FROM part GROUP BY p_brand
"""


def q_sparql_bind(spark, sf):
    """SPARQL BIND expressions (beyond-parity grammar, round 4): STRAFTER
    peels the CURIE prefix, nested CONCAT/LCASE builds a derived key; both
    new variables project like pattern-bound ones."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        'SELECT ?x ?szn ?lc WHERE { ?x biolink:has_size ?m . '
        'BIND(STRAFTER(?m, "SZ:") AS ?szn) '
        'BIND(LCASE(CONCAT(?x, "-", ?m)) AS ?lc) }',
        nodes, edges,
    )


SQL_SPARQL_BIND = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x,
       CAST(p_size AS VARCHAR) AS szn,
       lower('P:' || CAST(p_partkey AS VARCHAR) || '-' ||
             'SZ:' || CAST(p_size AS VARCHAR)) AS lc
FROM part
"""


def q_sparql_group_concat(spark, sf):
    """SPARQL GROUP_CONCAT aggregate with explicit separator (round 4):
    members per size bucket, values sorted for determinism (SPARQL leaves
    the order implementation-defined; the oracle recomputes with
    string_agg ORDER BY)."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        'SELECT (GROUP_CONCAT(?x; SEPARATOR="|") AS ?members) '
        "(COUNT(?x) AS ?n) ?m WHERE { ?x biolink:has_size ?m } GROUP BY ?m",
        nodes, edges,
    )


SQL_SPARQL_GROUP_CONCAT = """
SELECT string_agg('P:' || CAST(p_partkey AS VARCHAR), '|'
                  ORDER BY 'P:' || CAST(p_partkey AS VARCHAR)) AS members,
       CAST(COUNT(*) AS BIGINT) AS n,
       'SZ:' || CAST(p_size AS VARCHAR) AS m
FROM part GROUP BY p_size
"""


def q_sparql_group_expr(spark, sf):
    """SPARQL GROUP BY on an EXPRESSION key with a fresh alias (spec §10,
    round 5): the compiler desugars (SUBSTR(?cat, 7, 1) AS ?g) to an
    implicit BIND evaluated over the joined solution, then groups on the
    alias — node counts per brand-digit bucket."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT (COUNT(?x) AS ?n) ?g WHERE { ?x biolink:category ?cat } "
        "GROUP BY (SUBSTR(?cat, 7, 1) AS ?g)",
        nodes, edges,
    )


SQL_SPARQL_GROUP_EXPR = """
SELECT CAST(COUNT(*) AS BIGINT) AS n, substr(p_brand, 7, 1) AS g
FROM part GROUP BY 2
"""


def q_sparql_order_multi(spark, sf):
    """SPARQL ORDER BY with two keys and mixed ASC/DESC directions
    (round 5): DESC(?m) then the plain (ASC) ?x tie-break, LIMIT 30 —
    deterministic because (?m, ?x) is unique; both engines compare the
    string-typed RDF terms by codepoint."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?x ?m WHERE { ?x biolink:has_size ?m } "
        "ORDER BY DESC(?m) ?x LIMIT 30",
        nodes, edges,
    )


SQL_SPARQL_ORDER_MULTI = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x,
       'SZ:' || CAST(p_size AS VARCHAR) AS m
FROM part ORDER BY m DESC, x ASC LIMIT 30
"""


def q_sparql_optional_filter(spark, sf):
    """FILTER inside OPTIONAL compiles with LeftJoin-condition scoping
    (spec §6.1): a part whose has_size edge fails the inner filter keeps
    its row with ?m NULL — moving the filter outside would drop it. Only
    parts with p_size < 25 have edges (same fixture as sparql_optional);
    the inner filter keeps sizes 10-19 only."""
    from ecokg_spark.query import sparql_select

    p = t(spark, sf, "part")
    nodes = p.select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("id"),
        F.col("p_brand").alias("category"),
    )
    edges = p.where(F.col("p_size") < 25).select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("subject"),
        F.lit("biolink:has_size").alias("predicate"),
        F.concat(F.lit("SZ:"), F.col("p_size").cast("string")).alias("object"),
    )
    return sparql_select(
        spark,
        "SELECT ?x ?cat ?m WHERE { ?x biolink:category ?cat . "
        'OPTIONAL { ?x biolink:has_size ?m . FILTER regex(?m, "^SZ:1[0-9]$") } }',
        nodes, edges,
    )


SQL_SPARQL_OPTIONAL_FILTER = """
SELECT 'P:' || CAST(p.p_partkey AS VARCHAR) AS x, p.p_brand AS cat, e.m
FROM part p
LEFT JOIN (
  SELECT p_partkey, 'SZ:' || CAST(p_size AS VARCHAR) AS m
  FROM part WHERE p_size < 25
    AND regexp_matches('SZ:' || CAST(p_size AS VARCHAR), '^SZ:1[0-9]$')
) e ON e.p_partkey = p.p_partkey
"""


def _kg_tables_part_sized(spark, sf):
    """nodes(id, category) from part + has_size edges ONLY for p_size < 25
    — the partial-edge fixture the negation/optional rows share (a row
    with no edge is what distinguishes EXISTS / MINUS / OPTIONAL)."""
    p = t(spark, sf, "part")
    nodes = p.select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("id"),
        F.col("p_brand").alias("category"),
    )
    edges = p.where(F.col("p_size") < 25).select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("subject"),
        F.lit("biolink:has_size").alias("predicate"),
        F.concat(F.lit("SZ:"), F.col("p_size").cast("string")).alias("object"),
    )
    return nodes, edges


def q_sparql_exists(spark, sf):
    """FILTER EXISTS (SPARQL 1.1 §8.1.1, round 4): keep solutions that DO
    have a compatible inner solution — a LEFT SEMI join on the shared
    variable. Only parts with p_size < 25 have a has_size edge."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_part_sized(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?x ?cat WHERE { ?x biolink:category ?cat . "
        "FILTER EXISTS { ?x biolink:has_size ?m } }",
        nodes, edges,
    )


SQL_SPARQL_EXISTS = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS cat
FROM part WHERE p_size < 25
"""


def q_sparql_minus(spark, sf):
    """MINUS (SPARQL 1.1 §8.3, round 4): remove solutions with a
    compatible overlapping inner solution — LEFT ANTI on the shared
    variable. Survivors are exactly the parts WITHOUT a has_size edge
    (p_size >= 25); the disjoint-domain no-op case is pytest-covered."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_part_sized(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?x ?cat WHERE { ?x biolink:category ?cat . "
        "MINUS { ?x biolink:has_size ?m } }",
        nodes, edges,
    )


SQL_SPARQL_MINUS = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS cat
FROM part WHERE p_size >= 25
"""


def q_sparql_sum_avg(spark, sf):
    """SUM/AVG aggregates (round 4) over a BIND-derived numeric lexical
    form: STRAFTER peels the SZ: prefix, SUM/AVG cast it to double. The
    addends are small integers (exact in fp at any accumulation order) so
    the cross-engine hash needs no rounding."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT (SUM(?n) AS ?tot) (AVG(?n) AS ?mean) ?cat WHERE "
        "{ ?x biolink:category ?cat . ?x biolink:has_size ?m . "
        'BIND(STRAFTER(?m, "SZ:") AS ?n) } GROUP BY ?cat',
        nodes, edges,
    )


SQL_SPARQL_SUM_AVG = """
SELECT CAST(SUM(p_size) AS DOUBLE) AS tot,
       AVG(CAST(p_size AS DOUBLE)) AS mean,
       p_brand AS cat
FROM part GROUP BY p_brand
"""


def q_sparql_having(spark, sf):
    """HAVING over an aggregate NOT in the SELECT list (round 4): the
    COUNT computes as a hidden column, filters the groups, and is dropped
    — spec §11.1 evaluation order (group -> aggregate -> having ->
    project)."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_part_sized(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?cat WHERE { ?x biolink:category ?cat . "
        "?x biolink:has_size ?m } GROUP BY ?cat HAVING(COUNT(?x) >= 2)",
        nodes, edges,
    )


SQL_SPARQL_HAVING = """
SELECT p_brand AS cat FROM part WHERE p_size < 25
GROUP BY p_brand HAVING COUNT(*) >= 2
"""


def q_sparql_ask(spark, sf):
    """ASK (round 4): single boolean row — does any part have size 5?
    Evaluated as limit(1) + count (LocalLimit short-circuit; the scan
    stops at the first match at any scale)."""
    from ecokg_spark.query import sparql_ask

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_ask(
        spark, 'ASK { ?x biolink:has_size "SZ:5" }', nodes, edges)


SQL_SPARQL_ASK = """
SELECT EXISTS(SELECT 1 FROM part WHERE p_size = 5) AS ask
"""


def q_sparql_construct(spark, sf):
    """CONSTRUCT (round 4): two-triple template over an OPTIONAL body —
    the has_size triple instantiates only where the edge exists (NULL
    instantiations dropped per spec §16.2), the brand triple always; the
    result is the distinct triple SET."""
    from ecokg_spark.query import sparql_construct

    nodes, edges = _kg_tables_part_sized(spark, sf)
    return sparql_construct(
        spark,
        "CONSTRUCT { ?x ex:size_class ?m . ?x ex:brand ?cat } "
        "WHERE { ?x biolink:category ?cat . "
        "OPTIONAL { ?x biolink:has_size ?m } }",
        nodes, edges,
    )


SQL_SPARQL_CONSTRUCT = """
SELECT DISTINCT * FROM (
  SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS subject,
         'ex:size_class' AS predicate,
         'SZ:' || CAST(p_size AS VARCHAR) AS object
  FROM part WHERE p_size < 25
  UNION ALL
  SELECT 'P:' || CAST(p_partkey AS VARCHAR), 'ex:brand', p_brand FROM part
)
"""


def q_sparql_count_star(spark, sf):
    """COUNT(*) vs COUNT(?var) (spec §11.4.3.1): over an OPTIONAL join,
    COUNT(*) counts every solution while COUNT(?m) skips the
    OPTIONAL-miss NULLs — the two columns differ exactly where p_size >=
    25 rows exist in a brand."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_part_sized(spark, sf)
    return sparql_select(
        spark,
        "SELECT (COUNT(*) AS ?n) (COUNT(?m) AS ?nm) ?cat WHERE "
        "{ ?x biolink:category ?cat . "
        "OPTIONAL { ?x biolink:has_size ?m } } GROUP BY ?cat",
        nodes, edges,
    )


SQL_SPARQL_COUNT_STAR = """
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(e.m) AS BIGINT) AS nm,
       p.p_brand AS cat
FROM part p
LEFT JOIN (SELECT p_partkey, 'SZ:' || CAST(p_size AS VARCHAR) AS m
           FROM part WHERE p_size < 25) e
  ON e.p_partkey = p.p_partkey
GROUP BY p.p_brand
"""


def q_sparql_filter_cmp(spark, sf):
    """Ordering FILTER comparisons (round 4): numeric when the literal is
    numeric — BIND peels the size digits, FILTER(?szn >= 25) keeps sizes
    25-50; codepoint order would also keep '3'..'9' (3 > 2), so the row
    only matches under true numeric semantics."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?x ?szn WHERE { ?x biolink:has_size ?m . "
        'BIND(STRAFTER(?m, "SZ:") AS ?szn) FILTER(?szn >= 25) }',
        nodes, edges,
    )


SQL_SPARQL_FILTER_CMP = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x,
       CAST(p_size AS VARCHAR) AS szn
FROM part WHERE p_size >= 25
"""


def q_sparql_regex(spark, sf):
    """SPARQL FILTER regex() (round 4): RE2-safe pattern with the "i"
    flag compiled to rlike."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        'SELECT ?x ?cat WHERE { ?x biolink:category ?cat . '
        'FILTER regex(?cat, "^brand#1[0-9]$", "i") }',
        nodes, edges,
    )


SQL_SPARQL_REGEX = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS cat
FROM part
WHERE regexp_matches(p_brand, '(?i)^brand#1[0-9]$')
"""


def q_sparql_neg_path(spark, sf):
    """SPARQL 1.1 NegatedPropertySet `!(p1|p2)` (spec §9.1, forward-only
    subset; query.py _compile_path): edges whose predicate is NOT in the
    set — here everything but related_to, leaving the subclass tree."""
    from ecokg_spark.query import sparql_select

    n = t(spark, sf, "nation")
    rel = n.select(
        F.concat(F.lit("N:"), F.col("n_nationkey").cast("string"))
        .alias("subject"),
        F.lit("biolink:related_to").alias("predicate"),
        F.concat(F.lit("N:"), ((F.col("n_nationkey") + 3) % 25)
                 .cast("string")).alias("object"),
    )
    edges = _tree_edges_from_nation(spark, sf).unionByName(rel)
    nodes = spark.createDataFrame([], "id string, category string")
    return sparql_select(
        spark,
        "SELECT ?x ?y WHERE "
        "{ ?x !(biolink:related_to|biolink:nonexistent) ?y }",
        nodes, edges,
    )


SQL_SPARQL_NEG_PATH = """
SELECT 'N:' || CAST(n_nationkey AS VARCHAR) AS x,
       'N:' || CAST(n_nationkey // 2 AS VARCHAR) AS y
FROM nation WHERE n_nationkey > 0
"""


def q_sparql_subquery(spark, sf):
    """SPARQL 1.1 subquery (spec §12; query.py _extract_subqueries +
    recursive _select_impl): per-size edge counts computed in a nested
    SELECT/GROUP BY, joined back to the outer pattern on the shared
    ?sz variable."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?x ?sz ?n WHERE { ?x biolink:has_size ?sz . "
        "{ SELECT (COUNT(?s) AS ?n) ?sz "
        "WHERE { ?s biolink:has_size ?sz } GROUP BY ?sz } }",
        nodes, edges,
    )


SQL_SPARQL_SUBQUERY = """
WITH sz AS (SELECT p_size, CAST(COUNT(*) AS BIGINT) AS n
            FROM part GROUP BY p_size)
SELECT 'P:' || CAST(p.p_partkey AS VARCHAR) AS x,
       'SZ:' || CAST(p.p_size AS VARCHAR) AS sz,
       sz.n
FROM part p JOIN sz USING (p_size)
"""


def q_sparql_values_multi(spark, sf):
    """Multi-variable VALUES inline solution table (query.py
    _VALUES_MULTI_RE): joined on both listed variables as a disjunction
    of per-row conjunctions."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?x ?cat ?m WHERE { ?x biolink:category ?cat . "
        "?x biolink:has_size ?m . "
        "VALUES ( ?cat ?m ) { (Brand#1 SZ:2) (Brand#10 SZ:3) "
        "(Brand#34 SZ:999) } }",
        nodes, edges,
    )


SQL_SPARQL_VALUES_MULTI = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS cat,
       'SZ:' || CAST(p_size AS VARCHAR) AS m
FROM part
WHERE (p_brand = 'Brand#1' AND p_size = 2)
   OR (p_brand = 'Brand#10' AND p_size = 3)
   OR (p_brand = 'Brand#34' AND p_size = 999)
"""


def q_sparql_sample(spark, sf):
    """SPARQL SAMPLE aggregate (spec §11.4.9, implementation-defined
    value made deterministic as MIN) alongside COUNT in one GROUP BY."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        "SELECT ?cat (SAMPLE(?m) AS ?sz) (COUNT(?x) AS ?n) WHERE { "
        "?x biolink:category ?cat . ?x biolink:has_size ?m } "
        "GROUP BY ?cat",
        nodes, edges,
    )


SQL_SPARQL_SAMPLE = """
SELECT p_brand AS cat,
       MIN('SZ:' || CAST(p_size AS VARCHAR)) AS sz,
       CAST(COUNT(*) AS BIGINT) AS n
FROM part GROUP BY p_brand
"""


def q_sparql_strfuncs(spark, sf):
    """SPARQL §17.4.3 string-test FILTERs (query.py): STRSTARTS on the
    category variable + STRENDS on the subject, compiled to pushable
    startswith/endswith predicates."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        'SELECT ?x ?c WHERE { ?x biolink:category ?c . '
        'FILTER( STRSTARTS(?c, "Brand#1") ) . '
        'FILTER( STRENDS(?x, "3") ) }',
        nodes, edges,
    )


SQL_SPARQL_STRFUNCS = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS c
FROM part
WHERE p_brand LIKE 'Brand#1%'
  AND ('P:' || CAST(p_partkey AS VARCHAR)) LIKE '%3'
"""


def q_sparql_in(spark, sf):
    """SPARQL §17.4.1.9/.10 IN / NOT IN FILTERs (query.py) over a
    conjunctive join: size whitelist + brand blacklist in one body."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        'SELECT ?x ?c ?m WHERE { ?x biolink:category ?c . '
        '?x biolink:has_size ?m . '
        'FILTER( ?m IN ("SZ:1", "SZ:5", "SZ:9") ) . '
        'FILTER( ?c NOT IN ("Brand#11", "Brand#23") ) }',
        nodes, edges,
    )


SQL_SPARQL_IN = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS c,
       'SZ:' || CAST(p_size AS VARCHAR) AS m
FROM part
WHERE 'SZ:' || CAST(p_size AS VARCHAR) IN ('SZ:1', 'SZ:5', 'SZ:9')
  AND p_brand NOT IN ('Brand#11', 'Brand#23')
"""


def q_sparql_describe(spark, sf):
    """SPARQL DESCRIBE form (query.py sparql_describe, the symmetric
    1-hop CBD over the two-table graph): describe every part with
    size 5 — its has_size edges plus its category triple."""
    from ecokg_spark.query import sparql_describe

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_describe(
        spark, "DESCRIBE ?x WHERE { ?x biolink:has_size SZ:5 }",
        nodes, edges)


SQL_SPARQL_DESCRIBE = """
SELECT DISTINCT 'P:' || p_partkey AS subject,
       'biolink:has_size' AS predicate,
       'SZ:' || p_size AS object
FROM part WHERE p_size = 5
UNION
SELECT DISTINCT 'P:' || p_partkey, 'biolink:category', p_brand
FROM part WHERE p_size = 5
"""


def q_sparql_bind_if(spark, sf):
    """SPARQL §17.4.1 functional forms in BIND (query.py): IF over a
    BOUND() condition and COALESCE, exercised across an OPTIONAL miss
    (has_size edges exist only for p_size < 10)."""
    from ecokg_spark.query import sparql_select

    p = t(spark, sf, "part")
    nodes = p.select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("id"),
        F.col("p_brand").alias("category"))
    edges = p.where(F.col("p_size") < 10).select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("subject"),
        F.lit("biolink:has_size").alias("predicate"),
        F.concat(F.lit("SZ:"), F.col("p_size")).alias("object"))
    return sparql_select(
        spark,
        'SELECT ?x ?c ?m ?sized ?v WHERE { ?x biolink:category ?c . '
        'OPTIONAL { ?x biolink:has_size ?m } . '
        'BIND( IF(BOUND(?m), "sized", "unsized") AS ?sized ) . '
        'BIND( COALESCE(?m, "none") AS ?v ) }',
        nodes, edges)


SQL_SPARQL_BIND_IF = """
SELECT 'P:' || p_partkey AS x, p_brand AS c,
       CASE WHEN p_size < 10 THEN 'SZ:' || p_size END AS m,
       CASE WHEN p_size < 10 THEN 'sized' ELSE 'unsized' END AS sized,
       CASE WHEN p_size < 10 THEN 'SZ:' || p_size ELSE 'none' END AS v
FROM part
"""


def q_sparql_values_undef(spark, sf):
    """VALUES with UNDEF wildcards (spec §10.2.2 partial bindings): one
    row pins only the brand, the other only the size — compiled as a
    disjunction whose UNDEF conjuncts are skipped."""
    from ecokg_spark.query import sparql_select

    nodes, edges = _kg_tables_from_part(spark, sf)
    return sparql_select(
        spark,
        'SELECT ?x ?c ?m WHERE { ?x biolink:category ?c . '
        '?x biolink:has_size ?m . '
        'VALUES ( ?c ?m ) { ( "Brand#13" UNDEF ) ( UNDEF "SZ:5" ) } }',
        nodes, edges)


SQL_SPARQL_VALUES_UNDEF = """
SELECT 'P:' || CAST(p_partkey AS VARCHAR) AS x, p_brand AS c,
       'SZ:' || CAST(p_size AS VARCHAR) AS m
FROM part
WHERE p_brand = 'Brand#13' OR p_size = 5
"""
