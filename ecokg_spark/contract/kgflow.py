"""Reference-parity KG rows: EOL/GAF/GEA/ontology transforms, KGX merge, linking, extraction, curation chains, the KG pipeline."""

from __future__ import annotations

from ecokg_spark.functions.curie import curie_prefix, make_curie
from ecokg_spark.operators.extract import extract_text_udf
from ecokg_spark.operators.linking import build_termlist, link_mentions
from ecokg_spark.operators.merge import (dedup_first_wins, merge_edges,
                                         merge_nodes)
from ecokg_spark.operators.stats import (count_by_category, count_by_predicate,
                                         count_by_spo, graph_summary)
from ecokg_spark.operators.triples import extract_triple_udf
from ecokg_spark.pipeline import apply_resolution, build_kg, quarantine_of
from ecokg_spark.sources.pages import synth_pages
from pyspark.sql import functions as F
from ecokg_spark.contract._shared import (
    _HEX15,
    _LOWTOK_SQL,
    _NORM_SQL,
    _PUNCT_SQL,
    _SHINGLE_SQL,
    _SQL_REG_DOMAIN,
    _SQL_URL_PARTS,
    _SYNTH_URL_RICH_SQL,
    _TOKCNT_SQL,
    _marker_sql,
    _synth_url_rich,
    t,
)


def q_count_by_category(spark, sf):
    """EP3 golden query shape (operators/stats.py count_by_category): count
    rows by category, with the document language as the category."""
    d = t(spark, sf, "documents")
    return count_by_category(d.select(F.col("lang").alias("category")))


SQL_COUNT_BY_CATEGORY = """
SELECT lang AS category, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
"""


def q_semi_join(spark, sf):
    """J5: left-semi join (orders whose customer is in a segment)."""
    o, c = t(spark, sf, "orders"), t(spark, sf, "customer")
    seg = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        o.join(seg, o["o_custkey"] == seg["c_custkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


SQL_SEMI_JOIN = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders
WHERE EXISTS (SELECT 1 FROM customer
              WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
GROUP BY o_orderpriority
"""


def q_anti_join(spark, sf):
    """Quarantine shape (pipeline.apply_resolution + quarantine_of): order
    triples mention their customer as subject and the next customer key as
    object; the resolution table holds the BUILDING segment's customers, so
    a mention of any other customer is quarantined in its role."""
    o, c = t(spark, sf, "orders"), t(spark, sf, "customer")
    triples = o.select(
        F.col("o_orderkey").cast("string").alias("url"),
        F.lit(0).alias("sent_id"),
        F.col("o_custkey").cast("string").alias("subj_mention"),
        (F.col("o_custkey") + 1).cast("string").alias("obj_mention"),
    )
    res = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").cast("string").alias("mention"),
        make_curie("C", "c_custkey").alias("curie"),
        F.lit("exact").alias("match_kind"),
    )
    return quarantine_of(apply_resolution(triples, res))


SQL_ANTI_JOIN = """
WITH tr AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS url, 0 AS sent_id,
         CAST(o_custkey AS VARCHAR) AS subj_mention,
         CAST(o_custkey + 1 AS VARCHAR) AS obj_mention
  FROM orders
), res AS (
  SELECT CAST(c_custkey AS VARCHAR) AS mention FROM customer
  WHERE c_mktsegment = 'BUILDING'
)
SELECT url, sent_id, subj_mention AS mention, 'subject' AS role FROM tr
WHERE NOT EXISTS (SELECT 1 FROM res WHERE res.mention = tr.subj_mention)
UNION ALL
SELECT url, sent_id, obj_mention AS mention, 'object' AS role FROM tr
WHERE NOT EXISTS (SELECT 1 FROM res WHERE res.mention = tr.obj_mention)
"""


def q_first_wins(spark, sf):
    """A2 first-wins semantics (operators/merge.py dedup_first_wins):
    earliest order per customer, ties broken by order key."""
    o = t(spark, sf, "orders")
    return dedup_first_wins(
        o, ["o_custkey"], F.struct("o_orderdate", "o_orderkey")
    ).select("o_custkey", "o_orderkey", "o_orderdate")


SQL_FIRST_WINS = """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_union_merge(spark, sf):
    """J8 union-merge: heterogeneous sources -> union -> count by prefix."""
    c, s = t(spark, sf, "customer"), t(spark, sf, "supplier")
    a = c.select(make_curie("C", "c_custkey").alias("id"), F.col("c_name").alias("name"))
    b = s.select(make_curie("S", "s_suppkey").alias("id"), F.col("s_name").alias("name"))
    u = a.unionByName(b).dropDuplicates(["id"])
    return u.groupBy(curie_prefix("id").alias("prefix")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


SQL_UNION_MERGE = """
SELECT split_part(id, ':', 1) AS prefix, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT DISTINCT * FROM (
    SELECT 'C:' || CAST(c_custkey AS VARCHAR) AS id, c_name AS name FROM customer
    UNION ALL
    SELECT 'S:' || CAST(s_suppkey AS VARCHAR) AS id, s_name AS name FROM supplier
  )
) GROUP BY prefix
"""


def q_rollup_stats(spark, sf):
    """A3 stats consolidation (operators/stats.py graph_summary, the
    merged-kg_stats.yaml source): an orders graph with one customer->order
    edge per order (predicate = priority), order nodes categorized by
    status and customer nodes uncategorized (the NULL facet reads ''). The
    summary dict is flattened to (facet, key, n) rows; totals have a NULL
    key."""
    o, c = t(spark, sf, "orders"), t(spark, sf, "customer")
    nodes = o.select(
        make_curie("O", "o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("category"),
    ).unionByName(c.select(
        make_curie("C", "c_custkey").alias("id"),
        F.lit(None).cast("string").alias("category"),
    ))
    edges = o.select(
        make_curie("C", "o_custkey").alias("subject"),
        F.col("o_orderpriority").alias("predicate"),
        make_curie("O", "o_orderkey").alias("object"),
    )
    s = graph_summary(nodes, edges)
    rows = [(k, None, s[k]) for k in ("total_nodes", "total_edges")] + [
        (facet, key, n) for facet in ("count_by_predicate", "count_by_category")
        for key, n in s[facet].items()]
    return spark.createDataFrame(rows, "facet string, key string, n long")


SQL_ROLLUP_STATS = """
WITH nodes AS (
  SELECT o_orderstatus AS category FROM orders
  UNION ALL SELECT CAST(NULL AS VARCHAR) FROM customer
)
SELECT 'total_nodes' AS facet, CAST(NULL AS VARCHAR) AS key,
       CAST(COUNT(*) AS BIGINT) AS n FROM nodes
UNION ALL
SELECT 'total_edges', NULL, CAST(COUNT(*) AS BIGINT) FROM orders
UNION ALL
SELECT 'count_by_predicate', o_orderpriority, CAST(COUNT(*) AS BIGINT)
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT 'count_by_category', COALESCE(category, ''), CAST(COUNT(*) AS BIGINT)
FROM nodes GROUP BY COALESCE(category, '')
"""


def q_count_by_spo(spark, sf):
    """A3 graph-stats facet (operators/stats.py count_by_spo):
    (subject category, predicate, object category) counts over a graph
    derived from TPC-H — customer nodes (category = market segment),
    order nodes (category = order status), one customer->order edge per
    order with the order priority as predicate."""
    o, c = t(spark, sf, "orders"), t(spark, sf, "customer")
    nodes = c.select(make_curie("C", "c_custkey").alias("id"),
                     F.col("c_mktsegment").alias("category")).unionByName(
        o.select(make_curie("O", "o_orderkey").alias("id"),
                 F.col("o_orderstatus").alias("category")))
    edges = o.select(
        make_curie("C", "o_custkey").alias("subject"),
        F.col("o_orderpriority").alias("predicate"),
        make_curie("O", "o_orderkey").alias("object"),
    )
    return count_by_spo(edges, nodes)


SQL_COUNT_BY_SPO = """
SELECT c_mktsegment AS subject_category, o_orderpriority AS predicate,
       o_orderstatus AS object_category, CAST(COUNT(*) AS BIGINT) AS n
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY 1, 2, 3
"""


def q_curate_v3(spark, sf):
    """Composed round-4 session chain (operators/curation.py
    curate_corpus_v3): classifier-score floor (>= corpus mean,
    decimal-staged) -> transitive fuzzy dedup (banded portable MinHash +
    CC, min-id survivor) -> language-mixture stratified sample
    (en=1.0/de=0.5/fr=0.25). Every stage is individually certified
    (quality_logit, fuzzy_dedup, stratified_sample); this row certifies
    the composition."""
    from ecokg_spark.operators.curation import curate_corpus_v3

    d = t(spark, sf, "documents").select("doc_id", "lang", "source", "text")
    out = curate_corpus_v3(d, score_floor_frac=1.0, threshold=0.5,
                           k=16, bands=4, portable=True)
    return out.select("doc_id", "lang", "source", "q_score")


def _sql_curate_v3() -> str:
    from ecokg_spark.operators.sample import sample_threshold_hex

    return f"""
WITH RECURSIVE feat AS (
  SELECT doc_id, lang, source,
         ROUND(1.0 / (1.0 + exp(-(-1.0 + 6.0*sw - 4.0*punct - 3.0*rep
                                  + 0.35*logtok))), 6) AS q
  FROM (
    SELECT doc_id, lang, source,
           CAST({_marker_sql(['the', 'and', 'of', 'to', 'is'])} AS DOUBLE)
             / greatest({_TOKCNT_SQL}, 1) AS sw,
           CAST(length(text) - length(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS punct,
           CAST(1.0 - len(list_distinct({_LOWTOK_SQL}))
                      / len({_LOWTOK_SQL}) AS DOUBLE) AS rep,
           ln(1.0 + {_TOKCNT_SQL}) AS logtok
    FROM documents
  )
),
m AS (
  SELECT CAST(SUM(CAST(q AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mean
  FROM feat
),
s1 AS (
  SELECT doc_id, lang, source, q FROM feat CROSS JOIN m WHERE q >= mean
),
sh AS (
  SELECT d.doc_id, unnest(list_distinct({_SHINGLE_SQL})) AS s
  FROM documents d JOIN s1 ON s1.doc_id = d.doc_id
),
hs AS (
  SELECT doc_id, r.i AS seed,
         md5(CAST(r.i AS VARCHAR) || ':' || s) AS h
  FROM sh CROSS JOIN range(16) r(i)
),
sig AS (
  SELECT doc_id, seed, MIN({_HEX15.format(h='h')}) AS mh
  FROM hs GROUP BY doc_id, seed
),
band AS (
  SELECT doc_id, CAST(seed // 4 AS INT) AS band_idx,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_key
  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band a JOIN band b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT c.id_a, c.id_b FROM (
    SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS i
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
    GROUP BY c.id_a, c.id_b
  ) c
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(u, r) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM und)
  UNION
    SELECT und.u, reach.r FROM und JOIN reach ON reach.u = und.v
),
drops AS (
  SELECT u AS node FROM reach GROUP BY u HAVING u <> MIN(r)
)
SELECT doc_id, lang, source, q AS q_score FROM s1
WHERE doc_id NOT IN (SELECT node FROM drops)
  AND ((lang = 'en')
    OR (lang = 'de' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         < '{sample_threshold_hex(0.5)}')
    OR (lang = 'fr' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         < '{sample_threshold_hex(0.25)}'))
"""


SQL_CURATE_V3 = _sql_curate_v3()


def q_extract_html(spark, sf):
    """EXTRACT_SPEC v1 Arrow UDF vs SQL oracle: wrap documents.text in
    boilerplate HTML, extract, sha256 the result."""
    d = t(spark, sf, "documents")
    html = F.concat(
        F.lit("<html><head><title>d</title><script>var x=1;</script></head>"
              "<body><nav>Nav &amp; menu</nav><p>"),
        F.col("text"),
        F.lit("</p><footer>foot</footer></body></html>"),
    )
    pages = d.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    return pages.select(
        "doc_id",
        F.sha2(F.encode(extract_text_udf("html"), "UTF-8"), 256).alias("text_sha256"),
    )


SQL_EXTRACT_HTML = f"""
SELECT doc_id, sha256({_NORM_SQL.format(c='text')}) AS text_sha256 FROM documents
"""


def q_triple_extract(spark, sf):
    """ReVerb-lite pandas-UDF extraction vs declarative oracle: sentences
    synthesized from nation x region, extraction must recover the join."""
    n, r = t(spark, sf, "nation"), t(spark, sf, "region")
    sents = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        F.concat(F.col("n_name"), F.lit(" found in "), F.col("r_name"), F.lit(".")).alias("sentence")
    )
    tr = sents.withColumn("t", extract_triple_udf("sentence"))
    return tr.select(
        F.col("t.subj_mention").alias("subj_mention"),
        F.col("t.verb").alias("verb"),
        F.col("t.obj_mention").alias("obj_mention"),
    )


SQL_TRIPLE_EXTRACT = """
SELECT n_name AS subj_mention, 'found in' AS verb, r_name AS obj_mention
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def q_entity_link(spark, sf):
    """Dictionary exact linking vs SQL oracle: uppercased nation-name
    mentions link back to their curies through the broadcast termlist."""
    n = t(spark, sf, "nation")
    aliases = n.select(
        make_curie("NAT", F.lpad(F.col("n_nationkey").cast("string"), 2, "0")).alias("curie"),
        F.col("n_name").alias("name"),
        F.lit(None).cast("string").alias("synonym"),
        F.lit("biolink:OrganismTaxon").alias("category"),
        F.lit("tpch").alias("provided_by"),
    )
    termlist = build_termlist(aliases)
    mentions = n.select(F.upper("n_name").alias("mention"))
    hit, _miss = link_mentions(mentions, termlist, "mention", fuzzy=False)
    return hit.select("mention", "curie")


SQL_ENTITY_LINK = """
SELECT upper(n_name) AS mention,
       'NAT:' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS curie
FROM nation
"""


def q_link_ambiguity(spark, sf):
    """Fuzzy-linking ambiguity metrics (VERDICT r2 #7): per mention, min
    edit distance and distinct-curie count at that distance. Ambiguity is
    planted: each nation gets two surface forms (name and name+'Q' under
    different curies); even-keyed mentions append 'z' -> distance 1 to
    BOTH (a tie the resolver breaks by min(curie)); odd-keyed mentions are
    exact (distance 0, one candidate). Near-name nations (IRAN/IRAQ) add
    natural collisions the oracle reproduces identically."""
    from ecokg_spark.operators.linking import build_termlist, link_ambiguity

    n = t(spark, sf, "nation")
    key2 = F.lpad(F.col("n_nationkey").cast("string"), 2, "0")
    aliases = n.select(
        make_curie("NAT", key2).alias("curie"),
        F.col("n_name").alias("name"),
        F.lit(None).cast("string").alias("synonym"),
        F.lit("biolink:OrganismTaxon").alias("category"),
        F.lit("tpch").alias("provided_by"),
    ).unionByName(n.select(
        make_curie("ALT", key2).alias("curie"),
        F.concat(F.col("n_name"), F.lit("Q")).alias("name"),
        F.lit(None).cast("string").alias("synonym"),
        F.lit("biolink:OrganismTaxon").alias("category"),
        F.lit("tpch").alias("provided_by"),
    ))
    mentions = n.select(
        F.when(F.col("n_nationkey") % 2 == 0,
               F.concat(F.lower("n_name"), F.lit("z")))
        .otherwise(F.lower("n_name")).alias("mention"))
    return link_ambiguity(mentions, build_termlist(aliases))


SQL_LINK_AMBIGUITY = """
WITH terms AS (
  SELECT lower(n_name) AS term_norm,
         'NAT:' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS curie
  FROM nation
  UNION ALL
  SELECT lower(n_name || 'Q'),
         'ALT:' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0')
  FROM nation
),
dim AS (SELECT term_norm, min(curie) AS curie FROM terms GROUP BY term_norm),
mentions AS (
  SELECT DISTINCT CASE WHEN n_nationkey % 2 = 0 THEN lower(n_name) || 'z'
                       ELSE lower(n_name) END AS mention
  FROM nation
),
pairs AS (
  SELECT m.mention, d.curie, levenshtein(m.mention, d.term_norm) AS dist
  FROM mentions m JOIN dim d ON levenshtein(m.mention, d.term_norm) <= 2
),
mind AS (SELECT mention, min(dist) AS min_dist FROM pairs GROUP BY mention)
SELECT p.mention, CAST(mind.min_dist AS INT) AS min_dist,
       CAST(COUNT(DISTINCT p.curie) AS BIGINT) AS n_candidates
FROM pairs p JOIN mind ON p.mention = mind.mention AND p.dist = mind.min_dist
GROUP BY 1, 2
"""


def q_termlist_explode(spark, sf):
    """Termlist builder: synonym explode + Publication exclusion (U1/P8)."""
    n = t(spark, sf, "nation")
    aliases = n.select(
        make_curie("NAT", F.lpad(F.col("n_nationkey").cast("string"), 2, "0")).alias("curie"),
        F.col("n_name").alias("name"),
        F.concat(F.col("n_name"), F.lit("_a|"), F.col("n_name"), F.lit("_b")).alias("synonym"),
        F.when(F.col("n_regionkey") == 0, "biolink:Publication")
        .otherwise("biolink:OrganismTaxon").alias("category"),
        F.lit("tpch").alias("provided_by"),
    )
    return build_termlist(aliases).select("curie", "term")


SQL_TERMLIST_EXPLODE = """
WITH base AS (
  SELECT 'NAT:' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS curie, n_name
  FROM nation WHERE n_regionkey <> 0
)
SELECT curie, n_name AS term FROM base
UNION ALL SELECT curie, n_name || '_a' FROM base
UNION ALL SELECT curie, n_name || '_b' FROM base
"""


def q_kgx_merge(spark, sf):
    """KGX id-merge: two overlapping node sources with different property
    coverage -> first-non-null merge + '|'-joined provenance."""
    n = t(spark, sf, "nation")
    node_id = make_curie("N", F.lpad(F.col("n_nationkey").cast("string"), 2, "0"))
    src_a = n.select(node_id.alias("id"), F.col("n_name").alias("name"),
                     F.lit("src_a").alias("provided_by"))
    src_b = n.where(F.col("n_nationkey") % 2 == 0).select(
        node_id.alias("id"), F.lower("n_name").alias("name"),
        F.lit("src_b").alias("provided_by"))
    return merge_nodes([src_a, src_b])


SQL_KGX_MERGE = """
WITH u AS (
  SELECT 'N:' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS id, n_name AS name,
         'src_a' AS provided_by FROM nation
  UNION ALL
  SELECT 'N:' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS id, lower(n_name) AS name,
         'src_b' AS provided_by FROM nation WHERE n_nationkey % 2 = 0
)
SELECT id, min(name) AS name,
       string_agg(DISTINCT provided_by, '|' ORDER BY provided_by) AS provided_by
FROM u GROUP BY id
"""


def q_kg_materialize(spark, sf):
    """Flagship: materialize a KG from the relational tables (graph
    materialize stage on real inputs) and report edge stats by predicate."""
    o, li = t(spark, sf, "orders"), t(spark, sf, "lineitem")
    placed = o.select(
        make_curie("C", "o_custkey").alias("subject"),
        F.lit("placed").alias("predicate"),
        make_curie("O", "o_orderkey").alias("object"),
        F.lit("RO:placed").alias("relation"),
        F.lit("orders").alias("provided_by"),
    )
    contains = li.select(
        make_curie("O", "l_orderkey").alias("subject"),
        F.lit("contains").alias("predicate"),
        make_curie("P", "l_partkey").alias("object"),
        F.lit("RO:contains").alias("relation"),
        F.lit("lineitem").alias("provided_by"),
    )
    supplies = li.select(
        make_curie("S", "l_suppkey").alias("subject"),
        F.lit("supplies").alias("predicate"),
        make_curie("P", "l_partkey").alias("object"),
        F.lit("RO:supplies").alias("relation"),
        F.lit("lineitem").alias("provided_by"),
    )
    edges = merge_edges([placed, contains, supplies])
    return count_by_predicate(edges)


SQL_KG_MATERIALIZE = """
SELECT 'placed' AS predicate, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT DISTINCT o_custkey, o_orderkey FROM orders)
UNION ALL
SELECT 'contains', CAST(COUNT(*) AS BIGINT)
FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
UNION ALL
SELECT 'supplies', CAST(COUNT(*) AS BIGINT)
FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
"""


def q_gaf_transform(spark, sf):
    """Full GAF->KGX transform (reference planteome 'genetic' path: taxon
    whitelist P6, Aspect dispatch F7, dedup A1) over a GAF table synthesized
    from nation — edges must match the declarative SQL oracle."""
    from ecokg_spark.transforms.gaf_kgx import gaf_to_kgx

    n = t(spark, sf, "nation")
    taxa = F.array(*[F.lit(x) for x in ["3702", "4530", "4577", "4558", "3694", "39947"]])
    aspects = F.array(*[F.lit(x) for x in ["T", "A", "G", "C", "F", "P"]])
    idx = (F.col("n_nationkey") % 6).cast("int")
    gene = F.concat(F.lit("GEN"), F.col("n_nationkey"))
    gaf = n.select(
        F.lit("PO").alias("DB"),
        gene.alias("DB_Object_ID"),
        F.concat(F.lit("SYM"), F.col("n_nationkey")).alias("DB_Object_Symbol"),
        F.lit("").alias("Qualifier"),
        F.concat(F.lit("ONT:"), F.col("n_nationkey")).alias("Ontology_ID"),
        F.lit("REF").alias("DB_Reference"),
        F.lit("IEA").alias("Evidence_Code"),
        F.lit("").alias("With_or_From"),
        F.element_at(aspects, idx + 1).alias("Aspect"),
        gene.alias("DB_Object_Name"),
        F.lit("").alias("DB_Object_Synonym"),
        F.lit("gene").alias("DB_Object_Type"),
        F.concat(F.lit("taxon:"), F.element_at(taxa, idx + 1)).alias("Taxon"),
        F.lit("20240101").alias("Date"),
        F.lit("PO").alias("Assigned_By"),
        F.lit("").alias("Annotation_Extension"),
        F.lit("").alias("Gene_Product_Form_ID"),
    )
    _nodes, edges = gaf_to_kgx(gaf)
    return edges.select("subject", "predicate", "object", "relation", "provided_by")


SQL_GAF_TRANSFORM = """
WITH m AS (
  SELECT n_nationkey AS k, (n_nationkey % 6) + 1 AS i,
         (['3702','4530','4577','4558','3694','39947'])[(n_nationkey % 6) + 1] AS tax,
         (['biolink:has_phenotype','biolink:expressed_in','biolink:expressed_in',
           'biolink:active_in','biolink:enables','biolink:regulates'])[(n_nationkey % 6) + 1] AS pred,
         (['RO:0002200','RO:0002206','RO:0002206',
           'RO:0002432','RO:0002327','RO:0011002'])[(n_nationkey % 6) + 1] AS rel
  FROM nation
)
SELECT 'GEN' || CAST(k AS VARCHAR) AS subject, 'biolink:in_taxon' AS predicate,
       'NCBITaxon:' || tax AS object, 'RO:0002162' AS relation,
       'PO-planteome' AS provided_by
FROM m
UNION ALL
SELECT 'GEN' || CAST(k AS VARCHAR), pred, 'ONT:' || CAST(k AS VARCHAR), rel,
       'PO-planteome'
FROM m
"""


def q_eol_hierarchy(spark, sf):
    """EOL pages->KGX hierarchy transform (subclass_of edges + labeled-wins
    node merge; reference eol_traits.py:273-324) over pages synthesized
    from nation/region."""
    from ecokg_spark.transforms.eol_kgx import eol_pages_to_kgx

    n = t(spark, sf, "nation")
    pages = n.select(
        F.col("n_nationkey").cast("string").alias("page_id"),
        (F.col("n_regionkey") + 100).cast("string").alias("parent_id"),
        F.lit("species").alias("rank"),
        F.col("n_name").alias("canonical"),
    )
    nodes, edges = eol_pages_to_kgx(pages)
    return edges.select("subject", "predicate", "object").join(
        nodes.select(F.col("id").alias("object"), F.col("name").alias("parent_name")),
        "object",
    )


SQL_EOL_HIERARCHY = """
SELECT 'EOL:' || CAST(n_regionkey + 100 AS VARCHAR) AS object,
       'EOL:' || CAST(n_nationkey AS VARCHAR) AS subject,
       'biolink:subclass_of' AS predicate,
       '' AS parent_name
FROM nation
"""


def q_gea_transform(spark, sf):
    """Gene Expression Atlas transform (predicate->relation dispatch F7,
    sorghum regex F3, dedup A1) over expression rows synthesized from
    nation; no alias maps -> passthrough path."""
    from ecokg_spark.transforms.gea_kgx import GEA_COLS, gea_to_kgx

    n = t(spark, sf, "nation")
    species = F.when(F.col("n_nationkey") % 2 == 0, "sorghum bicolor").otherwise("zea mays")
    pred = F.when(F.col("n_nationkey") % 3 == 0, "biolink:increases_expression_of") \
        .otherwise("biolink:decreases_expression_of")
    gene = F.when(F.col("n_nationkey") % 2 == 0,
                  F.concat(F.lit("SORBI_3"), F.col("n_nationkey"), F.lit("G01"))) \
        .otherwise(F.concat(F.lit("Zm0"), F.col("n_nationkey")))
    cols = {c: F.lit("") for c in GEA_COLS}
    cols.update(Gene=gene, Species=species,
                Experiment_accession=F.lit("E1"),
                PECOid=F.concat(F.lit("PECO:"), (F.col("n_nationkey") % 4).cast("string")),
                ROid=pred)
    expr = n.select(*[cols[c].alias(c) for c in GEA_COLS])
    _nodes, edges = gea_to_kgx(expr)
    return edges.select("subject", "predicate", "object", "relation", "provided_by")


SQL_GEA_TRANSFORM = """
WITH m AS (
  SELECT 'PECO:' || CAST(n_nationkey % 4 AS VARCHAR) AS subject,
         CASE WHEN n_nationkey % 3 = 0 THEN 'biolink:increases_expression_of'
              ELSE 'biolink:decreases_expression_of' END AS predicate,
         CASE WHEN n_nationkey % 2 = 0
              THEN 'Sobic.' || CAST(n_nationkey AS VARCHAR) || 'G01'
              ELSE 'Zm0' || CAST(n_nationkey AS VARCHAR) END AS object,
         CASE WHEN n_nationkey % 3 = 0 THEN 'RO:0003003' ELSE 'RO:0003002' END AS relation,
         'E1-Gene Expression Atlas' AS provided_by
  FROM nation
)
SELECT DISTINCT subject, predicate, object, relation, provided_by FROM m
"""


def q_gaf_germplasm(spark, sf):
    """Planteome germplasm path (planteome.py:283-478): pheno parse,
    compound-trait remap, 1-9 banding, categorical value decode, numerical
    measurement columns, missing-value skip — over GAF rows synthesized
    from nation. Trait dicts are inline literal dims (the reference's
    plant_traits.txt / plant_numerical_traits.txt JSON shapes)."""
    from ecokg_spark.transforms.gaf_kgx import germplasm_to_kgx

    n = t(spark, sf, "nation")
    k = F.col("n_nationkey")
    r = (k % 5).cast("int")
    ae = (
        F.when(r == 0, F.lit("c(FLOWER=purple_x)"))
        .when(r == 1, F.concat(F.lit("h("), k, F.lit(".5)")))
        .when(r == 2, F.concat(F.lit("l("), (k % 9 + 1), F.lit(")")))
        .when(r == 3, F.lit("t(EAR_DIAMETER=thick)"))
        .otherwise(F.lit("x(999)"))
    )
    onto = (
        F.when(r == 0, "TO:0000100").when(r == 1, "TO:0000200")
        .when(r == 2, "TO:0000344").when(r == 3, "TO:0000969")
        .otherwise("TO:0000100")
    )
    from ecokg_spark.transforms.gaf_kgx import GAF_COLS

    cols = {c: F.lit("") for c in GAF_COLS}
    cols.update(
        DB=F.lit("PO"),
        DB_Object_ID=F.concat(F.lit("GERM"), k),
        DB_Object_Symbol=F.concat(F.lit("Acc"), k),
        Ontology_ID=onto,
        Taxon=F.lit("taxon:4577"),
        Annotation_Extension=ae,
    )
    gaf = n.select(*[cols[c].alias(c) for c in GAF_COLS])
    cat = spark.createDataFrame(
        [("TO:0000100", "flower color", "purple", "TO:0000101"),
         ("TO:0000100", "flower color", "white", "TO:0000102"),
         ("TO:0000433", "ear diameter", "thick", "TO:0000434")],
        "ontology_id string, label string, pheno string, pheno_id string")
    num = spark.createDataFrame(
        [("TO:0000200", "plant height", "cm"),
         ("TO:0000344", "lodging", "scale")],
        "ontology_id string, label string, unit string")
    _nodes, edges = germplasm_to_kgx(gaf, cat, num)
    return edges.select(
        "subject", "predicate", "object", "relation", "has_attribute",
        "has_attribute_type", "has_quantitative_value", "has_unit",
        "provided_by")


SQL_GAF_GERMPLASM = """
WITH m AS (SELECT n_nationkey AS k, CAST(n_nationkey % 5 AS INT) AS r FROM nation)
SELECT 'GERMPLASM:GERM' || CAST(k AS VARCHAR) AS subject,
       'biolink:in_taxon' AS predicate, 'NCBITaxon:4577' AS object,
       'RO:0002162' AS relation, '' AS has_attribute,
       '' AS has_attribute_type, '' AS has_quantitative_value,
       '' AS has_unit, 'PO-planteome' AS provided_by
FROM m
UNION ALL
SELECT 'GERMPLASM:GERM' || CAST(k AS VARCHAR), 'biolink:has_phenotype',
       'TO:0000100', 'RO:0002200', '', 'TO:0000101', '', '', 'PO-planteome'
FROM m WHERE r = 0
UNION ALL
SELECT 'GERMPLASM:GERM' || CAST(k AS VARCHAR), 'biolink:has_phenotype',
       'TO:0000200', 'RO:0002200', 'plant height', 'TO:0000200',
       CAST(k AS VARCHAR) || '.5', 'cm', 'PO-planteome'
FROM m WHERE r = 1
UNION ALL
SELECT 'GERMPLASM:GERM' || CAST(k AS VARCHAR), 'biolink:has_phenotype',
       'TO:0000344', 'RO:0002200', '',
       CASE WHEN (k % 9) + 1 <= 3 THEN 'TO:2000431'
            WHEN (k % 9) + 1 <= 6 THEN 'TO:2000432'
            ELSE 'TO:2000430' END, '', '', 'PO-planteome'
FROM m WHERE r = 2
UNION ALL
SELECT 'GERMPLASM:GERM' || CAST(k AS VARCHAR), 'biolink:has_phenotype',
       'TO:0000433', 'RO:0002200', '', 'TO:0000434', '', '', 'PO-planteome'
FROM m WHERE r = 3
"""


def q_gaf_qtl(spark, sf):
    """Planteome qtl path (planteome.py:479-524): QTL nodes + in_taxon +
    has_phenotype edges over GAF rows synthesized from nation."""
    from ecokg_spark.transforms.gaf_kgx import qtl_to_kgx
    from ecokg_spark.transforms.gaf_kgx import GAF_COLS

    n = t(spark, sf, "nation")
    k = F.col("n_nationkey")
    cols = {c: F.lit("") for c in GAF_COLS}
    cols.update(
        DB=F.lit("PO"),
        DB_Object_ID=F.concat(F.lit("QTL"), k),
        DB_Object_Symbol=F.concat(F.lit("q"), k),
        Ontology_ID=F.concat(F.lit("TO:000005"), (k % 3).cast("string")),
        Taxon=F.lit("taxon:4530"),
    )
    gaf = n.select(*[cols[c].alias(c) for c in GAF_COLS])
    _nodes, edges = qtl_to_kgx(gaf)
    return edges.select("subject", "predicate", "object", "relation",
                        "provided_by")


SQL_GAF_QTL = """
WITH m AS (SELECT n_nationkey AS k FROM nation)
SELECT 'QTL' || CAST(k AS VARCHAR) AS subject, 'biolink:in_taxon' AS predicate,
       'NCBITaxon:4530' AS object, 'RO:0002162' AS relation,
       'PO-planteome' AS provided_by
FROM m
UNION ALL
SELECT 'QTL' || CAST(k AS VARCHAR), 'biolink:has_phenotype',
       'TO:000005' || CAST(k % 3 AS VARCHAR), 'RO:0002200', 'PO-planteome'
FROM m
"""


def q_gaf_orthologs(spark, sf):
    """Ortholog pipe-split fanout (J7, planteome.py:644-681): GAF rows with
    With_or_From lists; with_orthologs=True adds orthologous_to edges +
    curie-suffix ortholog nodes, pipe-dedup per row."""
    from ecokg_spark.transforms.gaf_kgx import gaf_to_kgx
    from ecokg_spark.transforms.gaf_kgx import GAF_COLS

    n = t(spark, sf, "nation")
    k = F.col("n_nationkey")
    cols = {c: F.lit("") for c in GAF_COLS}
    cols.update(
        DB=F.lit("PO"),
        DB_Object_ID=F.concat(F.lit("GEN"), k),
        DB_Object_Symbol=F.concat(F.lit("S"), k),
        Ontology_ID=F.concat(F.lit("GO:"), k),
        Aspect=F.lit("P"),
        # duplicate first entry exercises array_distinct pipe-dedup
        With_or_From=F.concat(
            F.lit("UniProtKB:P"), k, F.lit("|UniProtKB:Q"), (k % 7),
            F.lit("|UniProtKB:P"), k),
        Taxon=F.lit("taxon:4558"),
    )
    gaf = n.select(*[cols[c].alias(c) for c in GAF_COLS])
    _nodes, edges = gaf_to_kgx(gaf, with_orthologs=True)
    return edges.select("subject", "predicate", "object", "relation",
                        "provided_by")


SQL_GAF_ORTHOLOGS = """
WITH m AS (SELECT n_nationkey AS k FROM nation)
SELECT 'GEN' || CAST(k AS VARCHAR) AS subject, 'biolink:in_taxon' AS predicate,
       'NCBITaxon:4558' AS object, 'RO:0002162' AS relation,
       'PO-planteome' AS provided_by
FROM m
UNION ALL
SELECT 'GEN' || CAST(k AS VARCHAR), 'biolink:regulates',
       'GO:' || CAST(k AS VARCHAR), 'RO:0011002', 'PO-planteome'
FROM m
UNION ALL
SELECT 'GEN' || CAST(k AS VARCHAR), 'biolink:orthologous_to',
       'P' || CAST(k AS VARCHAR), 'RO:HOM0000017', 'PO-planteome'
FROM m
UNION ALL
SELECT 'GEN' || CAST(k AS VARCHAR), 'biolink:orthologous_to',
       'Q' || CAST(k % 7 AS VARCHAR), 'RO:HOM0000017', 'PO-planteome'
FROM m WHERE 'Q' || CAST(k % 7 AS VARCHAR) <> 'P' || CAST(k AS VARCHAR)
"""


def q_eol_traits(spark, sf):
    """EOL TraitBank traits path (the reference's biggest transform,
    eol_traits.py:326-534): J1 broadcast trait-dim decode, J2 nested
    (uri,value) categorical decode, F7 priority value/unit pick, unit-label
    decode, J3 association pages join + P5 self-loop drop — over trait rows
    synthesized from nation."""
    from ecokg_spark.transforms.eol_kgx import eol_traits_to_kgx

    n = t(spark, sf, "nation")
    k = F.col("n_nationkey")
    r = (k % 4).cast("int")
    traits = n.select(
        F.concat(F.lit("T"), k).alias("eol_pk"),
        k.cast("string").alias("page_id"),
        ((k + 7) % 25).cast("string").alias("object_page_id"),
        F.lit("R").alias("resource_id"),
        F.when(r == 0, "http://t/num").when(r == 1, "http://t/num")
        .when(r == 2, "http://t/cat").otherwise("http://t/assoc").alias("predicate"),
        F.when(r == 2, F.concat(F.lit("http://v/"), (k % 2).cast("string")))
        .otherwise(F.lit("")).alias("value_uri"),
        F.when(r == 1, k.cast("string")).otherwise(F.lit("")).alias("measurement"),
        F.lit("").alias("units"),
        F.when(r == 1, "http://u/m").otherwise(F.lit("")).alias("units_uri"),
        F.when(r == 0, F.concat(k.cast("string"), F.lit(".5")))
        .otherwise(F.lit("")).alias("normal_measurement"),
        F.when(r == 0, "cm").otherwise(F.lit("")).alias("normal_units"),
        F.lit("").alias("normal_units_uri"),
    )
    pages = n.select(
        k.cast("string").alias("page_id"),
        F.lit("").alias("parent_id"),
        F.lit("species").alias("rank"),
        F.col("n_name").alias("canonical"),
    )
    trait_dim = spark.createDataFrame(
        [("http://t/num", "measurement", "numerical", "num trait", "TO:N1"),
         ("http://t/cat", "measurement", "categorical", "cat trait", "TO:C1"),
         ("http://t/assoc", "association", "", "assoc trait", "TO:A1")],
        "trait_uri string, trait_type string, data_type string, label string, curie string")
    value_dim = spark.createDataFrame(
        [("http://t/cat", "http://v/0", "val zero", "VAL:0"),
         ("http://t/cat", "http://v/1", "val one", "VAL:1")],
        "trait_uri string, value_uri string, label string, curie string")
    unit_dim = spark.createDataFrame(
        [("http://u/m", "meters")], "unit_uri string, label string")
    _nodes, edges = eol_traits_to_kgx(traits, pages, trait_dim, value_dim,
                                      unit_dim=unit_dim)
    return edges.select(
        "subject", "predicate", "object", "relation", "has_attribute",
        "has_attribute_type", "has_quantitative_value", "has_unit",
        "provided_by")


SQL_EOL_TRAITS = """
WITH m AS (SELECT n_nationkey AS k, CAST(n_nationkey % 4 AS INT) AS r FROM nation)
SELECT 'EOL:' || CAST(k AS VARCHAR) AS subject,
       'biolink:has_phenotype' AS predicate, 'TO:N1' AS object,
       'RO:0002200' AS relation, 'num trait' AS has_attribute,
       'TO:N1' AS has_attribute_type,
       CAST(k AS VARCHAR) || '.5' AS has_quantitative_value,
       'cm' AS has_unit, 'R-EOL' AS provided_by
FROM m WHERE r = 0
UNION ALL
SELECT 'EOL:' || CAST(k AS VARCHAR), 'biolink:has_phenotype', 'TO:N1',
       'RO:0002200', 'num trait', 'TO:N1', CAST(k AS VARCHAR), 'meters',
       'R-EOL'
FROM m WHERE r = 1
UNION ALL
SELECT 'EOL:' || CAST(k AS VARCHAR), 'biolink:has_phenotype', 'TO:C1',
       'RO:0002200',
       CASE WHEN k % 2 = 0 THEN 'val zero' ELSE 'val one' END,
       CASE WHEN k % 2 = 0 THEN 'VAL:0' ELSE 'VAL:1' END,
       '', '', 'R-EOL'
FROM m WHERE r = 2
UNION ALL
SELECT 'EOL:' || CAST(k AS VARCHAR), 'biolink:interacts_with',
       'EOL:' || CAST((k + 7) % 25 AS VARCHAR), 'RO:0002434',
       'assoc trait', 'TO:A1', '', '', 'R-EOL'
FROM m WHERE r = 3 AND (k + 7) % 25 <> k AND (k + 7) % 25 < 25
"""


def q_ontology_transform(spark, sf):
    """Obograph ontology -> KGX (S10, ontology_transform.py:49-59): a
    nested obograph document assembled from nation (collect_list into the
    graphs/nodes/edges shape), then parsed back out — IRI->CURIE, synonym
    pipe-join, is_a predicate mapping. Output = subclass edges joined with
    each subject's synonym string."""
    from ecokg_spark.transforms.ontology_kgx import ontology_to_kgx

    n = t(spark, sf, "nation")
    k = F.col("n_nationkey")
    iri = F.concat(F.lit("http://purl.obolibrary.org/obo/TO_"),
                   F.lpad(k.cast("string"), 7, "0"))
    parent = F.concat(F.lit("http://purl.obolibrary.org/obo/TO_"),
                      F.lpad((k % 5).cast("string"), 7, "0"))
    node = F.struct(
        iri.alias("id"), F.col("n_name").alias("lbl"), F.lit("CLASS").alias("type"),
        F.struct(
            F.array(F.struct(F.concat(F.lit("syn"), k).alias("val")),
                    F.struct(F.concat(F.lit("alt"), k).alias("val"))).alias("synonyms"),
            F.array(F.struct(F.concat(F.lit("X:"), k).alias("val"))).alias("xrefs"),
            F.lit(False).alias("deprecated"),
        ).alias("meta"),
    )
    edge = F.struct(iri.alias("sub"), F.lit("is_a").alias("pred"),
                    parent.alias("obj"))
    raw = (
        n.select(node.alias("node"), edge.alias("edge"))
        .agg(F.collect_list("node").alias("nodes"),
             F.collect_list("edge").alias("edges"))
        .select(F.array(F.struct("nodes", "edges")).alias("graphs"))
    )
    nodes, edges = ontology_to_kgx(raw, source_name="to")
    return edges.join(
        nodes.select(F.col("id").alias("subject"), "synonym"), "subject"
    ).select("subject", "predicate", "object", "relation", "provided_by",
             "synonym")


SQL_ONTOLOGY_TRANSFORM = """
SELECT 'TO:' || lpad(CAST(n_nationkey AS VARCHAR), 7, '0') AS subject,
       'biolink:subclass_of' AS predicate,
       'TO:' || lpad(CAST(n_nationkey % 5 AS VARCHAR), 7, '0') AS object,
       'rdfs:subClassOf' AS relation,
       'to' AS provided_by,
       'syn' || CAST(n_nationkey AS VARCHAR) || '|alt' ||
           CAST(n_nationkey AS VARCHAR) AS synonym
FROM nation
"""


def q_curate_corpus(spark, sf):
    """Composed curation chain (operators/curation.py): en-only ->
    token/repetition gates -> exact dedup (min-id survivor) -> Bernoulli
    0.5 md5-prefix sample. One corpus shuffle total (the dedup groupBy);
    DuckDB replays the identical chain."""
    from ecokg_spark.operators.curation import curate_corpus

    return curate_corpus(
        t(spark, sf, "documents"), langs=("en",), min_tokens=20,
        max_repetition=0.6, sample_rate=0.5,
    ).select("doc_id", "source", "n_tokens", "rep_ratio")


def _sql_curate_corpus() -> str:
    from ecokg_spark.operators.sample import sample_threshold_hex

    norm = _NORM_SQL.format(c="text")
    return f"""
WITH cand AS (
  SELECT doc_id, source, text,
         CAST(CASE WHEN length({norm}) = 0 THEN 0
              ELSE len(string_split({norm}, ' ')) END AS BIGINT) AS n_tokens,
         CAST(CASE WHEN length({norm}) = 0 THEN 0.0
              ELSE 1.0 - len(list_distinct({_LOWTOK_SQL}))
                         / len({_LOWTOK_SQL}) END AS DOUBLE) AS rep_ratio
  FROM documents WHERE lang = 'en'),
q AS (SELECT * FROM cand
      WHERE n_tokens >= 20 AND n_tokens <= 100000 AND rep_ratio <= 0.6),
fp AS (SELECT doc_id, source, n_tokens, rep_ratio,
              md5(lower({norm})) AS f FROM q),
keep AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f)
SELECT fp.doc_id, fp.source, fp.n_tokens, fp.rep_ratio
FROM fp JOIN keep USING (f, doc_id)
WHERE substr(md5(CAST(fp.doc_id AS VARCHAR)), 1, 8)
      < '{sample_threshold_hex(0.5)}'
"""


SQL_CURATE_CORPUS = _sql_curate_corpus()


def q_kg_pipeline(spark, sf):
    """Full north-star pipeline — extraction -> triple extraction ->
    entity linking -> CC canonicalization -> merged-edge materialize —
    on the PORTABLE synthetic CC corpus (sources/pages.py, md5/60-bit
    draws, no misspellings): every generator decision is replayable in
    SQL, so the oracle recomputes the exact expected merged edge set
    from the generator arithmetic (synth_gold semantics: English pages,
    canonical-id mapping with Publication mentions dropped, self-loops
    dropped, distinct s/p/o). The fuzzy-linking path this corpus does
    not exercise has its own oracle row (entity_link)."""
    n_pages = 400
    pages = synth_pages(spark, n_pages, portable=True)
    out = build_kg(spark, pages)
    return out["edges"].select("subject", "predicate", "object", "relation")


def _sql_kg_pipeline() -> str:
    """DuckDB replay of the portable page generator + gold-triple rules."""
    from ecokg_spark.sources.vocab import (
        CANONICAL, VERB_CUM_WEIGHTS, VERB_PREDICATES, VERB_RELATIONS, VOCAB)

    def h(tag, *cols):
        parts = " || ':' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        return _HEX15.format(h=f"md5('{tag}:42:' || {parts})")

    canon = "[" + ", ".join(
        "NULL" if c is None else f"'{c}'" for c in CANONICAL) + "]"
    preds = "[" + ", ".join(f"'{p}'" for p in VERB_PREDICATES) + "]"
    rels = "[" + ", ".join(f"'{r}'" for r in VERB_RELATIONS) + "]"
    verb_case = "CASE " + " ".join(
        f"WHEN vr < {w} THEN {i}"
        for i, w in enumerate(VERB_CUM_WEIGHTS[:-1])
    ) + f" ELSE {len(VERB_CUM_WEIGHTS) - 1} END"
    nv = len(VOCAB)
    return f"""
WITH p AS (SELECT unnest(range(0, 400)) AS i),
en AS (
  SELECT i,
         CASE WHEN {h('empty', 'i')} % 100 < 3 THEN 0
              ELSE 1 + {h('ns', 'i')} % 8 END AS n_s
  FROM p WHERE {h('lang', 'i')} % 100 < 90),
sent AS (
  SELECT i, unnest(range(0, n_s)) AS j FROM en WHERE n_s > 0),
draw AS (
  SELECT i, j,
         CASE WHEN {h('hot', 'i', 'j')} % 100 < 30 THEN 0
              ELSE CAST({h('subj', 'i', 'j')} % {nv} AS INT) END AS si,
         CAST({h('obj', 'i', 'j')} % {nv} AS INT) AS oi,
         {h('verb', 'i', 'j')} % 100 AS vr
  FROM sent),
v AS (SELECT si, oi, {verb_case} AS vi FROM draw),
m AS (
  SELECT {canon}[si + 1] AS subject, {preds}[vi + 1] AS predicate,
         {canon}[oi + 1] AS object, {rels}[vi + 1] AS relation
  FROM v)
SELECT DISTINCT subject, predicate, object, relation
FROM m
WHERE subject IS NOT NULL AND object IS NOT NULL AND subject <> object
"""


SQL_KG_PIPELINE = _sql_kg_pipeline()


def q_curate_v2(spark, sf):
    """Composed round-4 curation chain (operators/curation.py
    curate_corpus_v2): blocklist -> token gate -> bigram-LM floor (0.5 x
    corpus mean) -> paragraph dedup -> exact dedup on rebuilt text ->
    0.5 hash sample, over documents re-chunked into 8-token paragraphs
    with the rich synthesized URLs."""
    from ecokg_spark.operators.curation import curate_corpus_v2

    d = t(spark, sf, "documents").select("doc_id", "source", "text")
    toks = F.split(F.col("text"), " ")
    npar = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    chunked = d.select(
        "doc_id", "source",
        F.concat_ws(
            "\n\n",
            F.transform(
                F.sequence(F.lit(0), npar - F.lit(1)),
                lambda i: F.concat_ws(
                    " ", F.slice(toks, i * F.lit(8) + F.lit(1), 8)),
            ),
        ).alias("text"),
    )
    docs = chunked.withColumn("url", _synth_url_rich()).select(
        "doc_id", "text", "url")
    bl = spark.createDataFrame(
        [("src3.co.uk", "adult"), ("src15.co.uk", "gambling")],
        "domain string, category string",
    )
    out = curate_corpus_v2(docs, bl, path_pattern="/sec1/",
                           min_tokens=10, lm_floor_frac=0.5,
                           sample_rate=0.5)
    return out.select("doc_id", "n_tokens", "avg_p", "n_paras", "n_kept",
                      "text")


def _curate_v2_sql() -> str:
    from ecokg_spark.operators.sample import sample_threshold_hex

    norm_kept = _NORM_SQL.format(c="text")
    return f"""
WITH chunked AS (
  SELECT doc_id, source,
         array_to_string(list_transform(
           range(1, CAST(ceil(len(string_split(text, ' ')) / 8.0)
                    AS BIGINT) + 1),
           i -> array_to_string(
                  list_slice(string_split(text, ' '),
                             (i - 1) * 8 + 1, i * 8), ' ')),
           chr(10) || chr(10)) AS text
  FROM documents
),
u AS (SELECT doc_id, text, {_SYNTH_URL_RICH_SQL} AS url FROM chunked),
p AS (SELECT doc_id, text, url, {_SQL_URL_PARTS} FROM u),
dm AS (SELECT doc_id, text, path, {_SQL_REG_DOMAIN} AS domain FROM p),
b1 AS (
  SELECT doc_id, text FROM dm
  WHERE domain NOT IN ('src3.co.uk', 'src15.co.uk')
    AND NOT regexp_matches(path, '/sec1/')
),
t1 AS (
  SELECT doc_id, text,
         CAST(CASE WHEN length({norm_kept}) = 0 THEN 0
              ELSE len(string_split({norm_kept}, ' ')) END AS BIGINT)
         AS n_tokens
  FROM b1
),
t2 AS (SELECT * FROM t1 WHERE n_tokens BETWEEN 10 AND 100000),
ltk AS (
  SELECT doc_id, string_split({norm_kept}, ' ') AS tk FROM t2
),
lix AS (SELECT doc_id, tk, unnest(range(2, len(tk) + 1)) AS i FROM ltk),
lbg AS (SELECT doc_id, tk[i - 1] AS w1, tk[i] AS w2 FROM lix),
lc2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM lbg GROUP BY w1, w2),
lc1 AS (SELECT w1, SUM(c2) AS c1 FROM lc2 GROUP BY w1),
lvs AS (SELECT COUNT(DISTINCT w2) AS v FROM lc2),
lsc AS (
  SELECT b.doc_id,
         (CAST(c.c2 AS DOUBLE) + 0.5)
         / (CAST(lc1.c1 AS DOUBLE) + 0.5 * CAST(lvs.v AS DOUBLE)) AS p
  FROM lbg b JOIN lc2 c USING (w1, w2) JOIN lc1 USING (w1) CROSS JOIN lvs
),
lper AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST(p AS DECIMAL(28,12))) AS DOUBLE) AS sum_p
  FROM lsc GROUP BY doc_id
),
ltot AS (
  SELECT CAST(SUM(CAST(sum_p AS DECIMAL(28,12))) AS DOUBLE) AS tp,
         SUM(n_bigrams) AS tn
  FROM lper
),
g AS (
  SELECT t2.doc_id, t2.text, t2.n_tokens,
         lper.sum_p / CAST(lper.n_bigrams AS DOUBLE) AS avg_p
  FROM t2 JOIN lper USING (doc_id) CROSS JOIN ltot
  WHERE lper.sum_p / CAST(lper.n_bigrams AS DOUBLE)
        >= 0.5 * (ltot.tp / CAST(ltot.tn AS DOUBLE))
),
sp AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM g),
pp AS (
  SELECT doc_id, i AS pos, ps[i] AS para
  FROM sp, LATERAL unnest(range(1, len(ps) + 1)) AS r(i)
),
pdup AS (SELECT para FROM pp GROUP BY para
         HAVING COUNT(DISTINCT doc_id) >= 2),
pfl AS (
  SELECT p.doc_id, p.pos, p.para, d.para IS NOT NULL AS isdup
  FROM pp p LEFT JOIN pdup d USING (para)
),
reb AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_paras,
         CAST(COUNT(CASE WHEN NOT isdup THEN 1 END) AS BIGINT) AS n_kept,
         coalesce(string_agg(CASE WHEN NOT isdup THEN para END,
                             chr(10) || chr(10) ORDER BY pos), '') AS text
  FROM pfl GROUP BY doc_id
),
g2 AS (
  SELECT g.doc_id, g.n_tokens, g.avg_p, reb.n_paras, reb.n_kept, reb.text
  FROM g JOIN reb USING (doc_id)
),
fp AS (SELECT *, md5(lower({norm_kept})) AS f FROM g2),
keep AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f),
dd AS (
  SELECT fp.doc_id, fp.n_tokens, fp.avg_p, fp.n_paras, fp.n_kept, fp.text
  FROM fp JOIN keep USING (f, doc_id)
)
SELECT * FROM dd
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      < '{sample_threshold_hex(0.5)}'
"""


SQL_CURATE_V2 = _curate_v2_sql()
