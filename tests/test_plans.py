"""Physical-plan assertions: the scale properties must be visible in the
plan, not just hoped for (filters pushed to the scan, dims broadcast,
UDF stages narrow)."""

import re

import pytest
from pyspark.sql import functions as F

from ecokg_spark.contract.relational import (
    q_broadcast_join_agg, q_filter_project, q_multi_join)
from ecokg_spark.plans.explain import (
    count_exchanges,
    has_broadcast_join,
    has_pushed_filters,
    physical_plan,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = q_filter_project(spark, SF)
    plan = physical_plan(df)
    assert "PushedFilters" in plan
    # both predicates should be pushed (In + GreaterThan)
    assert "c_acctbal" in plan.split("PushedFilters")[1][:300]


def test_small_dims_broadcast(spark):
    assert has_broadcast_join(q_broadcast_join_agg(spark, SF))
    assert has_broadcast_join(q_multi_join(spark, SF))


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    plan = physical_plan(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_extract_stage_is_narrow(spark):
    """The pandas-UDF extraction pipeline must contain zero shuffles —
    pages -> text -> sentences -> mention triples is all pipelined."""
    from ecokg_spark.operators.extract import extract_pages
    from ecokg_spark.operators.triples import extract_triples
    from ecokg_spark.sources.pages import synth_pages

    df = extract_triples(extract_pages(synth_pages(spark, 10)))
    assert count_exchanges(df) == 0, physical_plan(df)


def test_corpus_side_edges_single_exchange(spark):
    """The CORPUS-sized segment of the pipeline — triples -> broadcast
    link-apply -> broadcast canon-apply -> (s,p,o) merge — must contain
    exactly ONE exchange (the merge hash-aggregate); applying the linking
    and canonicalization must be all BroadcastHashJoin, never a shuffle.
    (The resolution/LSH DAG that FEEDS the broadcasts shuffles too, but
    only vocabulary-sized data; checkpointing isolates it in production.)"""
    from ecokg_spark.operators.merge import merge_edges
    from ecokg_spark.operators.components import canonical_map
    from ecokg_spark.operators.linking import alias_identity_edges, build_termlist
    from ecokg_spark.operators.triples import extract_triples, verb_map
    from ecokg_spark.operators.extract import extract_pages
    from ecokg_spark.pipeline import link_triples
    from ecokg_spark.sources.pages import alias_table, synth_pages

    termlist = build_termlist(alias_table(spark)).localCheckpoint(eager=True)
    triples = extract_triples(extract_pages(synth_pages(spark, 30))).localCheckpoint(eager=True)
    linked, _q, _res = link_triples(triples, termlist)
    canon = canonical_map(alias_identity_edges(termlist),
                          termlist.select(F.col("curie").alias("node"))).localCheckpoint(eager=True)
    canon_b = F.broadcast(canon)
    edges = merge_edges([
        linked.join(canon_b.withColumnRenamed("node", "subj_curie")
                    .withColumnRenamed("canonical", "subject"), "subj_curie")
        .join(canon_b.withColumnRenamed("node", "obj_curie")
              .withColumnRenamed("canonical", "object"), "obj_curie")
        .join(F.broadcast(verb_map(spark)), "verb")
        .where(F.col("subject") != F.col("object"))
        .select("subject", "predicate", "object", "relation",
                F.lit("x").alias("provided_by"))
    ])
    plan = physical_plan(edges)
    n_ex = count_exchanges(edges)
    # exactly 1: the (s,p,o) merge hash-aggregate. (The DISTINCT feeding
    # the broadcast resolution build shuffles too, but inside the broadcast
    # subtree — and it moves only post-partial-dedup vocabulary surfaces.)
    assert n_ex == 1, f"corpus-side exchanges != 1: {n_ex}\n{plan}"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_count_by_predicate_partial_aggregate_below_single_exchange(spark):
    """has_phenotype carries about half the edge mass. The predicate count
    still needs no salting: a partial HashAggregate folds each hot key
    map-side, below the count's one Exchange."""
    from ecokg_spark.contract._shared import t as load
    from ecokg_spark.operators.stats import count_by_predicate

    o = load(spark, SF, "orders")
    edges = o.select(
        F.col("o_custkey").cast("string").alias("subject"),
        F.when(F.col("o_orderkey") % 2 == 0, "biolink:has_phenotype")
        .otherwise(F.col("o_orderpriority")).alias("predicate"),
        F.col("o_orderkey").cast("string").alias("object"),
    )
    df = count_by_predicate(edges)
    assert count_exchanges(df) == 1, physical_plan(df)
    tree = physical_plan(df).split("\n\n")[0]
    ops = re.findall(r"(HashAggregate|Exchange)", tree)
    # top-down: final aggregate, the exchange, then the partial aggregate
    assert ops == ["HashAggregate", "Exchange", "HashAggregate"], tree


def test_rp_bucket_spreads_non_negative_vectors(spark):
    """rp_bucket scales plane components with pmod: on non-negative input
    the sign bits still vary, so 4 planes occupy at least 8 of the 16
    buckets (the % scaling put every vector in one bucket)."""
    from ecokg_spark.operators.dedup import rp_bucket

    vecs = spark.range(400).select(
        F.transform(F.sequence(F.lit(0), F.lit(15)),
                    lambda i: F.abs(F.xxhash64(F.col("id"), i) % 1000)
                    .cast("double")).alias("v"))
    n = vecs.select(rp_bucket(F.col("v"), 4, 0).alias("b")).distinct().count()
    assert n >= 8


def test_asof_join_single_exchange(spark):
    """asof_join is one union plus one running window over the key: a
    single Exchange, and the right payload fills as one struct."""
    from ecokg_spark.contract._shared import t as load
    from ecokg_spark.operators.temporal import asof_join

    ev = load(spark, SF, "events")
    markers = ev.where(F.col("event_id") % 10 == 0).select(
        "user_id", "ts", F.col("event_id").alias("marker_id"))
    df = asof_join(ev.select("event_id", "user_id", "ts"), markers,
                   on=["user_id"], right_cols=["marker_id"])
    plan = physical_plan(df)
    assert count_exchanges(df) == 1, plan
    assert "last(_p" in plan


@pytest.mark.parametrize("when_matched", ["ignore", "update"])
def test_merge_into_dedups_source_then_anti_joins(spark, tmp_path,
                                                   monkeypatch, when_matched):
    """The parquet merge_into writes the source deduplicated on its keys
    and anti-joined with the target. The null-safe key match stays a hash
    join, never a nested loop; the optimizer may push the anti-join below
    the dedup aggregate, which is equivalent on the keys."""
    from ecokg_spark.io import TableIO

    io = TableIO(spark, warehouse=str(tmp_path / "wh"))
    schema = "subject string, predicate string, object string"
    io.write(spark.createDataFrame([("A", "p", "B")], schema), "kg.e")
    src = spark.createDataFrame([("A", "p", "B"), ("A", "p", "C"),
                                 ("A", "p", "C")], schema)
    written, cls = [], type(src)
    write = cls.write
    monkeypatch.setattr(cls, "write", property(
        lambda df: written.append(df) or write.fget(df)))
    io.merge_into(src, "kg.e", ["subject", "predicate", "object"],
                  when_matched=when_matched)
    tree = physical_plan(written[0]).split("\n\n")[0]
    assert re.search(r"(BroadcastHash|SortMerge|ShuffledHash)Join LeftAnti",
                     tree), tree
    assert "NestedLoop" not in tree and "HashAggregate" in tree, tree


def test_fused_pass_is_narrow(spark):
    """The fused corpus pass (scan -> extract -> split -> triples -> sha
    projection) must contain ZERO exchanges — one mapInPandas stage plus
    narrow projections."""
    from ecokg_spark.operators.fused import fused_extract_triples
    from ecokg_spark.sources.pages import synth_pages

    df = fused_extract_triples(synth_pages(spark, 10)).select(
        "url", "sent_id", "subj_mention", "verb", "obj_mention", "n_sentences",
        F.when(F.col("sent_id") == -1,
               F.sha2(F.encode(F.col("extracted_text"), "UTF-8"), 256)
               ).alias("text_sha256"))
    assert count_exchanges(df) == 0, physical_plan(df)
    # MapInArrow, not MapInPandas: the Arrow->pandas->Arrow round-trip
    # (string boxing both ways) was pure overhead on the hottest stage
    assert "MapInArrow" in physical_plan(df)


def test_fused_edge_path_single_exchange(spark, tmp_path):
    """Edge materialize over the staged fused table: batch-distinct
    (s,v,o) combiner rows through broadcast resolution/canon/verb joins
    into the (s,p,o) merge — exactly ONE shuffle exchange (the merge
    aggregate), everything else broadcast."""
    from ecokg_spark.pipeline import build_kg
    from ecokg_spark.sources.pages import synth_pages

    out = build_kg(spark, synth_pages(spark, 40),
                   scratch_dir=str(tmp_path / "scratch"))
    edges = out["edges"]
    plan = physical_plan(edges)
    n_ex = count_exchanges(edges)
    assert n_ex == 1, f"edge-path exchanges != 1: {n_ex}\n{plan}"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_broadcasts_eval_side(spark):
    """Decontamination must never shuffle the corpus to meet the eval
    set: the shingle join is a BroadcastHashJoin (eval side build), so
    the only exchange is the tiny (doc, eval) hit aggregate."""
    from ecokg_spark.operators.dedup import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = (docs.where(F.col("doc_id") % 97 == 0)
          .select(F.col("doc_id").alias("eval_id"), "text"))
    out = decontaminate(docs, ev, n=3, min_shared=2)
    assert has_broadcast_join(out), physical_plan(out)


def test_dup_span_stats_two_shuffles(spark):
    """dup_span_stats is two hash aggregates (shingle postings, then doc
    rollup) and the postings join re-uses the first aggregate's
    partitioning — so the plan carries at most 3 exchanges (posting agg,
    posting-join alignment, doc rollup) and no broadcast of the
    corpus-sized side."""
    from ecokg_spark.operators.dedup import dup_span_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dup_span_stats(docs, n=3)
    assert count_exchanges(out) <= 3, physical_plan(out)


def test_containment_no_cartesian(spark):
    """containment_pairs is the posting-list join shape: no cartesian
    product / broadcast-nested-loop anywhere, even without blocking."""
    from ecokg_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical_plan(containment_pairs(docs, n=3, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_remove_dup_spans_bounded_shuffles(spark):
    """remove_dup_spans: census agg, semi-join alignment, covered-position
    distinct, flag join, doc rollup — bounded exchange count and no
    cartesian/broadcast of a corpus-sized side."""
    from ecokg_spark.operators.dedup import remove_dup_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = remove_dup_spans(docs, n=8)
    plan = physical_plan(out)
    assert "CartesianProduct" not in plan
    assert count_exchanges(out) <= 7, plan


def test_hashed_embed_two_aggregates_no_udf(spark):
    """hashed_bow_embed is pure Catalyst: two hash aggregates ((id,bucket)
    then id), no Python UDF evaluation node in the plan."""
    from ecokg_spark.operators.embed import hashed_bow_embed

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = hashed_bow_embed(docs, dims=32)
    plan = physical_plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert count_exchanges(out) <= 3, plan


def test_bigram_lm_probe_join_no_udf(spark):
    """bigram_lm_score stays JVM-side end to end (no Python eval) and the
    vocabulary-side c1 join never broadcasts the corpus probe."""
    from ecokg_spark.operators.lm import bigram_lm_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = bigram_lm_score(docs)
    plan = physical_plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_hll_registers_single_exchange_no_udf(spark):
    """HLL register build: exactly one shuffle (the bucket groupBy with a
    map-side-combinable max), everything JVM-side."""
    from ecokg_spark.operators.sketch import hll_registers

    d = spark.read.parquet(f"{SF}/documents.parquet")
    regs = hll_registers(d, "text", p=12)
    plan = physical_plan(regs)
    assert count_exchanges(regs) == 1, plan
    assert "partial_max" in plan  # map-side combine before the shuffle
    assert "Python" not in plan and "Arrow" not in plan


def test_count_min_build_single_exchange(spark):
    from ecokg_spark.operators.sketch import count_min_table

    d = spark.read.parquet(f"{SF}/documents.parquet")
    toks = d.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    counters = count_min_table(toks, "tok", w=256, d=4)
    plan = physical_plan(counters)
    assert count_exchanges(counters) == 1, plan
    assert "partial_count" in plan


def test_count_min_probe_broadcasts_queries(spark):
    """Point queries broadcast the tiny probe side against the counter
    table — no shuffle of the counters for a lookup."""
    from ecokg_spark.operators.sketch import (count_min_estimate,
                                              count_min_table)

    d = spark.read.parquet(f"{SF}/documents.parquet")
    toks = d.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    counters = count_min_table(toks, "tok", w=256, d=4)
    q = spark.createDataFrame([("the",), ("and",)], "tok string")
    est = count_min_estimate(counters, q, "tok", w=256, d=4)
    assert has_broadcast_join(est), physical_plan(est)


def test_stratified_sample_no_shuffle(spark):
    """The mixture cut is a narrow filter — zero exchanges."""
    from ecokg_spark.operators.sample import stratified_sample

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = stratified_sample(d, "lang", {"en": 1.0, "de": 0.5})
    plan = physical_plan(out)
    assert count_exchanges(out) == 0, plan
    assert "Python" not in plan


def test_classifier_score_pure_catalyst(spark):
    from ecokg_spark.functions.text import classifier_score

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = d.select("doc_id", classifier_score("text").alias("s"))
    plan = physical_plan(out)
    assert count_exchanges(out) == 0, plan
    assert "Python" not in plan and "Arrow" not in plan


def test_incremental_dedup_no_cartesian(spark):
    """The cross-snapshot funnel must never produce a cartesian or
    nested-loop join: every stage is an equi-join on fingerprints or
    band keys."""
    from ecokg_spark.operators.dedup import incremental_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = incremental_dedup(d.where(F.col("doc_id") % 2 == 1),
                            d.where(F.col("doc_id") % 2 == 0))
    plan = physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_group_centroids_two_exchanges_no_udf(spark):
    """(group, dim) aggregate + group rebuild: exactly two shuffles,
    everything JVM-side."""
    from ecokg_spark.operators.embed import group_centroids

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = group_centroids(e)
    plan = physical_plan(out)
    assert count_exchanges(out) == 2, plan
    assert "Python" not in plan and "Arrow" not in plan


def test_pack_sequences_sharded_window_no_global_sort(spark):
    """Per-shard packing: the window partitions by the shard column (no
    single-partition global window) and there is no global Sort+Exchange
    beyond the window's own shard shuffle."""
    from ecokg_spark.operators.pack import pack_sequences

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", F.lit(100).alias("n_tokens"))
    out = pack_sequences(d, n_tokens_col="n_tokens", context_len=512,
                         shard_col="source")
    plan = physical_plan(out)
    assert count_exchanges(out) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_kg_diff_no_cartesian(spark):
    from ecokg_spark.operators.merge import diff_graphs

    e = spark.read.parquet(f"{SF}/part.parquet").select(
        F.concat(F.lit("P:"), F.col("p_partkey")).alias("subject"),
        F.lit("p").alias("predicate"),
        F.concat(F.lit("P:"), (F.col("p_partkey") % 50)).alias("object"))
    out = diff_graphs(e.limit(100), e)
    plan = physical_plan(out)
    assert "CartesianProduct" not in plan


def test_adamic_adar_no_cartesian_no_node_broadcast(spark):
    """adamic_adar: wedge join + degree join are shuffles on the center
    key — the node-sized degree table must NOT be broadcast and nothing
    may degenerate to a cartesian/nested-loop join."""
    from ecokg_spark.operators.graph import adamic_adar

    e = (spark.read.parquet(f"{SF}/nation.parquet")
         .select(F.col("n_nationkey").alias("src"),
                 ((F.col("n_nationkey") * 2 + 3) % 25).alias("dst")))
    plan = physical_plan(adamic_adar(e))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_inverse_candidates_broadcasts_predicate_sizes(spark):
    """inverse_candidates: the only broadcast side is the per-predicate
    size table (schema-bounded); the triple-table self-join is a plain
    shuffle on the reversed (s, o) composite."""
    from ecokg_spark.operators.kgqc import inverse_candidates

    e = (spark.read.parquet(f"{SF}/nation.parquet")
         .select(F.concat(F.lit("N:"), F.col("n_nationkey")).alias("subject"),
                 F.lit("p").alias("predicate"),
                 F.concat(F.lit("R:"), F.col("n_regionkey")).alias("object")))
    df = inverse_candidates(e)
    plan = physical_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_map_side(spark):
    """The Lloyd assignment stage is pure map-side: centroids ride as
    literals, so the plan has ZERO exchanges and no Python stage."""
    from ecokg_spark.operators.embed import _assign_clusters

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = [[0.1] * 64, [0.5] * 64, [0.9] * 64]
    out = _assign_clusters(e, "embedding", "vec_id", cents, 9)
    plan = physical_plan(out)
    assert count_exchanges(out) == 0, plan
    assert "Python" not in plan


def test_anchor_texts_partial_topk(spark):
    """The per-host rank<=k filter must hit WindowGroupLimit (partial
    top-k before the final sort), and extraction stays UDF-free."""
    from ecokg_spark.operators.web import anchor_texts

    d = spark.read.parquet(f"{SF}/documents.parquet")
    pages = d.select(
        F.concat(F.lit("https://h"), F.col("doc_id") % 5,
                 F.lit(".org/p")).alias("url"),
        F.encode(F.concat(F.lit('<a href="/x">t</a>'), F.col("text")),
                 "UTF-8").alias("html"))
    out = anchor_texts(pages, k=3)
    plan = physical_plan(out)
    assert "WindowGroupLimit" in plan, plan
    assert "Python" not in plan


def test_chunk_sliding_no_shuffle(spark):
    """Chunk fanout pipelines with the scan: zero exchanges, no UDF."""
    from ecokg_spark.operators.pack import chunk_sliding

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = chunk_sliding(d, size=16, stride=12)
    plan = physical_plan(out)
    assert count_exchanges(out) == 0, plan
    assert "Python" not in plan


def test_kg_negatives_broadcasts_picks(spark):
    """The choice table joins map-side (broadcast); the only non-
    broadcast shuffle is the filtered-protocol anti-join."""
    from ecokg_spark.operators.kgtrain import kg_negative_samples

    s = spark.read.parquet(f"{SF}/supplier.parquet")
    triples = s.select(
        F.concat(F.lit("S:"), F.col("s_suppkey")).alias("subject"),
        F.lit("p").alias("predicate"),
        F.concat(F.lit("N:"), F.col("s_nationkey")).alias("object"))
    out = kg_negative_samples(triples, k=2, buckets=16)
    assert has_broadcast_join(out)


def test_canonical_meta_rides_the_scan(spark):
    """Verdict columns are projections — zero exchanges, no UDF."""
    from ecokg_spark.operators.web import canonical_meta

    d = spark.read.parquet(f"{SF}/documents.parquet")
    pages = d.select(
        F.concat(F.lit("https://h"), F.col("doc_id")).alias("url"),
        F.encode("text", "UTF-8").alias("html"))
    out = canonical_meta(pages)
    plan = physical_plan(out)
    assert count_exchanges(out) == 0, plan
    assert "Python" not in plan


def test_event_transitions_single_key_shuffle_no_udf(spark):
    from ecokg_spark.operators.temporal import event_transitions

    e = spark.read.parquet(f"{SF}/events.parquet")
    out = event_transitions(e, "user_id", "ts", "event_type",
                            tiebreak_cols=["event_id"])
    plan = physical_plan(out)
    assert "Python" not in plan
    assert has_broadcast_join(out), plan      # totals join is broadcast


def test_assortativity_no_udf_exact_sums(spark):
    from ecokg_spark.operators.kgqc import degree_assortativity

    e = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_id % 97 as src", "(event_id * 3 + 1) % 97 as dst")
    out = degree_assortativity(e)
    plan = physical_plan(out)
    assert "Python" not in plan
    # the degree products must multiply decimal(19,0) OPERANDS (ADVICE r4:
    # a BIGINT*BIGINT that is only cast to decimal afterwards overflows
    # inside the multiply for degrees above ~3e9)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "cast(_dx#" in analyzed and "as decimal(19,0)" in analyzed


def test_strip_boilerplate_no_udf(spark):
    from ecokg_spark.operators.web import strip_host_boilerplate

    d = spark.read.parquet(f"{SF}/documents.parquet")
    pages = d.selectExpr(
        "concat('https://h', doc_id % 5, '.org/p/', doc_id) as url",
        "text")
    out = strip_host_boilerplate(pages)
    plan = physical_plan(out)
    assert "Python" not in plan


def _count_nodes(plan: str, name: str) -> int:
    import re
    return len(re.findall(r"\(\d+\) " + name + r"\b", plan))


def test_cluster_topics_assignment_map_side(spark):
    """kmeans assignment must be MAP-SIDE (centroids ride the plan as
    literals): given a checkpointed embedding table, the assignment
    DataFrame contains ZERO exchanges and no Python stage."""
    from ecokg_spark.operators.embed import hashed_bow_embed, kmeans_lloyd

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    emb = hashed_bow_embed(d, "text", "doc_id", dims=8, portable=True
                           ).localCheckpoint(eager=True)
    assigned = kmeans_lloyd(emb, vec_col="embedding", id_col="doc_id",
                            k=2, iterations=1)
    plan = physical_plan(assigned)
    assert count_exchanges(assigned) == 0, plan
    assert "Python" not in plan


def test_retention_single_window_no_expanding_distinct(spark):
    """retention_curve's expanding distinct count must decompose to the
    first-seen rule: exactly ONE Window node (the running sum over the
    bucket-cardinality table), never a distinct-over-expanding-window
    on the raw events."""
    from ecokg_spark.operators.temporal import retention_curve

    e = spark.read.parquet(f"{SF}/events.parquet")
    out = retention_curve(e, "user_id", "ts", bucket="day")
    plan = physical_plan(out)
    assert _count_nodes(plan, "Window") == 1, plan
    assert "Python" not in plan


def test_int8_topk_integer_ranking_partial_topk(spark):
    """int8_topk's ranking key must be the exact BIGINT dot product (no
    float anywhere in the ordering), the few-queries side must broadcast,
    and the per-query top-k must plan as WindowGroupLimit (partial top-k
    before the shuffle), not a full per-group sort."""
    from pyspark.sql.types import LongType

    from ecokg_spark.operators.similarity import int8_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = int8_topk(emb, emb.limit(3), k=5)
    assert isinstance(out.schema["dot"].dataType, LongType)
    plan = physical_plan(out)
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Python" not in plan


def test_strip_boilerplate_single_census_anti_join(spark):
    """strip_host_boilerplate = ONE boilerplate census (host-keyed
    aggregates) + ONE left-anti join + ONE rebuild aggregate — and the
    in-order rebuild must come from sort_array over (pos, line) structs,
    never a Window sort over the exploded line table."""
    from ecokg_spark.operators.web import strip_host_boilerplate

    d = spark.read.parquet(f"{SF}/documents.parquet")
    pages = d.selectExpr(
        "concat('https://h', doc_id % 5, '.org/p/', doc_id) as url",
        "text")
    out = strip_host_boilerplate(pages)
    plan = physical_plan(out)
    assert _count_nodes(plan, "Window") == 0, plan
    assert "CartesianProduct" not in plan
    anti = plan.count("LeftAnti")
    assert anti >= 1, plan
