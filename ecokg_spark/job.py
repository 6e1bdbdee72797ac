"""Durable KG-construction job: the spark-submit entry semantics.

Same dataflow as ecokg_spark.pipeline.build_kg, declared once as an
ordered stage list and run by StageRunner.run_stages: every stage
materializes to a TableIO table (Iceberg when a catalog is configured,
parquet otherwise) and commits by writing its per-partition lineage +
latency metrics to kg._checkpoints.<stage>. Independent stages run
concurrently, each starting as soon as its inputs have committed. A killed
run RESUMES: committed stages are skipped, and read back only where a stage
that has to run needs them (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Ship it with:  scripts/package_pyfiles.py  ->  dist/ecokg_spark.zip
               spark-submit --py-files dist/ecokg_spark.zip \
                   scripts/run_kg_job.py --pages <parquet> --warehouse <dir>
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecokg_spark.io import TableIO
from ecokg_spark.operators.checkpoint import StageRunner
from ecokg_spark.operators.components import canonical_map
from ecokg_spark.operators.fused import (
    AUDIT_SENT_ID,
    MENTION_SENT_ID,
    SVO_SENT_ID,
    fused_extract_triples,
)
from ecokg_spark.operators.linking import (
    alias_identity_edges,
    build_termlist,
    link_mentions,
)
from ecokg_spark.operators.merge import merge_edges, merge_nodes
from ecokg_spark.operators.stats import count_by_category, count_by_predicate
from ecokg_spark.operators.triples import verb_map
from ecokg_spark.sources.pages import alias_table, category_table


def run_kg_job(
    spark: SparkSession,
    pages: DataFrame,
    io: TableIO,
    run_id: str = "run0",
    resume: bool = True,
    aliases: DataFrame | None = None,
) -> StageRunner:
    """Run (or resume) the full pipeline, one durable table per stage.

    Stage tables (under the TableIO warehouse): kg.termlist, kg.fused (the
    one corpus pass: audit + triple + combiner rows, columnar so each
    consumer reads only its columns), kg.audit, kg.triples, kg.linked_raw,
    kg.quarantine, kg.canonical, kg.nodes, kg.edges,
    kg.stats_by_predicate, kg.stats_by_category; per-stage lineage, which
    is also the stage's commit record, under kg._checkpoints.<stage>.
    Raises checkpoint.StageError naming the first stage that failed.
    """

    def _fused() -> DataFrame:
        return fused_extract_triples(pages).select(
            "url", "sent_id", "subj_mention", "verb", "obj_mention",
            "n_sentences",
            F.when(
                F.col("sent_id") == AUDIT_SENT_ID,
                F.sha2(F.encode(F.col("extracted_text"), "UTF-8"), 256),
            ).alias("text_sha256"),
        )

    def _triples(fused: DataFrame) -> DataFrame:
        return fused.where(F.col("sent_id") >= 0).select(
            "url", "sent_id", "subj_mention", "verb", "obj_mention")

    def _linked(fused: DataFrame, termlist: DataFrame) -> DataFrame:
        surfaces = fused.where(F.col("sent_id") == MENTION_SENT_ID).select(
            F.col("subj_mention").alias("mention")).distinct()
        resolved, _ = link_mentions(surfaces, termlist, "mention")
        res = resolved.select("mention", "curie", "match_kind").localCheckpoint(eager=True)
        s = res.select(F.col("mention").alias("subj_mention"),
                       F.col("curie").alias("subj_curie"),
                       F.col("match_kind").alias("subj_match"))
        o = res.select(F.col("mention").alias("obj_mention"),
                       F.col("curie").alias("obj_curie"),
                       F.col("match_kind").alias("obj_match"))
        # off kg.fused, not kg.triples: same rows, one stage less to wait for
        return _triples(fused).join(F.broadcast(s), "subj_mention", "left").join(
            F.broadcast(o), "obj_mention", "left")

    def _quarantine(j: DataFrame) -> DataFrame:
        return (
            j.where(F.col("subj_curie").isNull())
            .select("url", "sent_id", F.col("subj_mention").alias("mention"),
                    F.lit("subject").alias("role"))
            .unionByName(j.where(F.col("obj_curie").isNull()).select(
                "url", "sent_id", F.col("obj_mention").alias("mention"),
                F.lit("object").alias("role")))
        )

    def _edges(j: DataFrame, fused: DataFrame, canon: DataFrame) -> DataFrame:
        # resolve via the durable linked_raw table's (mention -> curie)
        # bindings; candidates = the fused pass's batch-distinct (s,v,o)
        # combiner rows, so this never rescans per-sentence triples
        res = (
            j.select(F.col("subj_mention").alias("mention"),
                     F.col("subj_curie").alias("curie"))
            .unionByName(j.select(F.col("obj_mention").alias("mention"),
                                  F.col("obj_curie").alias("curie")))
            .where(F.col("curie").isNotNull()).distinct()
        )
        svo = fused.where(F.col("sent_id") == SVO_SENT_ID).select(
            "subj_mention", "verb", "obj_mention")
        canon_b = F.broadcast(canon)
        raw = (
            svo.join(F.broadcast(res.select(
                F.col("mention").alias("subj_mention"),
                F.col("curie").alias("subj_curie"))), "subj_mention")
            .join(F.broadcast(res.select(
                F.col("mention").alias("obj_mention"),
                F.col("curie").alias("obj_curie"))), "obj_mention")
            .join(canon_b.withColumnRenamed("node", "subj_curie")
                  .withColumnRenamed("canonical", "subject"), "subj_curie")
            .join(canon_b.withColumnRenamed("node", "obj_curie")
                  .withColumnRenamed("canonical", "object"), "obj_curie")
            .join(F.broadcast(verb_map(spark)), "verb")
            .where(F.col("subject") != F.col("object"))
            .select("subject", "predicate", "object", "relation",
                    F.lit("ecokg-web").alias("provided_by"))
        )
        return merge_edges([raw])

    def _nodes(edges: DataFrame, canon: DataFrame) -> DataFrame:
        cat = category_table(spark).join(F.broadcast(canon),
                                          F.col("curie") == F.col("node"))
        dim = (cat.groupBy("canonical")
               .agg(F.min("curie").alias("curie"), F.min("name").alias("name"),
                    F.min("category").alias("category"))
               .select(F.col("canonical").alias("id"), "name", "category"))
        seen = (edges.select(F.col("subject").alias("id"))
                .unionByName(edges.select(F.col("object").alias("id"))).distinct())
        return merge_nodes([
            seen.join(F.broadcast(dim), "id", "left").select(
                "id", "name", "category", F.lit("ecokg-web").alias("provided_by"))
        ])

    r = StageRunner(io, run_id=run_id, resume=resume)
    r.run_stages([
        ("fused", (), _fused),
        ("termlist", (), lambda: build_termlist(
            aliases if aliases is not None else alias_table(spark))),
        ("audit", ("fused",), lambda fused: fused.where(F.col("sent_id") == AUDIT_SENT_ID)
         .select("url", "text_sha256", "n_sentences")),
        ("triples", ("fused",), _triples),
        ("canonical", ("termlist",), lambda termlist: canonical_map(
            alias_identity_edges(termlist),
            termlist.select(F.col("curie").alias("node")))),
        ("linked_raw", ("fused", "termlist"), _linked),
        ("quarantine", ("linked_raw",), _quarantine),
        ("edges", ("linked_raw", "fused", "canonical"), _edges),
        ("nodes", ("edges", "canonical"), _nodes),
        ("stats_by_predicate", ("edges",), count_by_predicate),
        ("stats_by_category", ("nodes",), count_by_category),
    ])
    return r
