"""End-to-end KG construction: pages -> extract -> triples -> link ->
canonicalize -> merge -> stats (the north-star pipeline).

Shuffle budget of the whole plan (the thing that matters at 100 TB):

  fused corpus pass ....... ONE narrow mapInArrow stage (scan -> extract ->
                            split -> triple match, operators/fused.py); the
                            only materialized corpus-side artifact is the
                            small audit+triples relation — page text never
                            hits the block store or a shuffle
  entity linking .......... resolution over DISTINCT surface forms only:
                            under the termlist gate, one bounded read of the
                            termlist + one nested-loop pass whose candidate
                            pairs are picked on the driver (no shuffle but
                            the surface distinct), else the exact+fuzzy
                            DAG's vocabulary-bounded shuffles; then
                            broadcast map-side application to the corpus —
                            zero corpus-sized shuffle
  canonicalization ........ dimension-sized: one bounded read of the
                            termlist + driver union-find under the
                            broadcast-style size gate, else O(log n)
                            large-star/small-star rounds; corpus-independent,
                            so it runs CONCURRENTLY with the fused pass
  edge dedup + merge ...... the one corpus-sized shuffle: a single hash
                            aggregate on (s,p,o); its map-side partial
                            collapses the hot head entity pre-shuffle
  stats ................... hash aggs (counts by category and predicate)

The dataflow is declared once, as the ordered stage list `kg_stages`, and
run two ways through checkpoint.run_dag: `build_kg` materializes it in
memory, and job.run_kg_job writes one durable, resumable table per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecokg_spark.operators.checkpoint import Stage, run_dag
from ecokg_spark.operators.components import (
    SMALL_GRAPH_EDGES,
    canonical_map,
    unionfind_small,
)
from ecokg_spark.operators.extract import extract_pages
from ecokg_spark.operators.fused import (
    AUDIT_SENT_ID,
    MENTION_SENT_ID,
    SVO_SENT_ID,
    fused_extract_triples,
)
from ecokg_spark.operators.linking import (
    NL_FUZZY_MAX_TERMS,
    alias_identity_edges,
    build_termlist,
    link_mentions,
    link_mentions_local,
)
from ecokg_spark.operators.merge import merge_edges, merge_nodes
from ecokg_spark.operators.stats import count_by_category, count_by_predicate
from ecokg_spark.operators.triples import verb_map
from ecokg_spark.session import local_frame
from ecokg_spark.sources.pages import alias_table, category_table


# resolution tables at or under this many rows become driver-local
# relations (broadcast-style size gate, same precedent as
# components.SMALL_GRAPH_EDGES); it also bounds the candidate pairs the
# driver path collects. A LocalRelation holds its rows in the plan: reading
# it starts no job and no checkpoint, though each broadcast join against it
# still starts its own. ~30 MB of 3-string rows at the limit.
RES_BROADCAST_MAX = 200_000

# build_kg's in-memory policy checkpoints the stages several others read;
# canonical and resolution materialize themselves through their size
# gates, and every other stage stays lazy and is computed by whoever reads it
CHECKPOINTED = ("termlist", "fused")


def resolve_mentions(
    surfaces: DataFrame, termlist: DataFrame, dim_count: int | None = None
) -> DataFrame:
    """Surface forms (col `mention`) -> the resolution table (mention,
    curie, match_kind), evaluated exactly once over the DISTINCT surfaces.

    take(NL_FUZZY_MAX_TERMS + 1) of the termlist's (curie, term_norm) is
    the fuzzy gate: a termlist at or under it resolves through
    linking.link_mentions_local (one nested-loop pass, its candidate pairs
    collected under RES_BROADCAST_MAX) into a driver-local relation.
    Otherwise the distributed exact+fuzzy DAG of link_mentions runs and
    take(RES_BROADCAST_MAX + 1) evaluates its result once and gates its
    size: a local relation under the bound, a checkpoint above.
    `dim_count` is link_mentions' size-gate hint on that path (default: the
    termlist rows taken)."""
    spark = surfaces.sparkSession
    distinct = surfaces.distinct()
    terms = termlist.select("curie", "term_norm").take(NL_FUZZY_MAX_TERMS + 1)
    if len(terms) <= NL_FUZZY_MAX_TERMS:
        rows = link_mentions_local(distinct, terms, RES_BROADCAST_MAX)
        if rows is not None:
            return local_frame(spark, rows, "mention string, curie string, match_kind string")
    resolved, _unresolved = link_mentions(
        distinct, termlist, "mention",
        dim_count=len(terms) if dim_count is None else dim_count)
    res = resolved.select("mention", "curie", "match_kind")
    sample = res.take(RES_BROADCAST_MAX + 1)
    if len(sample) <= RES_BROADCAST_MAX:
        return local_frame(spark, sample, res.schema)
    return res.localCheckpoint(eager=True)


def canonicalize(termlist: DataFrame) -> DataFrame:
    """(node, canonical) for every termlist curie: curies that share a
    term_norm are one entity, labelled by its min curie; an isolated curie
    maps to itself (canonical_map over alias_identity_edges).

    take(SMALL_GRAPH_EDGES + 1) of (curie, term_norm) is the gate: at or
    under it, the curies sharing a term_norm are unioned on the driver
    (components.unionfind_small) into a local relation. Above it the
    distributed canonical_map runs and is checkpointed for its readers."""
    rows = termlist.select("curie", "term_norm").take(SMALL_GRAPH_EDGES + 1)
    if len(rows) > SMALL_GRAPH_EDGES:
        return canonical_map(
            alias_identity_edges(termlist),
            termlist.select(F.col("curie").alias("node"))).localCheckpoint(eager=True)
    first: dict[str, str] = {}  # term_norm -> its first curie
    comp = unionfind_small([(first.setdefault(t, c), c) for c, t in rows
                            if c is not None and t is not None])
    return local_frame(termlist.sparkSession,
                       [(c, comp.get(c, c)) for c in {c for c, _t in rows}],
                       "node string, canonical string")


def apply_resolution(triples: DataFrame, res: DataFrame) -> DataFrame:
    """Triples left-joined to the resolution table for both roles: adds
    subj_curie/subj_match and obj_curie/obj_match, null where a mention did
    not resolve. Two narrow broadcast joins — zero corpus-sized shuffle."""
    s = res.select(
        F.col("mention").alias("subj_mention"),
        F.col("curie").alias("subj_curie"),
        F.col("match_kind").alias("subj_match"),
    )
    o = res.select(
        F.col("mention").alias("obj_mention"),
        F.col("curie").alias("obj_curie"),
        F.col("match_kind").alias("obj_match"),
    )
    return triples.join(F.broadcast(s), "subj_mention", "left").join(
        F.broadcast(o), "obj_mention", "left"
    )


def quarantine_of(linked_raw: DataFrame) -> DataFrame:
    """(url, sent_id, mention, role) for every unresolved subject/object."""
    return (
        linked_raw.where(F.col("subj_curie").isNull())
        .select("url", "sent_id", F.col("subj_mention").alias("mention"),
                F.lit("subject").alias("role"))
        .unionByName(
            linked_raw.where(F.col("obj_curie").isNull()).select(
                "url", "sent_id", F.col("obj_mention").alias("mention"),
                F.lit("object").alias("role"))
        )
    )


def link_triples(
    triples: DataFrame,
    termlist: DataFrame,
    surfaces: DataFrame | None = None,
    dim_count: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Link subject and object mentions.
    Returns (linked, quarantine, resolution) — resolution is the
    materialized (mention, curie, match_kind) table, broadcast-applied
    here and reusable by any other mention-shaped relation.

    Resolving ONCE over the distinct surfaces of both roles, then
    broadcast-applying, beats resolving per role over the full corpus
    (4+ corpus passes and 2x the shuffle stages; measured 2-3x slower at
    60k pages). `surfaces` (col `mention`), when given, is a pre-combined
    surface set — skips the corpus-sized distinct here."""
    if surfaces is None:
        surfaces = (
            triples.select(F.col("subj_mention").alias("mention"))
            .unionByName(triples.select(F.col("obj_mention").alias("mention")))
        )
    res = resolve_mentions(surfaces, termlist, dim_count)
    j = apply_resolution(triples, res)
    linked = j.where(F.col("subj_curie").isNotNull() & F.col("obj_curie").isNotNull())
    return linked, quarantine_of(j), res


def kg_stages(
    spark: SparkSession, pages: DataFrame, aliases: DataFrame | None = None
) -> list[Stage]:
    """The KG dataflow as one ordered (name, inputs, build) stage list.

    termlist -> canonical is corpus-independent, so under run_dag it runs
    concurrently with the fused corpus pass. `resolution` (mention, curie,
    match_kind) materializes itself through resolve_mentions' size gate and
    is never a table: linked_raw and edges both read it."""

    def fused() -> DataFrame:
        # ONE corpus pass (operators/fused.py): audit rows + matched triples
        # + batch-combined mention and (s, v, o) rows. sha256 is computed
        # JVM-side from the audit rows' text, then the text column is
        # dropped — the materialized relation carries only facts.
        return fused_extract_triples(pages).select(
            "url", "sent_id", "subj_mention", "verb", "obj_mention", "n_sentences",
            F.when(
                F.col("sent_id") == AUDIT_SENT_ID,
                F.sha2(F.encode(F.col("extracted_text"), "UTF-8"), 256),
            ).alias("text_sha256"),
        )

    def triples(fused: DataFrame) -> DataFrame:
        return fused.where(F.col("sent_id") >= 0).select(
            "url", "sent_id", "subj_mention", "verb", "obj_mention")

    def resolution(fused: DataFrame, termlist: DataFrame) -> DataFrame:
        # linking's distinct-surfaces input: the fused pass's batch-combined
        # mention rows (vocabulary-bounded), not a corpus-sized distinct
        surfaces = fused.where(F.col("sent_id") == MENTION_SENT_ID).select(
            F.col("subj_mention").alias("mention"))
        return resolve_mentions(surfaces, termlist)

    def edges(fused: DataFrame, res: DataFrame, canon: DataFrame) -> DataFrame:
        # candidates are the fused pass's batch-distinct (s, v, o) combiner
        # rows: the distinct edge SURFACE set is vocabulary-bounded, so every
        # join below is dimension-sized and the per-sentence triple rows are
        # never rescanned (a batchwise-distinct union aggregated by (s,p,o)
        # equals the full distinct). The (s,p,o) dedup is ONE hash aggregate
        # in merge_edges whose map-side partial collapses the hot subject
        # before any shuffle, so salting here would only add a shuffle.
        svo = fused.where(F.col("sent_id") == SVO_SENT_ID).select(
            "subj_mention", "verb", "obj_mention")
        canon_b = F.broadcast(canon)
        raw = (
            svo.join(F.broadcast(res.select(F.col("mention").alias("subj_mention"),
                                            F.col("curie").alias("subj_curie"))),
                     "subj_mention")
            .join(F.broadcast(res.select(F.col("mention").alias("obj_mention"),
                                         F.col("curie").alias("obj_curie"))),
                  "obj_mention")
            .join(canon_b.withColumnRenamed("node", "subj_curie")
                  .withColumnRenamed("canonical", "subject"), "subj_curie")
            .join(canon_b.withColumnRenamed("node", "obj_curie")
                  .withColumnRenamed("canonical", "object"), "obj_curie")
            .join(F.broadcast(verb_map(spark)), "verb")
            .where(F.col("subject") != F.col("object"))  # self-loop drop (P5)
            .select("subject", "predicate", "object", "relation",
                    F.lit("ecokg-web").alias("provided_by"))
        )
        return merge_edges([raw])

    def nodes(edges: DataFrame, canon: DataFrame) -> DataFrame:
        # canonical entities seen in any edge + dim properties
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

    return [
        ("fused", (), fused),
        ("termlist", (), lambda: build_termlist(
            aliases if aliases is not None else alias_table(spark))),
        ("audit", ("fused",), lambda fused: fused.where(
            F.col("sent_id") == AUDIT_SENT_ID).select("url", "text_sha256", "n_sentences")),
        ("triples", ("fused",), triples),
        ("canonical", ("termlist",), canonicalize),
        ("resolution", ("fused", "termlist"), resolution),
        ("linked_raw", ("fused", "resolution"),
         lambda fused, res: apply_resolution(triples(fused), res)),
        ("quarantine", ("linked_raw",), quarantine_of),
        ("edges", ("fused", "resolution", "canonical"), edges),
        ("nodes", ("edges", "canonical"), nodes),
        ("stats_by_predicate", ("edges",), count_by_predicate),
        ("stats_by_category", ("nodes",), count_by_category),
    ]


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame | None = None,
    scratch_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline in memory; returns every stage's output under
    its stage name, plus the lazy `extracted` parity view.

    termlist and fused are materialized once for their many readers: the
    fused pass as a PARQUET staged table under `scratch_dir` when given
    (columnar: readers get column pruning + sent_id row-group pushdown),
    else, like termlist, an in-memory localCheckpoint. canonical and
    resolution materialize themselves through their size gates; everything
    else is lazy. job.run_kg_job runs the same stage list with one durable table
    per stage."""

    def materialize(name: str, build) -> DataFrame:
        df = build()
        if name == "fused" and scratch_dir:
            path = scratch_dir.rstrip("/") + "/fused"
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)
        return df.localCheckpoint(eager=True) if name in CHECKPOINTED else df

    out = run_dag(spark, kg_stages(spark, pages, aliases), materialize)
    # lazy parity view (recomputes extraction on access; the pipeline
    # itself never materializes corpus text)
    out["extracted"] = extract_pages(pages)
    return out


def release_all(spark: SparkSession) -> None:
    """Drop EVERY persistent RDD (localCheckpoint blocks included — which
    plain DataFrame.unpersist does not reach). Bench-loop hygiene: without
    this, repeated runs accumulate block-store state until eviction starts
    recomputing stage outputs mid-measurement."""
    try:
        jrdds = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in jrdds.values():
            jrdd.unpersist()
    except Exception:  # noqa: BLE001
        pass
