"""Obograph-JSON ontology -> KGX transform (S10).

The reference delegates this to KGX's `transform(input_format='obojson',
output_format='tsv')` (ontology_transform.py:49-59) for its four active
ontology sources Go/NCBI/To/Po (transform.py:14-26) — four of the seven
merge inputs (merge.yaml:10-58). This module re-expresses the same parse
declaratively over `spark.read.json`'s nested obograph document:

  - multi-graph documents: every entry of the top-level `graphs` array is
    parsed (not just graphs[0]);
  - IRI -> CURIE: OBO-PURL IRIs (`.../obo/TO_0000433`) become `TO:0000433`;
    anything else passes through unchanged;
  - nodes: id, name (`lbl`), category `biolink:OntologyClass`, synonyms and
    xrefs from `meta` pipe-joined into the KGX multivalued-string shape the
    termlist builder consumes (U1, biohub_converter.py:58-63 splits on '|');
    non-CLASS `type`s and `meta.deprecated=true` nodes are dropped;
  - edges: `is_a` -> (biolink:subclass_of, rdfs:subClassOf); BFO:0000050 /
    `part_of` -> (biolink:part_of, BFO:0000050); other predicates ->
    (biolink:related_to, CURIE(pred)).

Output feeds the same KGX merge (J8) and the entity-linking termlist as any
other per-source transform.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ecokg_spark.operators.merge import dedup_min

ONTO_NODE_COLS = ["id", "name", "category", "synonym", "xref", "provided_by"]
ONTO_EDGE_COLS = ["subject", "predicate", "object", "relation", "provided_by"]

ONTO_CATEGORY = "biolink:OntologyClass"

_OBO_IRI = r"^https?://purl\.obolibrary\.org/obo/([A-Za-z][A-Za-z0-9]*)_"


def iri_to_curie(col: Column) -> Column:
    """OBO-PURL IRI -> CURIE; non-OBO strings pass through unchanged."""
    return F.when(
        col.rlike(_OBO_IRI), F.regexp_replace(col, r"^.*obo/([A-Za-z][A-Za-z0-9]*)_", r"$1:")
    ).otherwise(col)


def _meta_list(n: Column, meta_fields: set[str], name: str) -> Column:
    """meta.<name>[].val as array<string> — schema-tolerant (obograph docs
    omit absent meta sections entirely, so the field set varies per file)."""
    if name not in meta_fields:
        return F.array().cast("array<string>")
    return F.coalesce(
        F.transform(n["meta"][name], lambda s: s["val"]),
        F.array().cast("array<string>"),
    )


def ontology_to_kgx(
    raw: DataFrame, source_name: str = "ontologies"
) -> tuple[DataFrame, DataFrame]:
    """Parsed obograph document DataFrame (one row per JSON doc, column
    `graphs`: array<struct<nodes, edges>>) -> (nodes, edges) KGX frames.

    Use ``read_obograph(spark, path)`` for the file-reading front door.
    """
    g = raw.select(F.explode("graphs").alias("g"))

    n = g.select(F.explode("g.nodes").alias("n"))
    nfields = {f.name for f in n.schema["n"].dataType.fields}
    meta_fields = (
        {f.name for f in n.schema["n"].dataType["meta"].dataType.fields}
        if "meta" in nfields else set()
    )

    base = n
    if "type" in nfields:
        base = base.where(F.col("n.type").isNull() | (F.col("n.type") == "CLASS"))
    if "deprecated" in meta_fields:
        base = base.where(~F.coalesce(F.col("n.meta.deprecated"), F.lit(False)))
    nodes = base.select(
        iri_to_curie(F.col("n.id")).alias("id"),
        (F.col("n.lbl") if "lbl" in nfields else F.lit(None).cast("string")).alias("name"),
        F.lit(ONTO_CATEGORY).alias("category"),
        F.array_join(_meta_list(F.col("n"), meta_fields, "synonyms"), "|").alias("synonym"),
        F.array_join(_meta_list(F.col("n"), meta_fields, "xrefs"), "|").alias("xref"),
        F.lit(source_name).alias("provided_by"),
    )

    e = g.select(F.explode("g.edges").alias("e"))
    pred = F.col("e.pred")
    is_part = (pred == "http://purl.obolibrary.org/obo/BFO_0000050") | (
        pred == "part_of") | (pred == "BFO:0000050")
    edges = e.select(
        iri_to_curie(F.col("e.sub")).alias("subject"),
        F.when(pred == "is_a", "biolink:subclass_of")
        .when(is_part, "biolink:part_of")
        .otherwise("biolink:related_to").alias("predicate"),
        iri_to_curie(F.col("e.obj")).alias("object"),
        F.when(pred == "is_a", "rdfs:subClassOf")
        .when(is_part, "BFO:0000050")
        .otherwise(iri_to_curie(pred)).alias("relation"),
        F.lit(source_name).alias("provided_by"),
    )
    return (
        dedup_min(nodes, ["id"]).select(*ONTO_NODE_COLS),
        # two distinct raw preds can bucket to the same biolink predicate
        # with different `relation` values — dedup_min keeps the pick
        # deterministic across partitionings
        dedup_min(edges, ["subject", "predicate", "object"]).select(*ONTO_EDGE_COLS),
    )


def read_obograph(spark, path: str, source_name: str | None = None
                  ) -> tuple[DataFrame, DataFrame]:
    """File front door: obograph JSON file(s) -> (nodes, edges)."""
    import os

    name = source_name or os.path.basename(path).split(".")[0]
    raw = spark.read.option("multiLine", True).json(path)
    return ontology_to_kgx(raw, source_name=name)
