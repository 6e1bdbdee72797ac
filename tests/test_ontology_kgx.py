"""Obograph ontology -> KGX transform (S10, ontology_transform.py:49-59
semantics): multi-graph parse, IRI->CURIE, synonym/xref meta extraction,
deprecated/type filters, predicate mapping, termlist integration."""

import json

from pyspark.sql import functions as F

from ecokg_spark.operators.linking import build_termlist
from ecokg_spark.transforms.ontology_kgx import read_obograph

OBO = "http://purl.obolibrary.org/obo/"

DOC = {
    "graphs": [
        {
            "nodes": [
                {"id": f"{OBO}TO_0000433", "lbl": "drought tolerance",
                 "type": "CLASS",
                 "meta": {"synonyms": [{"val": "drought resistance"},
                                       {"val": "water stress tolerance"}],
                          "xrefs": [{"val": "X:1"}]}},
                {"id": f"{OBO}TO_0000387", "lbl": "plant trait",
                 "type": "CLASS", "meta": {}},
                {"id": f"{OBO}TO_0009999", "lbl": "gone", "type": "CLASS",
                 "meta": {"deprecated": True}},
                {"id": f"{OBO}RO_0002200", "lbl": "has phenotype",
                 "type": "PROPERTY", "meta": {}},
            ],
            "edges": [
                {"sub": f"{OBO}TO_0000433", "pred": "is_a",
                 "obj": f"{OBO}TO_0000387"},
                {"sub": f"{OBO}TO_0000433", "pred": f"{OBO}BFO_0000050",
                 "obj": f"{OBO}TO_0000387"},
                {"sub": f"{OBO}TO_0000387", "pred": f"{OBO}RO_0002202",
                 "obj": f"{OBO}TO_0000433"},
            ],
        },
        {   # second graph in the same document must be parsed too
            "nodes": [{"id": f"{OBO}PO_0000003", "lbl": "whole plant",
                       "type": "CLASS", "meta": {}}],
            "edges": [],
        },
    ]
}


def _write(tmp_path):
    p = tmp_path / "to.json"
    p.write_text(json.dumps(DOC))
    return str(p)


def test_obograph_nodes_and_edges(spark, tmp_path):
    nodes, edges = read_obograph(spark, _write(tmp_path))
    nmap = {r["id"]: r for r in nodes.collect()}

    assert nmap["TO:0000433"]["name"] == "drought tolerance"
    assert nmap["TO:0000433"]["category"] == "biolink:OntologyClass"
    assert nmap["TO:0000433"]["synonym"] == "drought resistance|water stress tolerance"
    assert nmap["TO:0000433"]["xref"] == "X:1"
    assert nmap["TO:0000387"]["synonym"] == ""
    # second graph parsed
    assert nmap["PO:0000003"]["name"] == "whole plant"
    # deprecated + non-CLASS dropped
    assert "TO:0009999" not in nmap and "RO:0002200" not in nmap
    # provided_by defaults to the file stem (reference: source key)
    assert nmap["TO:0000433"]["provided_by"] == "to"

    e = {(r["subject"], r["predicate"], r["object"], r["relation"])
         for r in edges.collect()}
    assert ("TO:0000433", "biolink:subclass_of", "TO:0000387",
            "rdfs:subClassOf") in e
    assert ("TO:0000433", "biolink:part_of", "TO:0000387", "BFO:0000050") in e
    assert ("TO:0000387", "biolink:related_to", "TO:0000433", "RO:0002202") in e


def test_ontology_feeds_termlist(spark, tmp_path):
    """U1 integration: ontology synonyms explode into linkable surface
    forms (biohub_converter.py:58-63 '|'-split semantics)."""
    nodes, _ = read_obograph(spark, _write(tmp_path))
    tl = build_termlist(nodes.select(
        F.col("id").alias("curie"), "name", "synonym", "category",
        "provided_by"))
    terms = {(r["curie"], r["term_norm"]) for r in tl.collect()}
    assert ("TO:0000433", "drought tolerance") in terms
    assert ("TO:0000433", "drought resistance") in terms
    assert ("TO:0000433", "water stress tolerance") in terms
    assert ("PO:0000003", "whole plant") in terms


def test_curie_passthrough(spark):
    """Non-OBO ids pass through unchanged."""
    from ecokg_spark.transforms.ontology_kgx import iri_to_curie

    df = spark.createDataFrame(
        [(f"{OBO}GO_0008150",), ("CHEBI:1234",), ("http://example.org/x",)],
        "s string").select(iri_to_curie(F.col("s")).alias("c"))
    assert [r["c"] for r in df.collect()] == [
        "GO:0008150", "CHEBI:1234", "http://example.org/x"]
