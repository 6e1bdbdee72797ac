"""The driver-side dimension path of the KG stages (pipeline.resolve_mentions
and pipeline.canonicalize under their termlist gates) against the
distributed Spark reference: link_mentions(fuzzy_strategy="nl") and
canonical_map(alias_identity_edges(termlist), ...)."""

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ecokg_spark import pipeline
from ecokg_spark.operators.components import canonical_map
from ecokg_spark.operators.linking import (
    NL_FUZZY_MAX_TERMS,
    alias_identity_edges,
    link_mentions,
)

_S = dict(deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])

# ties at one edit ("maize" -> "maiz"/"mazie"), a term shared by several
# curies ("corn"), stopwords, non-ASCII, whitespace padding and NULLs
_curie = st.sampled_from(["A:1", "B:2", "C:3", "D:4", "É:5", None])
_term = st.sampled_from(["maize", "maise", "maze", "corn", "corm", "rice", "ríce",
                         "the", "éclair", "eclair", "zea mays", " zea", None])
_mention = st.sampled_from(["maize", " Maize ", "MAIZ", "mazie", "corn", "Corm ", "cor",
                            "the", "The", "RÍCE", "Éclair", "eclai", "zea  mays", "zea",
                            "xyzzy", "", " ", None])

TL = "curie string, term_norm string"


def _resolution(rows):
    return Counter(tuple(r) for r in rows)


def _reference_resolution(mentions, termlist):
    linked, _q = link_mentions(mentions.distinct(), termlist, "mention",
                               fuzzy_strategy="nl")
    return _resolution(linked.select("mention", "curie", "match_kind").collect())


def _reference_canonical(termlist):
    return Counter(tuple(r) for r in canonical_map(
        alias_identity_edges(termlist),
        termlist.select(F.col("curie").alias("node"))).collect())


@settings(max_examples=20, **_S)
@given(st.lists(st.tuples(_curie, _term), min_size=1, max_size=14),
       st.lists(_mention, min_size=1, max_size=12))
def test_driver_dimension_path_matches_spark_reference(spark, terms, mentions):
    tl = spark.createDataFrame(terms, TL)
    m = spark.createDataFrame([(x,) for x in mentions], "mention string")
    got = pipeline.resolve_mentions(m, tl)
    assert _resolution(got.collect()) == _reference_resolution(m, tl)
    assert got.columns == ["mention", "curie", "match_kind"]
    canon = pipeline.canonicalize(tl)
    assert Counter(tuple(r) for r in canon.collect()) == _reference_canonical(tl)


def test_resolution_gate_at_and_above_nl_fuzzy_max_terms(spark, monkeypatch):
    """NL_FUZZY_MAX_TERMS termlist rows take the driver path; one more row
    takes link_mentions' distributed path with the LSH candidates."""
    local_calls = []
    real = pipeline.link_mentions_local
    monkeypatch.setattr(pipeline, "link_mentions_local",
                        lambda *a: local_calls.append(1) or real(*a))
    vocab = [("A:1", "maize"), ("B:2", "maize"), ("C:3", "sorghum"), (None, "millet")]
    filler = [(f"F:{i}", f"filler term {i:05d}") for i in range(NL_FUZZY_MAX_TERMS)]
    m = spark.createDataFrame([(x,) for x in ["Maize", "sorghun", "milet", "the", "oats"]],
                              "mention string")
    for extra, strategy in ((0, "nl"), (1, "lsh")):
        rows = vocab + filler[:NL_FUZZY_MAX_TERMS - len(vocab) + extra]
        assert len(rows) == NL_FUZZY_MAX_TERMS + extra
        tl = spark.createDataFrame(rows, TL)
        got = _resolution(pipeline.resolve_mentions(m, tl).collect())
        linked, _q = link_mentions(m.distinct(), tl, "mention", fuzzy_strategy=strategy)
        assert got == _resolution(linked.select("mention", "curie", "match_kind").collect())
        assert got == {("Maize", "A:1", "exact"): 1, ("sorghun", "C:3", "fuzzy"): 1,
                       ("milet", None, "fuzzy"): 1}
        assert len(local_calls) == 1 - extra
        local_calls.clear()


def test_driver_paths_fall_back_past_their_bounds(spark, monkeypatch):
    """More candidate pairs than RES_BROADCAST_MAX, or more termlist rows
    than SMALL_GRAPH_EDGES, run the distributed code with the same result."""
    terms = [("A:1", "maize"), ("B:2", "maize"), ("B:2", "corn"), ("C:3", "corm"),
             ("D:4", "rice"), (None, "rice")]
    tl = spark.createDataFrame(terms, TL)
    m = spark.createDataFrame([(x,) for x in ["maize", "cor", "Rice", "x"]], "mention string")
    want_res, want_canon = _reference_resolution(m, tl), _reference_canonical(tl)
    for bound in (1, 100):
        monkeypatch.setattr(pipeline, "RES_BROADCAST_MAX", bound)
        assert _resolution(pipeline.resolve_mentions(m, tl).collect()) == want_res
    for gate in (len(terms), len(terms) - 1):
        monkeypatch.setattr(pipeline, "SMALL_GRAPH_EDGES", gate)
        assert Counter(tuple(r) for r in pipeline.canonicalize(tl).collect()) == want_canon
