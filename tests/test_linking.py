"""Entity linking: termlist build (synonym explode, category excludes),
exact + MinHash-LSH fuzzy matching, stopword filter, quarantine."""

from pyspark.sql import functions as F

from ecokg_spark.operators.linking import (
    alias_identity_edges,
    build_termlist,
    link_mentions,
)


def _aliases(spark):
    rows = [
        ("TAX:0001", "tomato", "Solanum lycopersicum|tomato plant", "biolink:OrganismTaxon", "s"),
        ("EOL:9001", "Solanum lycopersicum", "tomato", "biolink:OrganismTaxon", "s"),
        ("TO:0001", "drought tolerance", "drought resistance", "biolink:PhenotypicFeature", "s"),
        ("PUB:0001", "flora journal", "journal of flora", "biolink:Publication", "s"),
        ("X:0001", "", None, "biolink:NamedThing", "s"),  # empty name dropped
    ]
    return spark.createDataFrame(
        rows, "curie string, name string, synonym string, category string, provided_by string"
    )


def test_termlist_explode_and_excludes(spark):
    tl = build_termlist(_aliases(spark))
    terms = {(r["curie"], r["term"]) for r in tl.collect()}
    # synonym explode (biohub_converter.py:58-63 semantics)
    assert ("TAX:0001", "tomato") in terms
    assert ("TAX:0001", "Solanum lycopersicum") in terms
    assert ("TAX:0001", "tomato plant") in terms
    # Publication excluded (biohub_converter.py:38-46), empty name dropped
    assert not any(c == "PUB:0001" for c, _ in terms)
    assert not any(c == "X:0001" for c, _ in terms)


def test_exact_link_case_insensitive_and_ambiguity(spark):
    tl = build_termlist(_aliases(spark))
    m = spark.createDataFrame([("Tomato",), ("DROUGHT TOLERANCE",)], "mention string")
    hit, miss = link_mentions(m, tl, "mention", fuzzy=False)
    got = {r["mention"]: r["curie"] for r in hit.collect()}
    # ambiguous surface (tomato in TAX:0001 and EOL:9001) -> min curie
    assert got["Tomato"] == "EOL:9001"
    assert got["DROUGHT TOLERANCE"] == "TO:0001"
    assert miss.count() == 0


def test_fuzzy_link_catches_one_deletion(spark):
    tl = build_termlist(_aliases(spark))
    m = spark.createDataFrame(
        [("drught tolerance",), ("Slanum lycopersicum",)], "mention string"
    )
    hit, miss = link_mentions(m, tl, "mention", fuzzy=True)
    got = {r["mention"]: (r["curie"], r["match_kind"]) for r in hit.collect()}
    assert got["drught tolerance"] == ("TO:0001", "fuzzy")
    assert got["Slanum lycopersicum"][0] == "EOL:9001"
    assert miss.count() == 0


def test_fuzzy_lsh_path_matches_nested_loop(spark):
    """The size gate picks broadcast-NL for small vocabs; force both paths
    and check they agree on these (high-Jaccard) edits — keeps the banded
    MinHash-LSH scale path covered."""
    tl = build_termlist(_aliases(spark))
    m = spark.createDataFrame(
        [("drught tolerance",), ("Slanum lycopersicum",), ("tomato plnt",)],
        "mention string",
    )
    out = {}
    for strat in ("nl", "lsh"):
        hit, _ = link_mentions(m, tl, "mention", fuzzy=True, fuzzy_strategy=strat)
        out[strat] = sorted(
            (r["mention"], r["curie"], r["match_kind"]) for r in hit.collect()
        )
    assert out["nl"] == out["lsh"]
    assert len(out["nl"]) == 3


def test_stopwords_and_quarantine(spark):
    tl = build_termlist(_aliases(spark))
    m = spark.createDataFrame(
        [("about",), ("flora journal",), ("completely unknown thing",)], "mention string"
    )
    hit, miss = link_mentions(m, tl, "mention", fuzzy=True)
    assert hit.count() == 0  # stopword dropped pre-link; others unlinkable
    quarantined = {r["mention"] for r in miss.collect()}
    # log-and-continue semantics (eol_traits.py:341-342): bad rows survive as data
    assert quarantined == {"flora journal", "completely unknown thing"}


def test_alias_identity_edges(spark):
    tl = build_termlist(_aliases(spark))
    edges = {(r["u"], r["v"]) for r in alias_identity_edges(tl).collect()}
    assert ("EOL:9001", "TAX:0001") in edges  # share 'tomato' & 'solanum lycopersicum'
    assert all(u < v for u, v in edges)


def test_link_ambiguity_counts_ties(spark):
    """Mentions equidistant to two curies must surface n_candidates=2 at
    the min distance; exact matches show (0, 1); unresolvable mentions
    are absent."""
    from ecokg_spark.operators.linking import link_ambiguity

    termlist = spark.createDataFrame(
        [("A:1", "berry", "berry", "berry", "c"),
         ("B:2", "berrx", "berrx", "berrx", "c"),
         ("C:3", "unrelated", "unrelated", "unrelated", "c")],
        "curie string, term string, term_norm string, preferred string, category string")
    mentions = spark.createDataFrame(
        [("berrz",), ("berry",), ("zzzzzzzzz",)], "mention string")
    got = {r["mention"]: (r["min_dist"], r["n_candidates"])
           for r in link_ambiguity(mentions, termlist).collect()}
    assert got == {"berrz": (1, 2), "berry": (0, 1)}


def test_fuzzy_string_join_edit1(spark):
    """Deletion-neighborhood join finds exactly the <=1-edit pairs:
    substitution, deletion, insertion, and exact — but not distance 2."""
    from ecokg_spark.operators.linking import fuzzy_string_join

    left = spark.createDataFrame(
        [("arabidopsis",), ("oryza",), ("zea",)], "name string")
    right = spark.createDataFrame(
        [("arabidopsis",),   # exact (dist 0)
         ("arabidopsys",),   # substitution (dist 1)
         ("arabidopsi",),    # deletion (dist 1)
         ("arabidopsiss",),  # insertion (dist 1)
         ("arabidopzys",),   # dist 2 -> excluded
         ("oryzb",)],        # dist 1 of oryza
        "name string")
    got = {(r["left_name"], r["right_name"], r["dist"])
           for r in fuzzy_string_join(left, right).collect()}
    assert got == {
        ("arabidopsis", "arabidopsis", 0),
        ("arabidopsis", "arabidopsys", 1),
        ("arabidopsis", "arabidopsi", 1),
        ("arabidopsis", "arabidopsiss", 1),
        ("oryza", "oryzb", 1),
    }


def test_fuzzy_string_join_no_cartesian(spark):
    from ecokg_spark.operators.linking import fuzzy_string_join

    l = spark.createDataFrame([("abcdef",)], "name string")
    r = spark.createDataFrame([("uvwxyz",)], "name string")
    out = fuzzy_string_join(l, r)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert out.count() == 0
