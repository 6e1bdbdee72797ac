"""Training-data dedup operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding cosine."""

import pytest
from pyspark.sql import functions as F

from ecokg_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_verified_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    with_simhash,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the old river bank tonight"),  # near-dup of 1
    (3, "completely different text about spark shuffle partitions and adaptive execution"),
    (4, "The  Quick brown fox jumps over the lazy dog near the old river bank today"),  # exact dup of 1 (case/ws)
    (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    surv = exact_dedup(_docs(spark), "text", "doc_id")
    ids = {r["doc_id"] for r in surv.collect()}
    assert ids == {1, 2, 3, 5}  # 4 collapses into 1 (min id wins)


def test_minhash_lsh_finds_neardup(spark):
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_verified_pairs(_docs(spark), threshold=0.5).collect()}
    assert (1, 2) in pairs and (1, 4) in pairs
    assert not any({a, b} == {1, 3} for a, b in pairs)


def test_simhash_deterministic_and_neardup(spark):
    h1 = with_simhash(_docs(spark), "text").select("doc_id", "simhash")
    h2 = with_simhash(_docs(spark), "text").select("doc_id", "simhash")
    assert {tuple(r) for r in h1.collect()} == {tuple(r) for r in h2.collect()}
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(_docs(spark), max_hamming=3).collect()}
    # normalized-identical docs hash identically (the exactness guarantee:
    # 4x16-bit chunks find ALL pairs with hamming <= 3 by pigeonhole)
    assert (1, 4) in pairs and pairs[(1, 4)] == 0
    assert all(h <= 3 for h in pairs.values())
    # one-token-diff docs are close in simhash space even if > 3 bits
    hs = {r["doc_id"]: r["simhash"] for r in h1.collect()}
    assert bin(hs[1] ^ hs[2]).count("1") <= 16


def test_minhash_recall_vs_exact_jaccard(spark):
    """Correctness signal for the no-oracle LSH candidate generator
    (VERDICT r1 #8): against the EXACT n-gram Jaccard pair set (the
    ground truth an SQL oracle would compute), banded MinHash-LSH must
    reach >= 0.9 recall at threshold 0.5 on a corpus of planted
    mutations — and every reported candidate must itself verify (the
    pipeline re-verifies candidates, so precision is exactness, recall is
    the only probabilistic quantity)."""
    base = ("the quick brown fox jumps over the lazy dog near the old "
            "river bank {} while birds sing in the tall green trees")
    docs = []
    for i in range(30):
        docs.append((2 * i, base.format(f"day{i}")))
        # 1-token mutation -> high-Jaccard planted near-dup
        docs.append((2 * i + 1, base.format(f"day{i}") + " extra"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    gold = {(r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    got = {(r["id_a"], r["id_b"])
           for r in minhash_verified_pairs(df, threshold=0.5).collect()}
    assert gold, "ground truth must be non-empty"
    recall = len(gold & got) / len(gold)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9 ({len(gold)} gold)"


def test_simhash_pairs_exact_vs_bruteforce(spark):
    """simhash_pairs' pigeonhole chunk-bucketing must find EXACTLY the
    brute-force hamming<=3 pair set (it is exact by construction — any
    64-bit pair within 3 bit flips shares one untouched 16-bit chunk)."""
    base = ("the quick brown fox jumps over the lazy dog near the old "
            "river bank {} while birds sing in the tall green trees")
    docs = [(i, base.format(f"w{i % 7}")) for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    hs = {r["doc_id"]: r["simhash"]
          for r in with_simhash(df, "text").collect()}
    brute = {
        (a, b)
        for a in hs for b in hs if a < b
        and bin(hs[a] ^ hs[b]).count("1") <= 3
    }
    got = {(r["id_a"], r["id_b"]) for r in simhash_pairs(df, max_hamming=3).collect()}
    assert got == brute


def test_ngram_jaccard(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()}
    assert pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),   # near-dup of 1
        (3, [0.0, 1.0, 0.0], 0),
        (4, [1.0, 0.0, 0.0], 1),      # same direction but other block
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_neardup_pairs(df, block_col="label", threshold=0.99).collect()}
    assert pairs == {(1, 2)}  # (1,4) blocked apart, (1,3) orthogonal


def test_embedding_neardup_unblocked_uses_lsh_not_cross_join(spark):
    """Default (no block_col) derives internal random-hyperplane buckets:
    near-identical pairs are found, and the physical plan contains NO
    cartesian product (the VERDICT r1 scale-robustness fix)."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0, 0.0], 0),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = embedding_neardup_pairs(df, threshold=0.99)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (1, 4) not in pairs


def test_stats_yaml_null_category_safe(spark, tmp_path):
    """write_stats_yaml with NULL categories/predicates must not crash and
    must emit well-formed keys (ADVICE r1)."""
    from ecokg_spark.operators.stats import write_stats_yaml

    nodes = spark.createDataFrame(
        [("A:1", None), ("A:2", "biolink:OrganismTaxon")],
        "id string, category string")
    edges = spark.createDataFrame(
        [("A:1", None, "A:2")], "subject string, predicate string, object string")
    out = str(tmp_path / "stats.yaml")
    s = write_stats_yaml(nodes, edges, out)
    assert s["count_by_category"][""] == 1
    text = open(out).read()
    assert "    '':" in text  # empty key quoted, not a bare ':' line
    assert "    biolink:OrganismTaxon:" in text  # curie keys stay plain


def _planted_corpus(spark, n: int = 20):
    base = ("the quick brown fox jumps over the lazy dog near the old "
            "river bank {} while birds sing in the tall green trees")
    docs = []
    for i in range(n):
        docs.append((2 * i, base.format(f"day{i}")))
        docs.append((2 * i + 1, base.format(f"day{i}") + " extra"))
    return spark.createDataFrame(docs, "doc_id long, text string")


@pytest.mark.parametrize("n", [3, 5])
def test_minhash_verified_pairs_exhaustive_equals_exact_jaccard(spark, n):
    """minhash_verified_pairs at bands=k (1-row banding + exact verify —
    the contract row's recall-proof configuration) must return EXACTLY the
    exact-Jaccard pair relation: candidate recall at k=64 single-hash
    bands is 1-(1-j)^64 (~1 at any j >= 0.3), and the verification step
    recomputes the true Jaccard. Over n in {3, 5}: the minhashes must
    sign the same n-shingle sets the verify step compares."""
    df = _planted_corpus(spark)
    gold = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(df, n=n, threshold=0.4).collect()}
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
           for r in minhash_verified_pairs(df, threshold=0.4, n=n,
                                           bands=64).collect()}
    assert gold and got == gold


def test_minhash_verified_pairs_banded_default_recall_and_exactness(spark):
    """The PRODUCTION default (banded 16x4 candidates + exact verify,
    VERDICT r3 reshape) is probabilistic only in recall: every emitted
    pair must carry the exact Jaccard (a subset of the gold relation),
    and recall on planted high-j near-dups must stay >= 0.9."""
    df = _planted_corpus(spark, n=30)
    gold = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
           for r in minhash_verified_pairs(df, threshold=0.5).collect()}
    assert gold
    assert set(got) <= set(gold)  # exact precision: verify stage is exact
    assert all(gold[p] == j for p, j in got.items())
    recall = len(got) / len(gold)
    assert recall >= 0.9, f"banded recall {recall:.2f} < 0.9 ({len(gold)} gold)"


def test_minhash_banded_candidate_volume_drops_vs_exhaustive(spark):
    """The r3 scale fix in numbers: on a corpus of mutually-unrelated docs
    plus planted near-dups, the banded 16x4 candidate set must be >10x
    smaller than the exhaustive 1-row-per-band candidate set (which
    surfaces a pair whenever ANY of the 64 minhashes agree — the measured
    496k-candidates-from-5k-docs shape this replaces)."""
    from ecokg_spark.operators.dedup import _candidates, _shingle_sets

    # the real-web-text shape that blows up 1-row banding: every page
    # shares boilerplate (nav/footer) shingles with every other page
    # (pairwise shingle-Jaccard ~0.2) while bodies are unique
    boiler = ("home about contact privacy terms copyright all rights "
              "reserved site map login")
    docs = []
    for i in range(120):
        body = " ".join(f"tok{i}x{j}" for j in range(20))
        docs.append((2 * i, f"{boiler} {body}"))
        if i % 4 == 0:  # planted true near-dup
            docs.append((2 * i + 1, f"{boiler} {body} extra"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # threshold=0.0 disables the exhaustive path's agreement prefilter, so
    # both counts are the raw bucket-join candidate volume — the quantity
    # that squares at corpus scale (the measured 496k-from-5k-docs shape)
    sets = _shingle_sets(df, "text", "doc_id", 3)
    n_exhaustive = _candidates(sets, "doc_id", 0.0, 64, 64, "xxhash64").count()
    n_banded = _candidates(sets, "doc_id", 0.0, 64, 16, "xxhash64").count()
    assert n_banded >= 30  # every planted near-dup pair must surface
    assert n_exhaustive > 10 * n_banded, (
        f"banded candidates {n_banded} not >10x below exhaustive "
        f"{n_exhaustive}")


def test_minhash_banded_portable_matches_exact_on_planted(spark):
    """The portable md5 banded funnel (contract row minhash_banded) finds
    the planted near-dups with the exact Jaccard values — every output
    pair must agree with the exact n-gram relation."""
    df = _planted_corpus(spark, n=10)
    gold = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
           for r in minhash_verified_pairs(
               df, threshold=0.5, k=16, bands=4, portable=True).collect()}
    assert got and set(got) <= set(gold)
    assert all(gold[p] == j for p, j in got.items())
    # every planted sibling pair (j ~ 0.92; band-hit prob 1-(1-j^4)^4 ~
    # 0.99) must surface — deterministic under the md5 spec
    siblings = {(2 * i, 2 * i + 1) for i in range(10)}
    assert siblings <= set(got)
    # this corpus's CROSS pairs sit at j ~ 0.75, where 4x4 banding recalls
    # ~1-(1-0.75^4)^4 ~ 0.78 per pair; observed deterministic corpus
    # recall is 114/190 = 0.60 — the banding loss the md5-spec ORACLE
    # recomputes identically (the contract row certifies it bit-for-bit)
    assert len(got) >= 0.5 * len(gold)


def test_simhash_md5_spec_matches_python_reference(spark):
    """The portable md5 token-hash spec (bit i = bit (i%4) of hex digit
    (i//4) of md5(token)) must agree with an independent pure-Python
    implementation — this is the spec the DuckDB oracle recomputes."""
    import hashlib

    docs = [(0, "alpha beta gamma"), (1, "alpha beta gamma delta"),
            (2, ""), (3, "  Alpha   BETA  gamma ")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"]
           for r in with_simhash(df, "text", token_hash="md5").collect()}

    def py_simhash(text):
        toks = list(dict.fromkeys(" ".join(text.split()).lower().split(" ")))
        hashes = [hashlib.md5(t.encode()).hexdigest() for t in toks]
        out = 0
        for i in range(64):
            ones = sum(1 for h in hashes
                       if (int(h[i // 4], 16) >> (i % 4)) & 1)
            if ones * 2 > len(hashes):
                out |= (1 << i) if i < 63 else -(1 << 63)
        return out

    for doc_id, text in docs:
        assert got[doc_id] == py_simhash(text), (doc_id, text)


def test_embedding_neardup_exact_escape_hatch(spark):
    """exact=True (no block_col) must find ALL pairs — including ones the
    internal RP-LSH buckets could miss (ADVICE r2 behavior-change note)."""
    from ecokg_spark.operators.dedup import embedding_neardup_pairs

    vecs = [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.04, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [0.01, 0.999, 0.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"])
           for r in embedding_neardup_pairs(df, threshold=0.99, exact=True).collect()}
    assert got == {(0, 1), (2, 3)}


def test_line_dedup_boilerplate_removal(spark):
    """Inter-document line dedup: lines shared by >= 2 DISTINCT docs are
    boilerplate and dropped; a line repeated only within one document is
    kept (both copies); surviving lines keep their original order."""
    from ecokg_spark.operators.dedup import line_dedup

    rows = [
        (1, "accept cookies\nreal content one\naccept cookies\nfooter nav"),
        (2, "accept  cookies\nreal content two\nfooter nav"),
        (3, "unique page\nonly here\nonly here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, "text", "doc_id").collect()}
    # "accept cookies" (ws-normalized) and "footer nav" span docs 1+2 -> dropped
    assert out[1]["n_lines"] == 4 and out[1]["n_kept"] == 1
    assert out[1]["text"] == "real content one"
    assert out[2]["text"] == "real content two"
    # intra-doc repeat survives, order preserved
    assert out[3]["n_kept"] == 3
    assert out[3]["text"] == "unique page\nonly here\nonly here"


def test_line_dedup_all_boilerplate_empty(spark):
    from ecokg_spark.operators.dedup import line_dedup

    rows = [(1, "same line"), (2, "same line")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, "text", "doc_id").collect()}
    assert out[1]["text"] == "" and out[1]["n_kept"] == 0
    assert out[2]["n_lines"] == 1


def test_dup_span_stats_known_overlap(spark):
    from ecokg_spark.operators.dedup import dup_span_stats

    # doc 1 and 2 share the 3-gram "b c d"; doc 3 shares nothing
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e"), (3, "x y z w")],
        "doc_id int, text string")
    got = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
           for r in dup_span_stats(df, n=3).collect()}
    assert got == {1: (2, 1, 0.5), 2: (2, 1, 0.5), 3: (2, 0, 0.0)}


def test_dup_span_stats_identical_docs_full_fraction(spark):
    from ecokg_spark.operators.dedup import dup_span_stats

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps")],
        "doc_id int, text string")
    out = dup_span_stats(df, n=3).collect()
    assert all(r["dup_frac"] == 1.0 for r in out)
    # repeated shingle within one doc counts once (distinct spans)
    assert all(r["n_spans"] == 3 for r in out)


def test_decontaminate_flags_overlap_only(spark):
    from ecokg_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),     # shares 2 3-grams with eval 10
         (2, "alpha beta gamma epsilon"),   # shares 1 3-gram
         (3, "zeta eta theta iota")],       # shares none
        "doc_id int, text string")
    ev = spark.createDataFrame(
        [(10, "alpha beta gamma delta zzz")], "eval_id int, text string")
    got = {(r["doc_id"], r["eval_id"]): r["n_shared"]
           for r in decontaminate(docs, ev, n=3, min_shared=2).collect()}
    assert got == {(1, 10): 2}
    one = decontaminate(docs, ev, n=3, min_shared=1)
    assert {(r["doc_id"], r["eval_id"]) for r in one.collect()} == {
        (1, 10), (2, 10)}


def test_paragraph_dedup_drops_cross_doc_paragraphs(spark):
    from ecokg_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "unique one\n\nCOOKIE BANNER\n\nreal content a"),
         (2, "COOKIE BANNER\n\nreal content b"),
         (3, "all original\n\nhere")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert out[1]["n_paras"] == 3 and out[1]["n_kept"] == 2
    assert out[1]["text"] == "unique one\n\nreal content a"
    assert out[2]["text"] == "real content b"
    # single newlines inside a paragraph are NOT split points
    assert out[3]["n_paras"] == 2 and out[3]["n_kept"] == 2


def test_paragraph_dedup_within_doc_repeat_kept(spark):
    from ecokg_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "same para\n\nsame para"), (2, "other")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert out[1]["n_kept"] == 2      # repeats within ONE doc survive


def _emb_fixture(spark):
    # 1~2 near-dup (cos ~ 1), 3 far; 4~5~6 a chain in its own block:
    # 4~5 and 5~6 close, 4~6 below threshold
    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [0.9999, 0.01, 0.0], "a"),
        (3, [0.0, 1.0, 0.0], "a"),
        (4, [1.0, 0.0, 0.0], "b"),
        (5, [0.995, 0.0998, 0.0], "b"),     # ~5.7 deg from 4
        (6, [0.9703, 0.2419, 0.0], "b"),    # ~14 deg from 4, ~8.3 from 5
    ]
    return spark.createDataFrame(
        rows, "doc_id long, embedding array<double>, label string")


def test_semantic_dedup_dominance(spark):
    from ecokg_spark.operators.dedup import semantic_dedup

    df = _emb_fixture(spark)
    kept = {r["doc_id"] for r in
            semantic_dedup(df, "embedding", "doc_id", block_col="label",
                           threshold=0.98).collect()}
    # dominance: 2 dropped (1 smaller neighbor), 5 dropped (4), 6 dropped
    # (5 is a smaller neighbor even though 5 itself is dropped)
    assert kept == {1, 3, 4}


def test_semantic_dedup_transitive_one_per_component(spark):
    from ecokg_spark.operators.dedup import semantic_dedup

    df = _emb_fixture(spark)
    kept = {r["doc_id"] for r in
            semantic_dedup(df, "embedding", "doc_id", block_col="label",
                           threshold=0.98, transitive=True).collect()}
    # component {4,5,6} keeps its min; {1,2} keeps 1; 3 isolated
    assert kept == {1, 3, 4}


def test_semantic_dedup_exact_smallcorpus(spark):
    from ecokg_spark.operators.dedup import semantic_dedup

    df = _emb_fixture(spark).drop("label")
    kept = {r["doc_id"] for r in
            semantic_dedup(df, "embedding", "doc_id", threshold=0.98,
                           exact=True).collect()}
    # without label blocking, 4 ([1,0,0]) is an exact dup of 1 — dropped too
    assert kept == {1, 3}


def test_containment_catches_excerpt_jaccard_misses(spark):
    from ecokg_spark.operators.dedup import (containment_pairs,
                                             ngram_jaccard_pairs)

    big = " ".join(f"tok{i}" for i in range(100))
    excerpt = " ".join(f"tok{i}" for i in range(10))   # first 10 tokens
    df = spark.createDataFrame(
        [(1, big), (2, excerpt), (3, "totally different words here")],
        "doc_id int, text string")
    got = {(r["id_a"], r["id_b"]): r
           for r in containment_pairs(df, threshold=0.9).collect()}
    assert set(got) == {(1, 2)}
    # excerpt fully inside big: containment_b = 1.0, tiny the other way
    assert got[(1, 2)]["containment_b"] == 1.0
    assert got[(1, 2)]["containment_a"] < 0.1
    # resemblance misses the same pair even at a low threshold
    assert ngram_jaccard_pairs(df, threshold=0.3).count() == 0


def test_containment_blocked_variant(spark):
    from ecokg_spark.operators.dedup import containment_pairs

    txt = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, txt, "x"), (2, txt, "x"), (3, txt, "y")],
        "doc_id int, text string, lbl string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             containment_pairs(df, block_col="lbl", threshold=0.9).collect()}
    assert pairs == {(1, 2)}   # cross-block pair (1,3)/(2,3) never generated


def test_remove_dup_spans_cuts_shared_block_keeps_unique(spark):
    from ecokg_spark.operators.dedup import remove_dup_spans

    df = spark.createDataFrame([
        (1, "SPAM BLOCK one two three four five six seven unique tail alpha"),
        (2, "SPAM BLOCK one two three four five six seven other ending beta"),
        (3, "completely original document with its own words entirely"),
    ], "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           remove_dup_spans(df, n=4, min_docs=2).collect()}
    # the 9-token shared block is fully covered by duplicated 4-grams
    assert out[1]["text"] == "unique tail alpha"
    assert out[2]["text"] == "other ending beta"
    assert out[1]["n_tokens"] == 12 and out[1]["n_kept"] == 3
    # untouched document survives verbatim
    assert out[3]["n_kept"] == out[3]["n_tokens"] == 8


def test_remove_dup_spans_within_doc_repeat_not_cut(spark):
    from ecokg_spark.operators.dedup import remove_dup_spans

    # the same 4-gram twice WITHIN one doc is not cross-document dup
    df = spark.createDataFrame([
        (1, "a b c d x a b c d"), (2, "totally different words here now")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           remove_dup_spans(df, n=4, min_docs=2).collect()}
    assert out[1]["n_kept"] == out[1]["n_tokens"] == 9


def test_remove_dup_spans_short_docs_untouched(spark):
    from ecokg_spark.operators.dedup import remove_dup_spans

    # docs shorter than n produce no shingles and keep all tokens
    df = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc")], "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           remove_dup_spans(df, n=8, min_docs=2).collect()}
    assert all(r["n_kept"] == r["n_tokens"] == 2 for r in out.values())


def test_semantic_dedup_transitive_long_string_ids(spark):
    from ecokg_spark.operators.dedup import semantic_dedup

    # >20-char string ids must NOT collide (lpad truncation regression)
    rows = [
        ("NCBIGene:100000000001", [1.0, 0.0], "x"),
        ("NCBIGene:100000000002", [0.0, 1.0], "x"),   # NOT a near-dup
        ("NCBIGene:100000000003", [0.9999, 0.005], "x"),  # dup of ...001
    ]
    df = spark.createDataFrame(rows, "doc_id string, embedding array<double>, label string")
    kept = {r["doc_id"] for r in
            semantic_dedup(df, "embedding", "doc_id", block_col="x"
                           if False else "label", threshold=0.99,
                           transitive=True).collect()}
    assert kept == {"NCBIGene:100000000001", "NCBIGene:100000000002"}


def test_fuzzy_dedup_keeps_one_per_cluster(spark):
    """End-to-end funnel: near-identical docs collapse to the min id;
    the unique doc survives untouched."""
    from ecokg_spark.operators.dedup import fuzzy_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, base),
         (4, "completely different content about spark engines at scale")],
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in fuzzy_dedup(
        docs, threshold=0.5, transitive=True).collect())
    assert 4 in kept and 1 in kept
    assert 3 not in kept  # exact dup of 1
    assert kept == sorted(kept)


def test_fuzzy_dedup_transitive_chain_single_survivor(spark):
    """A ~ B and B ~ C but A !~ C: transitive CC still keeps ONE doc."""
    from ecokg_spark.operators.dedup import fuzzy_dedup

    w = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
         "theta", "iota", "kappa"]
    a = " ".join(w)
    b = " ".join(w[2:] + ["mu", "nu"])       # overlaps a
    c = " ".join(w[4:] + ["mu", "nu", "xi", "omicron"])  # overlaps b more than a
    docs = spark.createDataFrame(
        [(10, a), (20, b), (30, c)], "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in fuzzy_dedup(
        docs, threshold=0.3, transitive=True).collect())
    # whatever pairs the banding yields, survivors must be cluster minima:
    # if all three chain together only 10 survives
    assert 10 in kept


def test_hll_distinct_accuracy_and_merge(spark):
    """Estimate within a few percent of the true cardinality; register
    tables from two halves merge (max per bucket) to the full estimate."""
    from pyspark.sql import functions as F

    from ecokg_spark.operators.sketch import (hll_distinct, hll_estimate,
                                              hll_registers)

    df = spark.range(20000).select(
        F.concat(F.lit("u-"), F.col("id")).alias("u"))
    est = hll_distinct(df, "u", p=12).collect()[0]["estimate"]
    assert abs(est - 20000) / 20000 < 0.05

    # mergeability: max-combine two halves' registers == whole registers
    a = hll_registers(df.where(F.col("u") < "u-2"), "u", p=12)
    b = hll_registers(df.where(~(F.col("u") < "u-2")), "u", p=12)
    merged = (a.unionByName(b).groupBy("bucket")
              .agg(F.max("register").alias("register")))
    est_m = hll_estimate(merged, p=12).collect()[0]["estimate"]
    assert est_m == est


def test_hll_duplicates_do_not_inflate(spark):
    from pyspark.sql import functions as F

    from ecokg_spark.operators.sketch import hll_distinct

    base = spark.range(1000).select(
        F.concat(F.lit("k"), (F.col("id") % 100)).alias("k"))
    est = hll_distinct(base, "k", p=12).collect()[0]["estimate"]
    assert abs(est - 100) < 5


def test_incremental_dedup_four_gates(spark):
    """Each funnel stage drops exactly its case: batch-exact dup,
    corpus-exact dup, corpus-near dup, batch-near dominance."""
    from ecokg_spark.operators.dedup import incremental_dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    corpus = spark.createDataFrame(
        [(100, base), (102, "totally different corpus content here "
                            "about engines and scale and shuffles")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "a genuinely new document with fresh words entirely "
             "unseen before anywhere"),
         (3, base),                                   # corpus-exact dup
         (5, base + " extra tail"),                   # corpus-near dup
         (7, "a genuinely new document with fresh words entirely "
             "unseen before anywhere"),               # batch-exact dup of 1
         (9, "independent second admission with its own novel "
             "vocabulary and nothing shared"),
         (11, "independent second admission with its own novel "
              "vocabulary and nothing shared plus tail")],  # near dup of 9
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in incremental_dedup(
        new, corpus, threshold=0.5).collect())
    assert kept == [1, 9]


def test_count_min_upper_bound_and_merge(spark):
    """Estimates are >= true counts (never undercount) and close at this
    sketch size; cell-wise-summed tables equal the whole-corpus table."""
    from pyspark.sql import functions as F

    from ecokg_spark.operators.sketch import (count_min_estimate,
                                              count_min_table)

    vals = (["hot"] * 500) + (["warm"] * 50) + [f"cold-{i}" for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    counters = count_min_table(df, "v", w=512, d=4)
    q = spark.createDataFrame([("hot",), ("warm",), ("absent",)], "v string")
    got = {r["v"]: r["estimate"] for r in count_min_estimate(
        counters, q, "v", w=512, d=4).collect()}
    assert got["hot"] >= 500 and got["hot"] <= 510
    assert got["warm"] >= 50 and got["warm"] <= 60
    assert got["absent"] <= 5  # only collision mass

    # mergeability on a clean split: rebuild from two disjoint halves
    a = spark.createDataFrame([(v,) for v in vals[:300]], "v string")
    b = spark.createDataFrame([(v,) for v in vals[300:]], "v string")
    merged = (count_min_table(a, "v", w=512, d=4)
              .unionByName(count_min_table(b, "v", w=512, d=4))
              .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt")))
    whole = counters
    diff = merged.join(whole, ["row", "bucket"], "full") \
        .where(F.coalesce(merged["cnt"], F.lit(0)) != F.coalesce(whole["cnt"], F.lit(0)))
    assert diff.count() == 0


def test_bloom_no_false_negatives_and_merge(spark):
    from pyspark.sql import functions as F

    from ecokg_spark.operators.sketch import bloom_bits, bloom_might_contain

    members = spark.createDataFrame(
        [(f"m-{i}",) for i in range(500)], "v string")
    bits = bloom_bits(members, "v", m=1 << 14, k=5)
    probes = spark.createDataFrame(
        [(f"m-{i}",) for i in range(0, 500, 50)]
        + [(f"x-{i}",) for i in range(100)], "v string")
    got = {r["v"]: r["might_contain"] for r in bloom_might_contain(
        probes, bits, "v", m=1 << 14, k=5).collect()}
    assert all(got[f"m-{i}"] for i in range(0, 500, 50))  # no false negatives
    fp = sum(got[f"x-{i}"] for i in range(100))
    assert fp <= 5  # ~0.0005 expected rate at this sizing

    # merge = union+distinct of bit-sets
    b1 = bloom_bits(members.where(F.col("v") < "m-25"), "v", m=1 << 14, k=5)
    b2 = bloom_bits(members.where(~(F.col("v") < "m-25")), "v", m=1 << 14, k=5)
    merged = b1.unionByName(b2).distinct()
    assert merged.subtract(bits).count() == 0
    assert bits.subtract(merged).count() == 0


def test_semdedup_clustered_drops_planted(spark):
    """kmeans-partitioned SemDeDup: planted near-copies in the same
    cluster are dropped, originals and distinct vectors survive."""
    from ecokg_spark.operators.dedup import semdedup_clustered

    def vec(i):
        b = i % 3
        return [10.0 * (b == 0), 10.0 * (b == 1), 10.0 * (b == 2),
                float((i * 3) % 7), float((i * 5) % 11), float(i % 4),
                float((i * 2) % 5), 1.0]

    # 24 originals in 3 separated blobs (max pairwise cosine ~0.984,
    # verified offline), plus 4 planted near-copies with larger ids
    rows = [(i, vec(i)) for i in range(24)]
    for i in range(4):
        base = vec(i)
        base[0] += 0.001
        rows.append((1000 + i, base))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = semdedup_clustered(df, k=3, iterations=1, threshold=0.999)
    ids = {r["vec_id"] for r in kept.collect()}
    assert set(range(24)) <= ids          # all originals kept (min ids)
    assert not any(i >= 1000 for i in ids)  # planted copies dropped


def test_winnow_fingerprints_guarantee(spark):
    """The winnowing guarantee: two documents sharing a run of
    >= w + k - 1 tokens share at least one fingerprint HASH, and the
    fingerprint set is much smaller than the shingle set."""
    from ecokg_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, "one two three " + shared + " four five six"),
        (2, "seven eight " + shared + " nine ten eleven twelve"),
        (3, "totally different words with no overlap at all here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fp = winnow_fingerprints(df, k=5, w=4).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["hash"])
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # density ~2/(w+1): far fewer fingerprints than shingles (16 shingles)
    assert len(by_doc[1]) < 16


def test_winnow_fingerprints_short_doc_and_determinism(spark):
    from ecokg_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y")], "doc_id long, text string")
    fp = winnow_fingerprints(df, k=5, w=4)
    rows = sorted(map(tuple, fp.collect()))
    # doc 1: 2 shingles < w -> its global rightmost-min only
    assert len([r for r in rows if r[0] == 1]) == 1
    # doc 2: shorter than k tokens -> ONE whole-text shingle (the
    # word_shingles short-doc contract) -> one fingerprint at pos 0
    assert [r[1] for r in rows if r[0] == 2] == [0]
    assert rows == sorted(map(tuple, winnow_fingerprints(
        df, k=5, w=4).collect()))
