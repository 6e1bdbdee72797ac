"""Deduplication operators for web-scale training-data pipelines.

Five strategies, cheapest-first — each returns either a survivor set or a
duplicate-pair table so callers can pick keep/drop policy:

  exact_dedup           md5-of-normalized-text groupBy (one shuffle on a
                        16-byte key; at 100 TB this is the always-first pass)
  minhash_verified_pairs word-shingle MinHash + banded LSH bucket join ->
                        candidate pairs -> exact Jaccard verify, over the
                        one banding kernel `minhash_bands` (`xxhash64`
                        Catalyst expressions, or a portable md5 spec a SQL
                        oracle recomputes); the shuffle key is
                        (band_idx, band_key) — uniform by construction, no
                        skew.
  simhash_pairs         64-bit SimHash (Charikar) via bit-vote aggregation
                        over token hashes, pure expressions; near-dup =
                        hamming distance <= k via xor+popcount. Banded on
                        16-bit chunks so candidate generation is a bucket
                        join, not a cross join.
  ngram_jaccard_pairs   exact n-gram-set Jaccard via explode + count —
                        the verifier LSH approximates; also standalone for
                        small/blocked inputs.
  embedding_neardup     cosine >= threshold pairs over an embedding column,
                        blocked to avoid the full cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ecokg_spark.functions.text import (
    doc_fingerprint,
    normalize_ws,
    with_word_shingles,
    word_shingles,
)

MINHASH_K = 64
BANDS = 16
ROWS = MINHASH_K // BANDS


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per normalized-text fingerprint."""
    fp = df.withColumn("_fp", doc_fingerprint(text_col))
    keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, [ "_fp", id_col], "inner").drop("_fp")


def minhash_bands(shingles: DataFrame, keys: list[str], k: int, bands: int,
                  spec: str = "xxhash64") -> DataFrame:
    """(keys..., band_idx, band_key) MinHash-LSH banding table — the one
    signature-and-banding kernel behind every MinHash caller (the dedup
    funnels below and linking.lsh_band_table).

    `shingles` holds one exploded row per shingle, (keys..., _sh), so a
    funnel signs exactly the set it verifies. Signature value i is the
    aggregate min(hash_i(_sh)) over those rows: small codegen, one keyed
    shuffle (inlining a shingle expression into the k hash expressions
    instead makes codegen take minutes). Band b covers signature values
    b*rows .. b*rows + rows-1, rows = k/bands.

    spec:
      'xxhash64'  hash_i(s) = xxhash64(s, i); band key = xxhash64(b, the
                  band's values). JVM codegen — the production path.
      'md5'       PORTABLE: hash_i(s) = the first 15 hex chars of
                  md5('<i>:' || s) parsed base-16 (60 bits, fits BIGINT on
                  any engine; Spark parses with conv(), DuckDB with a
                  strpos digit polynomial); band key = the band's values
                  comma-joined in seed order — a plain string both engines
                  format identically, so a SQL oracle recomputes the
                  banding (losses and all) bit for bit.
    """
    if k % bands != 0:
        raise ValueError(f"bands={bands} must divide k={k}")
    rows = k // bands
    if spec == "xxhash64":
        def minhash(seed: int) -> Column:
            return F.xxhash64("_sh", F.lit(seed))

        def band_key(b: int, vals: list[Column]) -> Column:
            return F.xxhash64(F.lit(b), *vals)
    elif spec == "md5":
        def minhash(seed: int) -> Column:
            h = F.md5(F.concat(F.lit(f"{seed}:"), F.col("_sh")))
            return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")

        def band_key(b: int, vals: list[Column]) -> Column:
            return F.concat_ws(",", *[v.cast("string") for v in vals])
    else:
        raise ValueError(f"spec={spec!r}")
    sig = shingles.groupBy(*keys).agg(
        *[F.min(minhash(i)).alias(f"_m{i}") for i in range(k)])
    keys_by_band = F.array(*[
        band_key(b, [F.col(f"_m{b * rows + r}") for r in range(rows)])
        for b in range(bands)
    ])
    return sig.select(
        *keys, F.posexplode(keys_by_band).alias("band_idx", "band_key"))


def _shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, _set array<string>) — distinct word n-shingles per doc."""
    from ecokg_spark.functions.text import shingles_from_tokens

    return (
        df.select(F.col(id_col), F.split(F.lower(normalize_ws(F.col(text_col))), " ").alias("_toks"))
        .select(id_col, F.array_distinct(shingles_from_tokens(F.col("_toks"), n)).alias("_set"))
    )


def _set_bands(sets: DataFrame, id_col: str, k: int, bands: int,
               spec: str) -> DataFrame:
    """minhash_bands over a (id, _set) shingle-set table."""
    return minhash_bands(sets.select(id_col, F.explode("_set").alias("_sh")),
                         [id_col], k, bands, spec)


def _band_join(bands_a: DataFrame, id_col: str,
               bands_b: DataFrame | None = None) -> DataFrame:
    """(id_a, id_b), one row per shared (band_idx, band_key) bucket — the
    uniform bucket-join shuffle. id_a comes from bands_a, id_b from
    bands_b; without bands_b it is a self-join keeping id_a < id_b."""
    a = bands_a.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    b = (bands_a if bands_b is None else bands_b).select(
        F.col(id_col).alias("id_b"), "band_idx", "band_key")
    pairs = a.join(b, ["band_idx", "band_key"])
    if bands_b is None:
        pairs = pairs.where(F.col("id_a") < F.col("id_b"))
    return pairs.select("id_a", "id_b")


def _verify(cand: DataFrame, id_col: str, threshold: float,
            sets_a: DataFrame, sets_b: DataFrame | None = None) -> DataFrame:
    """Join candidate pairs (id_a, id_b) to their shingle arrays — id_a
    from sets_a, id_b from sets_b (default sets_a) — exact Jaccard
    (array_intersect, JVM-side), threshold."""
    sets_b = sets_a if sets_b is None else sets_b
    pa = sets_a.select(F.col(id_col).alias("id_a"), F.col("_set").alias("_seta"))
    pb = sets_b.select(F.col(id_col).alias("id_b"), F.col("_set").alias("_setb"))
    inter = F.size(F.array_intersect("_seta", "_setb"))
    jac = inter / (F.size("_seta") + F.size("_setb") - inter)
    return (
        cand.join(pa, "id_a").join(pb, "id_b")
        .select("id_a", "id_b", jac.cast("double").alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _candidates(sets: DataFrame, id_col: str, threshold: float, k: int,
                bands: int, spec: str) -> DataFrame:
    """Candidate (id_a, id_b) pairs within one shingle-set table."""
    pairs = _band_join(_set_bands(sets, id_col, k, bands, spec), id_col)
    if bands == k and spec == "xxhash64":
        # exhaustive: every minhash is its own band; agreement count ==
        # per-pair row count in the bucket join (no sig arrays ride it),
        # and the estimator prefilter culls the bulky candidate set. The
        # portable spec takes no estimator cut, so its relation stays
        # exactly what a SQL oracle recomputes.
        est_floor = max(threshold - 0.25, 0.0)
        return (
            pairs.groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_agree"))
            .where(F.col("_agree") >= F.lit(est_floor * k))
            .select("id_a", "id_b")
        )
    # banded: one hash per band over its `rows` sig values — uniform
    # (band_idx, band_key) shuffle key, candidates ~ true near-dup pairs
    # only, so no prefilter is needed
    return pairs.dropDuplicates(["id_a", "id_b"])


def minhash_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = MINHASH_K,
    n: int = 3,
    bands: int = BANDS,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, jaccard) with EXACT shingle-set
    Jaccard >= threshold — the deployable LSH-then-verify funnel.

    Candidate generation is BANDED (bands x k/bands; default 16x4,
    VERDICT r3): a pair is a candidate iff all `rows = k/bands` minhashes
    of some band agree, so P(candidate) = 1-(1-j^rows)^bands — at the
    default 16x4 that is ~1.6e-7 for unrelated web pages (j=0.01) vs
    ~0.47 for the one-row-per-band shape this replaces, which surfaced
    ~4% of ALL pairs (496k candidates from the 5k-doc bench corpus, a
    candidate-volume curve that approaches O(N^2) on real web text).
    Candidate recall at Jaccard j is 1-(1-j^rows)^bands (e.g. 0.64 at
    j=0.5, ~1.0 at j>=0.8 for 16x4) — tune bands/rows to the dedup
    threshold, or pass `bands=k` for the exhaustive one-row-per-band
    configuration (miss probability (1-j)^k < 1e-19 at j>=0.5, k=64) when
    the output must be exactly the all-pairs relation (recall proofs,
    oracle rows; contract.q_minhash_neardup uses this).

    The exhaustive path keeps its estimator prefilter: with one hash per
    band, a pair's ROW COUNT in the bucket join IS its agreeing-hash
    count, so candidates below `threshold - 0.25` estimated Jaccard
    (>= 4-sigma below a true pair's Binomial(k, j)/k mean, ~1e-5 miss at
    k=64) drop before the verify join — measured ~1000x verify-volume cut.
    The banded path needs no prefilter: its candidates are already rare.

    Final stage for both: exact Jaccard via array_intersect over the
    materialized distinct-shingle arrays; only the exact value is emitted
    and thresholded. The minhashes sign the same word n-shingle sets the
    verify step compares.

    ``portable=True`` bands under the portable md5 spec (minhash_bands)
    without the estimator prefilter, so a SQL oracle recomputes the
    IDENTICAL relation, banding losses and all: the contract row
    minhash_banded certifies the production plan shape itself at k=16 x
    4 bands (tractable oracle md5 volume, the same rows=4 banding)."""
    sets = _shingle_sets(df, text_col, id_col, n)
    cand = _candidates(sets, id_col, threshold, k, bands,
                       "md5" if portable else "xxhash64")
    return _verify(cand, id_col, threshold, sets)


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Cross-snapshot incremental deduplication: admit only the rows of a
    NEW crawl batch that are neither exact nor near duplicates of the
    EXISTING corpus, nor of an earlier (smaller-id) admitted row in the
    same batch — the snapshot-over-snapshot ingestion gate every
    continuously-crawled corpus needs (new CC snapshot vs what's already
    in the training set).

    Four-stage funnel, applied in this order (mirrored by the oracle):
      1. exact within batch  — keep the min-id row per fingerprint;
      2. exact vs corpus     — anti-join on the corpus fingerprint set;
      3. near vs corpus      — banded portable-md5 minhash candidates
                               (new bands JOIN corpus bands), exact
                               Jaccard >= threshold verify, drop matches;
      4. near within batch   — banded pairs among survivors, dominance
                               rule (drop the larger id of a verified
                               pair; transitive chains may keep >1 per
                               neighborhood — use fuzzy_dedup on a full
                               rebuild when cluster-exact retention
                               matters).

    100-TB shape: stage 2 is one shuffle on a 16-byte key against a
    fingerprint INDEX (persist the corpus fingerprints/bands once, reuse
    per snapshot); stage 3's bucket join touches only band-key collisions
    (~true near-dups); nothing ever rescans the corpus text. Returns the
    admitted rows of `new_docs`.
    """
    fp_new = new_docs.withColumn("_fp", doc_fingerprint(text_col))
    keep1 = fp_new.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    s1 = fp_new.join(keep1, ["_fp", id_col])
    cfp = corpus.select(doc_fingerprint(text_col).alias("_fp")).distinct()
    s2 = s1.join(cfp, "_fp", "left_anti").drop("_fp")

    # md5 spec — exactly what the SQL oracle recomputes; xxhash64 is the
    # production banding (same funnel; ~6x faster hashing)
    spec = "md5" if portable else "xxhash64"
    nsets = _shingle_sets(s2, text_col, id_col, n)
    csets = _shingle_sets(corpus, text_col, id_col, n)
    nband = _set_bands(nsets, id_col, k, bands, spec)
    cband = _set_bands(csets, id_col, k, bands, spec)
    cross = _band_join(nband, id_col, cband).dropDuplicates(["id_a", "id_b"])
    hit = _verify(cross, id_col, threshold, nsets, csets)
    s3 = s2.join(hit.select(F.col("id_a").alias(id_col)).distinct(),
                 id_col, "left_anti")

    # stage 4 reuses the stage-3 bands/sets (one minhash pass for both
    # stages), restricted to the stage-3 survivors
    band3 = nband.join(s3.select(id_col), id_col, "left_semi")
    cand3 = _band_join(band3, id_col).dropDuplicates(["id_a", "id_b"])
    batch_pairs = _verify(cand3, id_col, threshold, nsets)
    drops = batch_pairs.select(F.col("id_b").alias(id_col)).distinct()
    return s3.join(drops, id_col, "left_anti")


def _mask(i: int) -> int:
    return (1 << i) if i < 63 else -(1 << 63)  # sign bit as min-long


def with_simhash(df: DataFrame, text_col: str, out_col: str = "simhash",
                 bits: int = 64, token_hash: str = "xxhash64") -> DataFrame:
    """Add a 64-bit Charikar SimHash column (majority vote of bit i over
    hash(token), assembled by bitwise OR — overflow-free).

    Staged projections (tokens -> hashes -> votes -> hash) keep every
    codegen expression small; the vote layer is `bits` tiny exprs over ONE
    materialized hash-array column.

    token_hash: 'xxhash64' (default — fastest, JVM codegen) or 'md5'
    (PORTABLE spec: bit i of a token's hash = bit (i mod 4) of hex digit
    (i div 4) of md5(token) — recomputable verbatim in any engine with
    md5 + substring, which is what makes `simhash_pairs` oracle-checkable
    cross-engine; same pigeonhole guarantees, ~2x slower)."""
    toks = F.array_distinct(F.split(F.lower(normalize_ws(F.col(text_col))), " "))
    if token_hash == "md5":
        staged = df.withColumn("_th", F.transform(toks, lambda t: F.md5(t)))

        def vote(i: int):
            d, b = i // 4, i % 4
            ones = F.size(F.filter(
                F.col("_th"),
                lambda h: F.conv(F.substring(h, d + 1, 1), 16, 10)
                .cast("int").bitwiseAND(F.lit(1 << b)) != 0,
            ))
            return ones * 2 > F.size(F.col("_th"))
    else:
        staged = df.withColumn("_th", F.transform(toks, lambda t: F.xxhash64(t)))

        def vote(i: int):
            # NB: single-arg lambda — a second lambda param would make Spark
            # pass the element index into it
            ones = F.size(F.filter(F.col("_th"), lambda h: h.bitwiseAND(F.lit(_mask(i))) != 0))
            return ones * 2 > F.size(F.col("_th"))

    votes = staged.withColumn("_votes", F.array(*[vote(i) for i in range(bits)]))
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.when(F.element_at(F.col("_votes"), i + 1), F.lit(_mask(i))).otherwise(F.lit(0))
        )
    return votes.withColumn(out_col, out).drop("_th", "_votes")


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidate generation: split the 64-bit hash into 4 x 16-bit chunks —
    any pair within hamming 3 agrees on >= 1 chunk (pigeonhole), so a
    bucket join on (chunk_idx, chunk_value) finds all of them — EXACT
    recall by construction, for either token_hash spec (see with_simhash;
    'md5' makes the output relation recomputable by a SQL oracle)."""
    h = with_simhash(df.select(id_col, text_col), text_col, "_sh",
                     token_hash=token_hash).select(id_col, "_sh")
    chunks = h.select(
        id_col,
        "_sh",
        F.posexplode(
            F.array(*[F.shiftrightunsigned("_sh", 16 * c).bitwiseAND(F.lit(0xFFFF))
                      for c in range(4)])
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"),
                      "chunk_idx", "chunk_val")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"),
                      "chunk_idx", "chunk_val")
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", hamming64(F.col("_sh_a"), F.col("_sh_b")).alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram-set Jaccard pairs >= threshold via explode + count
    (inverted-index join — each shared shingle contributes one row, so
    cost is sum of posting-list squares, bounded by blocking)."""
    sh = with_word_shingles(
        df.select(F.col(id_col),
                  *([F.col(block_col)] if block_col else []),
                  F.col(text_col)),
        text_col, k=n, distinct=True,
    ).select(id_col, *([block_col] if block_col else []), "_sh")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("_sz"))
    join_keys = ["_sh"] + ([block_col] if block_col else [])
    a = sh.select(*[F.col(c) for c in join_keys], F.col(id_col).alias("id_a"))
    b = sh.select(*[F.col(c) for c in join_keys], F.col(id_col).alias("id_b"))
    inter = (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("_inter") / (F.col("_sza") + F.col("_szb") - F.col("_inter")))
            .alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Broder CONTAINMENT pairs: C(A,B) = |A∩B| / |A| over n-gram shingle
    sets (Broder 1997, "On the resemblance and containment of documents").
    Jaccard misses subset duplication — a paragraph quoted inside a much
    larger page scores near-zero resemblance but containment ~1 — so this
    is the right detector for quote/wrapper/excerpt duplication in a web
    corpus. A pair is emitted when EITHER direction's containment reaches
    ``threshold``.

    Same inverted-index plan as ``ngram_jaccard_pairs`` (posting-list
    equi-join on the shingle, one count aggregate, two size joins); pass
    ``block_col`` at corpus scale to bound hot-shingle posting lists.

    Returns (id_a, id_b, containment_a, containment_b) where
    containment_a = |A∩B|/|A| (how much of A is inside B), id_a < id_b.
    """
    sh = with_word_shingles(
        df.select(F.col(id_col),
                  *([F.col(block_col)] if block_col else []),
                  F.col(text_col)),
        text_col, k=n, distinct=True,
    ).select(id_col, *([block_col] if block_col else []), "_sh")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("_sz"))
    join_keys = ["_sh"] + ([block_col] if block_col else [])
    a = sh.select(*[F.col(c) for c in join_keys], F.col(id_col).alias("id_a"))
    b = sh.select(*[F.col(c) for c in join_keys], F.col(id_col).alias("id_b"))
    inter = (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            (F.col("_inter") / F.col("_sza")).alias("containment_a"),
            (F.col("_inter") / F.col("_szb")).alias("containment_b"),
        )
        .where(F.greatest("containment_a", "containment_b") >= threshold)
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Inter-document duplicated-span signal per document: of a document's
    DISTINCT word n-grams, how many also occur in at least one OTHER
    document (Lee et al. 2022's ExactSubstr dedup, approximated at the
    word-n-gram grain — the scalable posting-list form of their
    suffix-array substring match). Returns (id, n_spans, n_dup_spans,
    dup_frac); filter on dup_frac to drop documents that are mostly
    copied from elsewhere in the corpus.

    Shape at scale: shingles are distinct WITHIN a doc, so the per-shingle
    group count IS the number of containing docs — one map-side-combinable
    hash aggregate on the shingle, one join back on the same key (no
    second shuffle of the postings: the aggregate output is co-partitioned
    with the join input), one aggregate on doc id. The raw division is
    left unrounded: a ratio of two small ints is the same IEEE double in
    any engine."""
    sh = with_word_shingles(
        df.select(id_col, text_col), text_col, k=n, distinct=True,
    ).select(id_col, "_sh")
    ndocs = sh.groupBy("_sh").agg(F.count(F.lit(1)).cast("long").alias("_nd"))
    return (
        sh.join(ndocs, "_sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0))
            .cast("long").alias("n_dup_spans"),
        )
        .withColumn("dup_frac", F.col("n_dup_spans") / F.col("n_spans"))
    )


def remove_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (Lee et al. 2022 cut the
    repeated substring out of the text; ``dup_span_stats`` only measures
    it). A token is removed when it is covered by any word n-gram whose
    normalized form occurs in >= ``min_docs`` DISTINCT documents — the
    cross-document grain (matching line_dedup's convention; the paper's
    suffix-array variant also removes within-document repeats, which the
    n-gram census deliberately does not count as duplication).

    Returns (id_col, n_tokens, n_kept, text) with text rebuilt from the
    surviving tokens in order.

    100-TB shape: the n-gram census is ONE hash aggregate on the shingle
    key (map-side partials absorb the Zipf head), the dup filter joins
    back on the same key (left semi, co-partitioned), covered positions
    explode n-wide per dup occurrence (bounded fanout) and collapse with
    one distinct on (id, pos), and the rebuild is one groupBy(id) bounded
    by document size. No cross join, no driver state.
    """
    arr = df.select(F.col(id_col),
                    F.split(normalize_ws(text_col), " ").alias("_arr"))
    toks = arr.select(
        F.col(id_col), F.posexplode("_arr").alias("_pos", "_tok"))
    # positional shingles; the full-range transform + slice avoids a
    # descending sequence() when the doc has < n tokens (slice length
    # clamps at 0). `_arr` is a staged column, not a closed-over expr —
    # higher-order lambdas are interpreted with no CSE (verify skill).
    m = F.greatest(F.size("_arr") - F.lit(n - 1), F.lit(0))
    shingles = F.slice(
        F.transform(
            F.sequence(F.lit(1), F.size("_arr")),
            lambda i: F.struct(
                (i - 1).alias("_pos"),
                F.lower(F.concat_ws(" ", F.slice("_arr", i, n))).alias("_sh"),
            ),
        ),
        1, m,
    )
    occ = arr.select(F.col(id_col), F.explode(shingles).alias("_o")).select(
        F.col(id_col),
        F.col("_o._pos").alias("_pos"),
        F.col("_o._sh").alias("_sh"),
    )
    dup = (
        occ.groupBy("_sh")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_sh")
    )
    covered = (
        occ.join(dup, "_sh", "left_semi")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(n - 1))
            ).alias("_pos"),
        )
        .distinct()
        .withColumn("_cov", F.lit(True))
    )
    flagged = toks.join(covered, [id_col, "_pos"], "left")
    keep = F.when(F.col("_cov").isNull(), F.struct("_pos", "_tok"))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count(keep).cast("long").alias("n_kept"),
            F.array_sort(F.collect_list(keep)).alias("_ls"),
        )
        .select(
            F.col(id_col), "n_tokens", "n_kept",
            F.concat_ws(" ", F.transform("_ls", lambda s: s["_tok"]))
            .alias(text_col),
        )
    )


def decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share at
    least `min_shared` distinct word n-grams with any held-out eval
    document (the n-gram-overlap rule of Brown et al. 2020 appendix C,
    word-level). Returns (doc_id, eval_id, n_shared) — anti-join your
    corpus against the doc_id column to drop contaminated rows.

    Shape at scale: the eval side is benchmark-sized (thousands of docs,
    millions of shingles), so its shingle table broadcasts and the corpus
    side streams through narrowly — per-batch shingle + broadcast-hash
    join, no corpus shuffle until the tiny (doc, eval) hit aggregate."""
    d_sh = with_word_shingles(
        docs.select(id_col, text_col), text_col, k=n, distinct=True,
    ).select(id_col, "_sh")
    e_sh = with_word_shingles(
        eval_df.select(eval_id_col, text_col), text_col, k=n, distinct=True,
    ).select(eval_id_col, "_sh")
    return (
        d_sh.join(F.broadcast(e_sh), "_sh")
        .groupBy(id_col, eval_id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays — zip_with/aggregate, JVM-side."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def rp_bucket(vec_col, planes: int, table: int):
    """Random-hyperplane bucket id: sign bits of `planes` projections.

    Plane p's direction d_i = xxhash64(table, p, i) scaled to [-1, 1] —
    deterministic pseudo-random, computed inline (no model state) and
    dimension-agnostic: the index sequence derives from size(vec), so no
    driver-side peek at the data is ever needed.

    The scaling MUST be pmod, not %: Spark's % keeps the dividend's sign,
    so `h % 2000001 - 1000000` lands in [-3e6, 1e6] with mean -1e6 —
    every component biased negative. On non-negative vectors (hashed BoW)
    that put 499/500 docs in ONE bucket (all sign bits equal), silently
    degenerating the LSH join to a near-cross-join. pmod gives uniform
    [0, 2e6], so the shifted component is zero-mean in [-1, 1]."""
    def proj(p: int):
        idx = F.sequence(F.lit(0), F.size(vec_col) - 1)
        comps = F.zip_with(
            vec_col,
            F.transform(idx, lambda i: (
                F.pmod(F.xxhash64(F.lit(table), F.lit(p), i), F.lit(2000001))
                - 1000000
            ) / 1000000.0),
            lambda v, w: v * w,
        )
        return F.aggregate(comps, F.lit(0.0), lambda a, x: a + x)

    bucket = F.lit(0)
    for p in range(planes):
        bucket = bucket + F.when(proj(p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.95,
    planes: int = 8,
    tables: int = 4,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs >= threshold.

    Candidate generation is blocked by default — never an all-pairs
    product: with `block_col` given (a label / precomputed bucket) pairs
    come from a same-block equi-join; otherwise a random-hyperplane LSH
    bucket is derived internally (`tables` tables x `planes` sign bits,
    dynamic-dim, no driver action) and pairs come from the (table, bucket)
    equi-join. Every candidate is verified with the exact cosine. At
    threshold 0.95 (~18 deg) the default 8-plane/4-table setup keeps
    per-pair recall >= ~0.9, -> 1 as cos -> 1; exact duplicates are never
    missed.

    ``exact=True`` (no block_col) keeps the exhaustive all-pairs crossJoin
    — 100% recall for SMALL inputs only (O(N^2) rows; never use at corpus
    scale). Callers that relied on the pre-r2 no-block behavior being exact
    should pass this explicitly (ADVICE r2)."""
    if exact and not block_col:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
        j = a.crossJoin(b)
    elif block_col:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
                      F.col(block_col))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
                      F.col(block_col))
        j = a.join(b, block_col)
    else:
        v = df.select(
            F.col(id_col), F.col(vec_col),
            F.posexplode(F.array(*[
                rp_bucket(F.col(vec_col).cast("array<double>"), planes, t)
                for t in range(tables)
            ])).alias("_tbl", "_bkt"),
        )
        a = v.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
                     "_tbl", "_bkt")
        b = v.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
                     "_tbl", "_bkt")
        j = a.join(b, ["_tbl", "_bkt"]).dropDuplicates(["id_a", "id_b"])
    return (
        j.where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                cosine(F.col("_va").cast("array<double>"),
                       F.col("_vb").cast("array<double>")).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style inter-document line dedup: drop every line whose
    whitespace-normalized form occurs in >= ``min_docs`` DISTINCT documents
    (classic boilerplate removal — nav bars, cookie banners, footers repeat
    across a site's pages; real content lines don't). A line repeated only
    WITHIN one document is kept.

    Returns (id_col, n_lines, n_kept, text) with text rebuilt from the
    surviving lines in their original order (empty string when every line
    was boilerplate).

    100-TB shape: lines explode narrow; the duplicate-line census is ONE
    hash aggregate on an 8-byte xxhash64 key — uniform by construction and
    partial-agg-immune, so planet-scale boilerplate lines (the head of the
    Zipf curve) collapse map-side. The census is then equi-joined back on
    the same key (left join, build side distinct per key -> no fanout; AQE
    handles probe-side skew), and the rebuild is one groupBy(id) whose
    collect_list is bounded by document size. No cross join, no driver
    materialization.

    ``sep`` picks the unit: "\\n" (default) for CCNet line dedup,
    "\\n\\n" for paragraph-level dedup (see ``paragraph_dedup``). It is
    treated as a literal separator on both split and rebuild.
    """
    import re as _re

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "_pos", "_line"
        ),
    ).withColumn("_key", F.xxhash64(normalize_ws("_line")))
    dup = (
        lines.groupBy("_key")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_key", F.lit(True).alias("_dup"))
    )
    flagged = lines.join(dup, "_key", "left")
    keep_struct = F.when(F.col("_dup").isNull(), F.struct("_pos", "_line"))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.count(keep_struct).cast("long").alias("n_kept"),
            F.array_sort(F.collect_list(keep_struct)).alias("_ls"),
        )
        .select(
            id_col,
            "n_lines",
            "n_kept",
            F.concat_ws(sep, F.transform("_ls", lambda s: s["_line"])).alias(text_col),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Paragraph-level variant of ``line_dedup`` (CCNet operates at the
    paragraph granularity for boilerplate removal: a whole nav block or
    cookie banner repeats verbatim across a site's pages). Unit = text
    between blank lines ("\\n\\n"); same census/join/rebuild plan, so the
    100-TB shape notes on ``line_dedup`` apply unchanged.

    Returns (id_col, n_paras, n_kept, text)."""
    out = line_dedup(df, text_col, id_col, min_docs=min_docs, sep="\n\n")
    return out.withColumnRenamed("n_lines", "n_paras")


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    block_col: str | None = None,
    threshold: float = 0.95,
    planes: int = 8,
    tables: int = 4,
    exact: bool = False,
    transitive: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): documents whose EMBEDDINGS are near-identical are
    semantic duplicates even when their text differs (translations,
    templated rewrites, scraped mirrors) — drop all but one per
    near-duplicate neighborhood.

    Two deterministic retention rules:
    - default (``transitive=False``): a document is DROPPED iff ANY
      smaller-id document is a >=threshold neighbor, whether or not that
      neighbor is itself kept — a single-pass dominance rule (drops a
      superset of the per-cluster rule along chains A~B~C where A!~C).
    - ``transitive=True``: connected components over the pair graph
      (large-star/small-star via ``components.canonical_map``), keep the
      min id per component — exactly one survivor per transitive
      neighborhood, the published "keep one per cluster" semantics.

    100-TB shape: pair generation reuses ``embedding_neardup_pairs``
    (blocked by ``block_col`` or internal RP-LSH — never all-pairs unless
    ``exact=True``); the drop set is a distinct projection of the pair
    table (bounded by #near-dups, not corpus size) and the final
    ``left_anti`` join is one shuffle on the id key.

    Returns the kept rows of ``df`` (all original columns).
    """
    pairs = embedding_neardup_pairs(
        df, vec_col, id_col,
        block_col=block_col, threshold=threshold,
        planes=planes, tables=tables, exact=exact,
    )
    return _keep_by_pairs(df, pairs, id_col, transitive)


def _keep_by_pairs(df: DataFrame, pairs: DataFrame, id_col: str,
                   transitive: bool) -> DataFrame:
    """Shared retention rule for pair-graph dedup (semantic_dedup /
    fuzzy_dedup): given near-dup pairs (id_a < id_b), keep one document
    per neighborhood.

    - ``transitive=False``: dominance rule — drop iff ANY smaller-id
      neighbor exists (single distinct projection of the pair table).
    - ``transitive=True``: connected components over the pair graph
      (large-star/small-star), keep the min id per component — the
      published "keep one per cluster" semantics.
    """
    if transitive:
        from ecokg_spark.operators.components import connected_components

        # CC node ids are strings (CURIE convention). NUMERIC ids are
        # zero-padded so the lexicographic component-min matches the
        # numeric min — lpad also TRUNCATES overlong strings, which would
        # collide distinct ids, so string-typed ids pass through raw and
        # take the lexicographic min (documented survivor choice).
        id_type = dict(df.dtypes)[id_col]
        if id_type in ("int", "bigint", "smallint", "tinyint"):
            def key(c):
                return F.lpad(F.col(c).cast("string"), 20, "0")
        else:
            def key(c):
                return F.col(c).cast("string")
        comp = connected_components(
            pairs.select(key("id_a").alias("u"), key("id_b").alias("v"))
        )
        # component = min id in the component; drop every non-min member.
        drops = comp.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("_drop")
        )
        return df.join(
            drops, key(id_col) == F.col("_drop"), "left_anti",
        )
    # id_a < id_b by construction -> id_b always has a smaller neighbor.
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drops, id_col, "left_anti")


def fuzzy_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    transitive: bool = True,
    portable: bool = False,
) -> DataFrame:
    """End-to-end MinHash fuzzy deduplication — the full production
    funnel the corpus pipelines publish (SlimPajama, Falcon/RefinedWeb,
    Lee et al. 2022 §4.2): banded MinHash-LSH candidates -> exact-Jaccard
    verify -> connected components over the near-dup pair graph -> keep
    exactly ONE document per cluster (min id), return the kept rows.

    Pairs come from ``minhash_verified_pairs``: xxhash64 banding by
    default (the fast production path; ~17x faster than md5 at sf0.1);
    ``portable=True`` switches to the portable md5 spec, so a SQL oracle
    recomputes the WHOLE funnel including banding losses — the contract
    row's configuration. Both share the ``_keep_by_pairs`` retention
    rule; exact verification
    makes the SURVIVOR SET identical whenever the two bandings yield the
    same verified pairs (recall differences are the only divergence).

    100-TB shape: one uniform (band_idx, band_key) bucket-join shuffle
    for candidates (volume ~ true near-dups, never ~N²), exact verify on
    survivors only, CC over a pair graph bounded by #near-dups (not
    corpus size) with large-star/small-star rounds, and one final
    left_anti shuffle on the id key. Every stage is a shape already
    certified by its own contract row (minhash_banded,
    connected_components); this row certifies their composition.
    """
    pairs = minhash_verified_pairs(df, text_col, id_col, threshold=threshold,
                                   k=k, n=n, bands=bands, portable=portable)
    return _keep_by_pairs(df, pairs, id_col, transitive)


def semdedup_clustered(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.95,
    transitive: bool = False,
) -> DataFrame:
    """The PUBLISHED SemDeDup pipeline shape (Abbas et al. 2023 §3):
    k-means partition the embedding space, then compare pairs only
    WITHIN each cluster. `semantic_dedup` alone blocks by label or
    RP-LSH; this composition replaces the blocking key with learned
    cluster structure — the exact trade the paper makes: within-cluster
    pairs are O(sum n_c^2) instead of O(N^2), at the cost of missing
    near-dups that straddle a cluster boundary (both engines agree on
    the miss, since the assignment is deterministic).

    Scale shape: kmeans_lloyd's per-round map-side assignment + one
    (cluster, dim) shuffle, then the within-cluster equi-join of
    embedding_neardup_pairs — cluster sizes bound the join fanout, so
    pick k so N/k keeps n_c^2 tractable (the paper uses k ~ sqrt(N)).
    Returns the kept rows (id, vec, cluster).
    """
    from ecokg_spark.operators.embed import kmeans_lloyd

    assigned = kmeans_lloyd(
        df, vec_col=vec_col, id_col=id_col, k=k, iterations=iterations
    ).drop("dist")
    return semantic_dedup(
        assigned, vec_col, id_col, block_col="cluster",
        threshold=threshold, transitive=transitive)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every k-gram, slide a w-hash
    window, and select the RIGHTMOST MINIMUM hash of each window; the
    distinct selections are the fingerprint set. Guarantees every match
    of length >= w + k - 1 tokens shares a fingerprint while storing
    only ~2/(w+1) of the hashes — the local, position-aware complement
    of MinHash (which sketches global similarity; winnowing localizes
    WHERE the overlap is, the plagiarism/attribution use case).

    Mechanics, exactly recomputable cross-engine: shingle hashes use the
    portable md5/60-bit spec; the rightmost-min rule is one lexicographic
    MIN over a trailing row window of the fixed-width key
    lpad(hash) || lpad(9999999999 - pos) (min hash first, then max
    position), parsed back after selection. Documents shorter than one
    full window contribute their global rightmost-min. One shuffle on
    the doc id (the window), one distinct on the selection.

    Returns (id_col, pos, hash) — pos is the 0-based shingle position.
    """
    from pyspark.sql import Window

    from ecokg_spark.functions.text import word_shingles

    sh = df.select(
        F.col(id_col),
        F.posexplode(word_shingles(F.col(text_col), k=k)).alias("pos", "_s"),
    )
    h = F.conv(F.substring(F.md5(F.col("_s")), 1, 15), 16, 10).cast("long")
    key = F.concat(
        F.lpad(h.cast("string"), 19, "0"),
        F.lpad((F.lit(9999999999) - F.col("pos")).cast("string"), 10, "0"),
    )
    dw = Window.partitionBy(id_col).orderBy("pos")
    trail = dw.rowsBetween(-(w - 1), 0)
    full = dw.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    sel = (
        sh.withColumn("_key", key)
        .withColumn("_min", F.min("_key").over(trail))
        .withColumn("_m", F.count(F.lit(1)).over(full))
        .where((F.col("pos") >= w - 1)
               | ((F.col("_m") < w) & (F.col("pos") == F.col("_m") - 1)))
        .select(
            F.col(id_col),
            (F.lit(9999999999)
             - F.substring("_min", 20, 10).cast("long")).alias("pos"),
            F.substring("_min", 1, 19).cast("long").alias("hash"),
        )
        .distinct()
    )
    return sel
