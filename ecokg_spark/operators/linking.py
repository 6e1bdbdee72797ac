"""Entity linking: dictionary exact-match + MinHash-LSH fuzzy candidates.

North-star stage 3. Two paths, both shuffle-lean:

  exact:  lower/trim-normalized mention equi-joined against the BROADCAST
          termlist (the reference's dict lookups J1/J4 and its OGER
          dictionary NER U2, re-expressed as a map-side hash join);
  fuzzy:  mentions the dictionary misses get MinHash-LSH candidate
          generation — char-2-gram shingles -> K minhashes (pure
          `xxhash64` Catalyst expressions, JVM-side) -> banded bucket join
          against alias signatures -> `levenshtein <= 2` verify. Only
          DISTINCT unmatched mention strings enter the fuzzy path, so its
          cost is bounded by surface-form cardinality, not corpus size.

For a termlist already read to the driver (at most NL_FUZZY_MAX_TERMS
rows), link_mentions_local applies the same rule with one nested-loop pass
and no shuffle of its own.

Termlist construction mirrors utils/biohub_converter.py:7-64: synonym
explode on '|' (:58-63), category excludes (:38-46, biolink:Publication),
drop empty names. Stopword filtering mirrors transform.py:76-83 semantics.

Unlinkable mentions land in a quarantine DataFrame — the reference's
log-and-continue on missing dict keys (eol_traits.py:341-342) as data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecokg_spark.operators.dedup import minhash_bands
from ecokg_spark.session import local_frame

EXCLUDE_CATEGORIES = ["biolink:Publication"]  # biohub_converter.py EXCLUDE

# a small stopword set (stopwords.yaml semantics): mentions that are bare
# stopwords never link
STOPWORDS = ["about", "all", "the", "a", "an", "it", "this", "that", "and", "or"]

MINHASH_K = 32          # signature length
LSH_BANDS = 16          # 16 bands x 2 rows: P(cand) ≈ 1-(1-j²)^16
MAX_EDIT_DISTANCE = 2   # fuzzy verify threshold

# Fuzzy candidate generation is size-gated like a broadcast join (the same
# precedent as components.SMALL_GRAPH_EDGES): when the termlist dim has at
# most this many surface forms, candidates come from ONE broadcast
# nested-loop join + edit-distance filter — 2 stages, exact (finds every
# pair within MAX_EDIT_DISTANCE, a superset of what LSH can propose).
# Larger vocabularies take the banded MinHash-LSH path, whose cost is
# bounded by banding instead of |miss| x |dim|.
NL_FUZZY_MAX_TERMS = 4096


def build_termlist(aliases: DataFrame) -> DataFrame:
    """KGX alias dim -> exploded termlist (curie, term, term_norm, preferred,
    category): one row per surface form (preferred name + each synonym)."""
    surf = aliases.where(
        ~F.col("category").isin(EXCLUDE_CATEGORIES) & (F.col("name") != "")
    ).select(
        "curie",
        "name",
        "category",
        F.explode(
            F.array_union(
                F.array(F.col("name")),
                F.coalesce(F.split("synonym", r"\|"), F.array().cast("array<string>")),
            )
        ).alias("term"),
    )
    return surf.where(F.col("term") != "").select(
        "curie",
        "term",
        F.lower(F.trim("term")).alias("term_norm"),
        F.col("name").alias("preferred"),
        "category",
    )


def _shingles(col, n: int = 2):
    """Char n-gram shingle array of '#'-padded lower-cased text (padding
    keeps word-boundary grams so short edits stay high-Jaccard)."""
    padded = F.concat(F.lit("#"), F.lower(F.trim(col)), F.lit("#"))
    idx = F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(padded, i, n)))


def lsh_band_table(
    df: DataFrame,
    text_col: str,
    keep_cols: list[str],
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """(keep_cols..., band_idx, band_hash) MinHash-LSH banding table: the
    shared kernel (dedup.minhash_bands, xxhash64 spec) over each row's
    char-2-gram shingles, exploded once per row."""
    ex = df.select(*keep_cols, F.explode(_shingles(F.col(text_col))).alias("_sh"))
    return minhash_bands(ex, keep_cols, k, bands).withColumnRenamed(
        "band_key", "band_hash")


def link_mentions(
    mentions: DataFrame,
    termlist: DataFrame,
    mention_col: str = "mention",
    fuzzy: bool = True,
    fuzzy_strategy: str = "auto",
    dim_count: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Link `mentions` (any DF with `mention_col`) -> (linked, quarantine).

    linked adds: curie, match_kind ('exact'|'fuzzy').
    Ambiguous surfaces resolve to min(curie) — deterministic; true
    cross-source duplicates are merged later by canonicalization anyway.

    fuzzy_strategy: 'auto' size-gates between the exact broadcast
    nested-loop candidate pass (vocab <= NL_FUZZY_MAX_TERMS) and banded
    MinHash-LSH; 'nl' / 'lsh' force a path (tests, tuning). `dim_count`
    (any upper bound on the distinct surface-form count, e.g. a termlist
    row count the caller already has) skips the gate's count job.
    """
    m = mentions.withColumn("_norm", F.lower(F.trim(F.col(mention_col)))).where(
        ~F.col("_norm").isin(STOPWORDS)
    )
    # one row per surface form, deterministic curie pick
    dim = termlist.groupBy("term_norm").agg(F.min("curie").alias("curie"))

    exact = m.join(F.broadcast(dim), m["_norm"] == dim["term_norm"], "left").drop("term_norm")
    hit = exact.where(F.col("curie").isNotNull()).withColumn("match_kind", F.lit("exact"))
    miss = exact.where(F.col("curie").isNull()).drop("curie")

    if not fuzzy:
        return hit.drop("_norm"), miss.drop("_norm")

    # ---- fuzzy path over DISTINCT unmatched surfaces only
    miss_d = miss.select("_norm").distinct()
    n_dim = dim_count if dim_count is not None else dim.count()
    use_nl = (
        fuzzy_strategy == "nl"
        or (fuzzy_strategy == "auto" and n_dim <= NL_FUZZY_MAX_TERMS)
    )
    if use_nl:
        # small-vocab gate: exact candidates via broadcast nested-loop —
        # the dim is broadcast-sized by construction (it already rides the
        # exact-match broadcast join above)
        pairs = miss_d.join(
            F.broadcast(dim),
            F.levenshtein(F.col("_norm"), F.col("term_norm")) <= MAX_EDIT_DISTANCE,
        ).select("_norm", "term_norm", "curie")
    else:
        cand_m = lsh_band_table(miss_d, "_norm", ["_norm"])
        cand_t = lsh_band_table(dim, "term_norm", ["term_norm", "curie"])
        pairs = (
            cand_m.join(F.broadcast(cand_t), ["band_idx", "band_hash"])
            .select("_norm", "term_norm", "curie")
            .distinct()
            .where(F.levenshtein("_norm", "term_norm") <= MAX_EDIT_DISTANCE)
        )
    # best candidate per mention: (min edit distance, then min curie)
    best = (
        pairs.withColumn("_d", F.levenshtein("_norm", "term_norm"))
        .groupBy("_norm")
        .agg(F.min(F.struct("_d", "curie", "term_norm")).alias("_b"))
        .select("_norm", F.col("_b.curie").alias("curie"))
    )
    fuzzy_hit = (
        miss.join(F.broadcast(best), "_norm", "inner")
        .withColumn("match_kind", F.lit("fuzzy"))
    )
    quarantine = miss.join(F.broadcast(best), "_norm", "left_anti")
    return hit.drop("_norm").unionByName(fuzzy_hit.drop("_norm")), quarantine.drop("_norm")


def link_mentions_local(
    mentions: DataFrame, terms: list, max_pairs: int
) -> list[tuple] | None:
    """link_mentions' linked side under fuzzy_strategy='nl', for a termlist
    already on the driver: `terms` are its (curie, term_norm) rows and
    `mentions` has DISTINCT values in col `mention`. Returns one (mention,
    curie, match_kind) per linkable mention, or None when more than
    `max_pairs` candidate pairs would come back.

    The dim (term_norm -> min curie) becomes a local relation and ONE
    broadcast nested-loop pass keeps the (mention, term) pairs within
    MAX_EDIT_DISTANCE; normalization, the stopword filter and the edit
    distance stay in Spark. Each mention then takes the least (distance,
    curie, term_norm) of its pairs — link_mentions' min(struct(_d, curie,
    term_norm)), NULL curie first as Spark orders it, and Python's string
    order is Spark's (code points = UTF-8 bytes). A distance-0 pair is the
    exact hit, so the exact join, the miss split and the per-mention
    groupBy need no shuffle; a term whose curies are all NULL misses the
    exact join there and links 'fuzzy' to NULL, as here."""
    curies: dict[str, list] = {}
    for curie, term in terms:
        if term is not None:
            curies.setdefault(term, []).append(curie)
    dim = local_frame(mentions.sparkSession,
                      [(t, min([c for c in cs if c is not None], default=None))
                       for t, cs in curies.items()],
                      "term_norm string, curie string")
    m = mentions.select("mention", F.lower(F.trim("mention")).alias("_norm")).where(
        ~F.col("_norm").isin(STOPWORDS))
    d = F.levenshtein("_norm", "term_norm")
    pairs = m.join(F.broadcast(dim), d <= MAX_EDIT_DISTANCE).select(
        "mention", d.alias("_d"), "curie", "term_norm").take(max_pairs + 1)
    if len(pairs) > max_pairs:
        return None
    best: dict[str, tuple] = {}
    for mention, dist, curie, term in pairs:
        key = (dist, curie is not None, curie or "", term)
        if mention not in best or key < best[mention]:
            best[mention] = key
    return [(mention, curie if has_curie else None,
             "exact" if dist == 0 and has_curie else "fuzzy")
            for mention, (dist, has_curie, curie, _t) in best.items()]


def link_ambiguity(
    mentions: DataFrame,
    termlist: DataFrame,
    mention_col: str = "mention",
    max_distance: int = MAX_EDIT_DISTANCE,
) -> DataFrame:
    """Observability for the fuzzy resolver's min(curie) tie-break
    (link_mentions resolves ambiguous surfaces silently): per DISTINCT
    normalized mention, the minimum edit distance to any surface form and
    how many distinct curies sit at exactly that distance — n_candidates
    > 1 marks a mention whose resolution was a tie-break, making linking
    precision measurable instead of assumed (VERDICT r2 #7).

    Returns (mention, min_dist, n_candidates); mentions with no surface
    within max_distance are absent (they quarantine, not tie-break).
    Cost: one broadcast nested-loop over distinct surfaces x dim — the
    same bounded shape as the gated fuzzy path."""
    m = mentions.select(
        F.lower(F.trim(F.col(mention_col))).alias("mention")).distinct()
    dim = termlist.groupBy("term_norm").agg(F.min("curie").alias("curie"))
    d = F.levenshtein(F.col("mention"), F.col("term_norm"))
    pairs = m.join(F.broadcast(dim), d <= max_distance).select(
        "mention", "curie", d.alias("_d"))
    mind = pairs.groupBy("mention").agg(F.min("_d").alias("min_dist"))
    return (
        pairs.join(mind, "mention")
        .where(F.col("_d") == F.col("min_dist"))
        .groupBy("mention", F.col("min_dist").cast("int").alias("min_dist"))
        .agg(F.countDistinct("curie").cast("long").alias("n_candidates"))
    )


def alias_identity_edges(termlist: DataFrame) -> DataFrame:
    """(curie_a, curie_b) same-entity edges: two curies sharing any surface
    form are the same real-world entity -> input to canonicalization."""
    a = termlist.select("term_norm", F.col("curie").alias("u"))
    b = termlist.select("term_norm", F.col("curie").alias("v"))
    return (
        a.join(b, "term_norm")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def fuzzy_string_join(
    left: DataFrame,
    right: DataFrame,
    col: str = "name",
    max_dist: int = 1,
) -> DataFrame:
    """Edit-distance-1 string join via deletion-neighborhood blocking
    (the FastSS scheme, Bocek et al. 2007): two strings within one edit
    share a member of their deletion neighborhoods Del1(x) = {x} ∪
    {x minus one char}, so candidates come from an EQUI-join on the
    exploded variants — never a cartesian similarity scan — and a
    levenshtein() pass verifies exactly. The alias/name-matching
    primitive for entity linking when exact+synonym lookup misses
    (typos, OCR noise).

    `left` must expose `col` and any id columns prefixed how you need
    them; output is (left_<col>, right_<col>, dist) distinct pairs with
    dist <= max_dist (only 1 supported — deeper neighborhoods grow
    combinatorially; chain joins for d=2 if ever needed).

    100-TB shape: |variants| = (len+1) per string, one shuffle on the
    variant key; a hot variant (short common tokens) fans into one
    bucket — pre-filter stopword-ish short strings (len < 4) upstream
    if the name universe is token-shaped rather than entity-shaped.
    """
    if max_dist != 1:
        raise ValueError("only max_dist=1 is supported (FastSS depth 1)")

    def variants(side: DataFrame, out: str) -> DataFrame:
        c = F.col(col)
        dels = F.expr(
            f"transform(sequence(1, length({col})), "
            f"i -> concat(substr({col}, 1, i-1), substr({col}, i+1)))")
        return side.select(
            c.alias(out),
            F.explode(F.array_union(F.array(c), dels)).alias("_v"),
        )

    lv = variants(left, "left_" + col)
    rv = variants(right, "right_" + col)
    cand = (lv.join(rv, "_v")
            .select("left_" + col, "right_" + col)
            .dropDuplicates(["left_" + col, "right_" + col]))
    dist = F.levenshtein(F.col("left_" + col), F.col("right_" + col))
    return (cand.select("left_" + col, "right_" + col,
                        dist.cast("long").alias("dist"))
            .where(F.col("dist") <= max_dist))
