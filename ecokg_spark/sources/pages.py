"""Deterministic synthetic Common-Crawl-style pages corpus + gold triples.

Shape per BASELINE.json input_hint: (url string, warc_ts timestamp,
html binary, text string, lang string). The generator is pure Catalyst
expressions over ``spark.range(n)`` — no Python, no shuffle — so synthesizing
the bench corpus is itself distributed and scales linearly with cores.

Determinism: every random choice is ``xxhash64(tag, seed, i, j)`` — a pure
function of (page index, sentence index), independent of partitioning, so
the same (n, seed) always yields byte-identical pages on any cluster layout.

Corpus properties (FIXTURES.md F-1):
  - host skew: one hot domain carries ~30% of pages;
  - entity skew: "tomato" is subject of ~30% of sentences and
    ``has phenotype`` is ~45% of verbs — reproducing the reference graph's
    head-heavy predicate distribution (merged-kg_stats.yaml:23-24);
  - ~3% empty-body pages, ~10% of mentions misspelled (3rd char dropped,
    exercises MinHash-LSH fuzzy linking), ~15% capitalization variants,
    ~15% of pages carry an HTML-entity sentence (&amp; decode check),
    ~20% double-space jitter in html (whitespace-collapse check);
  - ~10% non-English pages (de/fr) that must flow through extraction +
    audit but contribute no triples;
  - ``text`` column is NULL on ~50% of rows — the engine must extract
    from ``html`` (and the audit proves extract(html) == text elsewhere).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecokg_spark.session import local_frame
from ecokg_spark.sources.vocab import (
    CANONICAL,
    CATEGORIES,
    HOT_ENTITY_IDX,
    SURFACES,
    VERB_CUM_WEIGHTS,
    VERB_PHRASES,
    VERB_PREDICATES,
    VERB_RELATIONS,
    VOCAB,
)

_EPOCH_2025 = 1735689600  # 2025-01-01T00:00:00Z

_DE_SENTS = ["Die Pflanze ist grün.", "Der Boden ist nass.", "Das Blatt und die Wurzel wachsen."]
_FR_SENTS = ["La plante est verte.", "Le sol est humide.", "Les feuilles et les racines poussent."]

_TERMS_TEXT = "Terms & conditions apply."
_TERMS_HTML = "Terms &amp; conditions apply."


def _h(tag: str, seed: int, *cols: Column) -> Column:
    """Deterministic non-negative 64-bit hash of (tag, seed, *cols)."""
    return F.abs(F.xxhash64(F.lit(tag), F.lit(seed), *cols))


def _h_md5(tag: str, seed: int, *cols: Column) -> Column:
    """Portable 60-bit hash: first 15 md5 hex chars of 'tag:seed:c1[:c2]'
    parsed base-16 (the engine-wide md5/60-bit spec, sketch.py). DuckDB
    recomputes it verbatim (contract _HEX15), which is what makes the
    portable corpus — and therefore the kg_pipeline oracle — possible."""
    rec = F.concat_ws(
        ":", F.lit(tag), F.lit(str(seed)),
        *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(rec), 1, 15), 16, 10).cast("long")


def _surfaces_lit() -> Column:
    return F.array(*[F.array(*[F.lit(s) for s in surfs]) for surfs in SURFACES])


def _str_arr(values: list[str]) -> Column:
    return F.array(*[F.lit(v) for v in values])


def _pick_verb(h: Column) -> Column:
    """Weighted verb index from a hash (cumulative weights out of 100)."""
    r = h % 100
    expr = F.lit(len(VERB_CUM_WEIGHTS) - 1)
    for idx in range(len(VERB_CUM_WEIGHTS) - 2, -1, -1):
        expr = F.when(r < VERB_CUM_WEIGHTS[idx], F.lit(idx)).otherwise(expr)
    return expr


def _mention(i: Column, j: Column, role: str, idx: Column, seed: int,
             surfaces: Column, h=_h, misspell: bool = True) -> Column:
    """Render one entity mention: surface pick + caps/misspell variants."""
    surf_arr = F.element_at(surfaces, idx + 1)
    surf = F.element_at(surf_arr, (h(f"surf_{role}", seed, i, j) % F.size(surf_arr)).cast("int") + 1)
    surf = F.when(h(f"caps_{role}", seed, i, j) % 100 < 15, F.initcap(surf)).otherwise(surf)
    if not misspell:
        # portable mode: caps variants still exercise case-folding in the
        # exact linker, but no 1-deletions — every mention links exactly,
        # so the emitted triple set equals the gold set bit-for-bit
        return surf
    # misspelling: drop the 3rd character (deterministic 1-deletion) on ~10%
    missp = F.concat(F.substring(surf, 1, 2), F.substring(surf, 4, F.length(surf)))
    return F.when(
        (h(f"missp_{role}", seed, i, j) % 100 < 10) & (F.length(surf) >= 6), missp
    ).otherwise(surf)


def _sentence_struct(i: Column, j: Column, lang: Column, seed: int,
                     surfaces: Column, h=_h, misspell: bool = True) -> Column:
    """struct(subj_idx, verb_idx, obj_idx, sent) for sentence j of page i."""
    n_vocab = len(VOCAB)
    subj_idx = F.when(
        h("hot", seed, i, j) % 100 < 30, F.lit(HOT_ENTITY_IDX)
    ).otherwise((h("subj", seed, i, j) % n_vocab).cast("int"))
    obj_idx = (h("obj", seed, i, j) % n_vocab).cast("int")
    verb_idx = _pick_verb(h("verb", seed, i, j)).cast("int")

    en_sent = F.concat(
        _mention(i, j, "s", subj_idx, seed, surfaces, h, misspell),
        F.lit(" "),
        F.element_at(_str_arr(VERB_PHRASES), verb_idx + 1),
        F.lit(" "),
        _mention(i, j, "o", obj_idx, seed, surfaces, h, misspell),
        F.lit("."),
    )
    de_sent = F.element_at(_str_arr(_DE_SENTS), (h("des", seed, i, j) % 3).cast("int") + 1)
    fr_sent = F.element_at(_str_arr(_FR_SENTS), (h("frs", seed, i, j) % 3).cast("int") + 1)

    is_en = lang == "en"
    return F.struct(
        F.when(is_en, subj_idx).otherwise(F.lit(-1)).alias("subj_idx"),
        F.when(is_en, verb_idx).otherwise(F.lit(-1)).alias("verb_idx"),
        F.when(is_en, obj_idx).otherwise(F.lit(-1)).alias("obj_idx"),
        F.when(is_en, en_sent).when(lang == "de", de_sent).otherwise(fr_sent).alias("sent"),
    )


def _plan(spark: SparkSession, n_pages: int, seed: int,
          portable: bool = False) -> DataFrame:
    """Page plan: url/ts/lang/domain + array of sentence structs + text.

    ``portable=True`` switches every random draw from xxhash64 to the
    md5/60-bit spec (DuckDB-replayable) and disables misspellings, so a
    SQL oracle can recompute the exact gold triple set (contract
    SQL_KG_PIPELINE). Default mode is unchanged: xxhash64 (pure-JVM fast
    path) + 1-deletion misspellings that exercise the fuzzy linker.
    """
    h = _h_md5 if portable else _h
    i = F.col("id")
    df = spark.range(n_pages)

    lang_r = h("lang", seed, i) % 100
    lang = F.when(lang_r < 90, "en").when(lang_r < 95, "de").otherwise("fr")
    domain = F.when(
        h("dom", seed, i) % 100 < 30, F.lit("hot.example.org")
    ).otherwise(F.concat(F.lit("site"), (h("dom2", seed, i) % 50), F.lit(".example.org")))

    n_s = F.when(h("empty", seed, i) % 100 < 3, F.lit(0)).otherwise(
        (1 + h("ns", seed, i) % 8).cast("int")
    )

    df = df.select(
        i.alias("i"),
        F.concat(F.lit("https://"), domain, F.lit("/page/"), i).alias("url"),
        F.timestamp_seconds(F.lit(_EPOCH_2025) + i).alias("warc_ts"),
        lang.alias("lang"),
        domain.alias("domain"),
        n_s.alias("n_s"),
        (h("terms", seed, i) % 100 < 15).alias("has_terms"),
        (h("ws", seed, i) % 100 < 20).alias("wide_ws"),
        (h("hastext", seed, i) % 100 < 50).alias("with_text"),
    )
    # surfaces literal staged as ONE column so the per-sentence lambda
    # references it instead of inlining the 80-string array repeatedly
    df = df.withColumn("_surf", _surfaces_lit())
    sentences = F.when(F.col("n_s") == 0, F.array().cast(
        "array<struct<subj_idx:int,verb_idx:int,obj_idx:int,sent:string>>"
    )).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.col("n_s") - 1),
            lambda j: _sentence_struct(F.col("i"), j, F.col("lang"), seed,
                                       F.col("_surf"), h, not portable),
        )
    )
    df = df.withColumn("sentences", sentences).drop("_surf")

    sent_texts = F.transform(F.col("sentences"), lambda s: s["sent"])
    all_texts = F.when(
        F.col("has_terms"), F.concat(sent_texts, F.array(F.lit(_TERMS_TEXT)))
    ).otherwise(sent_texts)
    return df.withColumn("page_text", F.array_join(all_texts, " "))


def synth_pages(spark: SparkSession, n_pages: int, seed: int = 42,
                portable: bool = False) -> DataFrame:
    """The CC-style corpus: (url, warc_ts, html binary, text, lang)."""
    plan = _plan(spark, n_pages, seed, portable)
    sent_texts = F.transform(F.col("sentences"), lambda s: s["sent"])
    html_texts = F.when(
        F.col("has_terms"), F.concat(sent_texts, F.array(F.lit(_TERMS_HTML)))
    ).otherwise(sent_texts)
    body = F.when(F.col("wide_ws"), F.array_join(html_texts, "  ")).otherwise(
        F.array_join(html_texts, " ")
    )
    html = F.concat(
        F.lit("<html><head><title>Page "),
        F.col("i"),
        F.lit("</title><style>p{margin:0}</style><script>var x=1;</script></head>"
              "<body><nav>Home | About &amp; Contact</nav><header>Example "),
        F.col("domain"),
        F.lit("</header>\n<p>"),
        body,
        F.lit("</p>\n<footer>(c) 2025 example.org</footer></body></html>"),
    )
    return plan.select(
        F.col("url"),
        F.col("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.when(F.col("with_text"), F.col("page_text")).otherwise(F.lit(None).cast("string")).alias("text"),
        F.col("lang"),
    )


def expected_text(spark: SparkSession, n_pages: int, seed: int = 42,
                  portable: bool = False) -> DataFrame:
    """(url, text) ground truth for the byte-identity audit (all pages)."""
    return _plan(spark, n_pages, seed, portable).select(
        "url", F.col("page_text").alias("text"))


def synth_gold(spark: SparkSession, n_pages: int, seed: int = 42,
               portable: bool = False) -> DataFrame:
    """Gold canonical (subject, predicate, object, relation) triple set.

    Derivation mirrors the generator's sentence plan: English sentences only,
    entity index -> canonical curie (Publication mentions unlinkable -> NULL
    -> dropped), verb index -> Biolink predicate, self-loops dropped
    (reference P5 semantics, eol_traits.py:503-504), distinct s/p/o.
    """
    canon = F.array(*[F.lit(c) for c in CANONICAL])  # NULL for Publications
    plan = _plan(spark, n_pages, seed, portable).where(F.col("lang") == "en")
    s = plan.select(F.explode("sentences").alias("st"))
    triples = s.select(
        F.element_at(canon, F.col("st.subj_idx") + 1).alias("subject"),
        F.element_at(_str_arr(VERB_PREDICATES), F.col("st.verb_idx") + 1).alias("predicate"),
        F.element_at(canon, F.col("st.obj_idx") + 1).alias("object"),
        F.element_at(_str_arr(VERB_RELATIONS), F.col("st.verb_idx") + 1).alias("relation"),
    )
    return (
        triples.where(F.col("subject").isNotNull() & F.col("object").isNotNull())
        .where(F.col("subject") != F.col("object"))
        .dropDuplicates(["subject", "predicate", "object"])
    )


def alias_table(spark: SparkSession) -> DataFrame:
    """KGX-style alias/nodes dim table (FIXTURES.md F-2): one row per entity,
    pipe-separated synonyms — the input to the termlist builder."""
    rows = [
        (curie, name, "|".join(syns), cat, "ecokg-vocab")
        for (curie, name, syns, cat) in VOCAB
    ]
    schema = T.StructType([
        T.StructField("curie", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("synonym", T.StringType(), True),
        T.StructField("category", T.StringType(), False),
        T.StructField("provided_by", T.StringType(), False),
    ])
    return local_frame(spark, rows, schema)


def category_table(spark: SparkSession) -> DataFrame:
    """(curie, name, category) node dim for merged-graph node materialize."""
    rows = [(curie, name, cat) for (curie, name, _s, cat) in VOCAB]
    return local_frame(spark, rows, "curie string, name string, category string")
