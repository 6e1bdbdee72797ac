"""ReVerb/OpenIE-style pattern triple extraction (batched pandas UDF).

North-star stage 2: sentences -> (subj_mention, verb, obj_mention) candidate
triples. The pattern is a ReVerb-lite verb-anchored regex: a relation phrase
from the known verb lexicon (open-class verbs would use a POS pattern; the
lexicon is the deterministic, testable core of the same shape), with the
shortest plausible argument spans on each side.

Runs as ONE vectorized `.str.extract` over each Arrow batch — no per-row
Python. Unmatched sentences yield NULL mentions and are filtered JVM-side.

Reference parity: generalizes the reference's per-row parse loops
(eol_traits.py:326-534, planteome.py:173-419 — scan -> normalize ->
lookup -> emit) into a declarative extract stage.
"""

from __future__ import annotations

import re

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ecokg_spark.session import local_frame
from ecokg_spark.sources.vocab import VERB_PHRASES, VERB_PREDICATES, VERB_RELATIONS

# longest-first alternation so "has phenotype" wins over a bare "has";
# [ \t\r\n] (not \s) so the RE2 and Python paths agree on Unicode spaces
_VERB_ALT = "|".join(sorted((re.escape(v) for v in VERB_PHRASES), key=len, reverse=True))
_TRIPLE_PAT = (
    rf"^[ \t\r\n]*(?P<subj>.+?)[ \t\r\n]+(?P<verb>{_VERB_ALT})"
    rf"[ \t\r\n]+(?P<obj>.+?)[ \t\r\n]*[.!?]?[ \t\r\n]*$"
)
_TRIPLE_RE = re.compile(_TRIPLE_PAT)

_TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj_mention", T.StringType()),
        T.StructField("verb", T.StringType()),
        T.StructField("obj_mention", T.StringType()),
    ]
)

_COLMAP = {"subj": "subj_mention", "verb": "verb", "obj": "obj_mention"}


@pandas_udf(_TRIPLE_SCHEMA)
def extract_triple_udf(sentence: pd.Series) -> pd.DataFrame:
    """Vectorized ReVerb-lite extraction: one RE2 pass per Arrow batch
    (pc.extract_regex -> StructArray; .flatten() null-propagates parents),
    pandas-regex fallback for non-UTF-8 batches."""
    try:
        arr = pc.cast(pa.Array.from_pandas(sentence), pa.string())
        m = pc.extract_regex(pc.fill_null(arr, ""), _TRIPLE_PAT)
        fields = {m.type.field(i).name: m.flatten()[i].to_pandas()
                  for i in range(m.type.num_fields)}
        return pd.DataFrame({_COLMAP[k]: v for k, v in fields.items()})
    except pa.ArrowInvalid:
        df = sentence.str.extract(_TRIPLE_RE)
        return df.rename(columns={"subj": "subj_mention", "obj": "obj_mention"})


def verb_map(spark) -> DataFrame:
    """Broadcastable (verb, predicate, relation) dim — verb lexicon to
    Biolink predicate + RO relation (F7-style conditional chain as a dim
    table, cf. planteome.py:562-608 Aspect dispatch)."""
    rows = list(zip(VERB_PHRASES, VERB_PREDICATES, VERB_RELATIONS))
    return local_frame(spark, rows, "verb string, predicate string, relation string")


def extract_triples(extracted: DataFrame, lang: str = "en") -> DataFrame:
    """(url, sentences array) -> mention-level triples
    (url, sent_id, subj_mention, verb, obj_mention).

    Language gate mirrors the reference's species/organism row filters
    (P9, eol_hierarchy.py:70-71): only `lang` pages yield triples.
    """
    sents = (
        extracted.where(F.col("lang") == lang)
        .select("url", F.posexplode("sentences").alias("sent_id", "sentence"))
    )
    t = sents.withColumn("t", extract_triple_udf("sentence"))
    return (
        t.select("url", "sent_id", "t.subj_mention", "t.verb", "t.obj_mention")
        .where(F.col("subj_mention").isNotNull())
    )
