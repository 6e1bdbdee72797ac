"""Fused corpus pass: scan -> extract -> sentence split -> triple extraction
in ONE mapInArrow stage with ONE Arrow round-trip (no pandas
conversion anywhere).

Why this exists (measured, see BENCH/BASELINE.md): the staged pipeline
(extract UDF -> localCheckpoint -> split/explode -> triple UDF ->
localCheckpoint) moves the page text through the block store ~3x (text,
extracted_text, sentences) and through three separate JVM<->Python Arrow
channels. On one host that traffic is memory-bandwidth-bound, which does not
scale with cores — it capped the N->4N pipeline speedup at ~2.1x. The fused
pass keeps the whole per-page dataflow inside a single Python worker
(pyarrow.compute kernels end-to-end, no per-row Python) and emits only the
SMALL result relation:

  one audit row per page      (sent_id = -1, extracted_text, n_sentences)
  one row per matched triple  (sent_id >= 0, subj/verb/obj mentions)
  one row per DISTINCT mention surface in the batch (sent_id = -2):
      the batch-local combiner for entity linking — the downstream
      distinct-surfaces aggregate shuffles ~hundreds of rows per batch
      instead of 2 mention strings per triple (measured: turns the
      corpus-sized surfaces shuffle into a constant-time job)

so the only thing that ever hits the block store / shuffle is bytes
proportional to the extracted facts, not the corpus text. The caller
computes sha256 JVM-side from the audit rows' extracted_text and drops the
text column before materializing (the `fused` stage of
pipeline.kg_stages).

Semantics are IDENTICAL to the staged operators and tested against them:
extract per EXTRACT_SPEC v5 (operators/extract.py), sentence ids =
posexplode positions over the non-empty sentence list, triple pattern and
language gate per operators/triples.py. Reference parity as in those
modules (per-row loops of eol_traits.py:273-534 / planteome.py:173-419
re-expressed as one vectorized stage).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ecokg_spark.operators.extract import _extract_arrow, _extract_pandas
from ecokg_spark.operators.triples import _TRIPLE_PAT

AUDIT_SENT_ID = -1    # sent_id marking the one per-page audit row
MENTION_SENT_ID = -2  # sent_id marking batch-distinct mention-surface rows
SVO_SENT_ID = -3      # sent_id marking batch-distinct (subj, verb, obj) rows

FUSED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("sent_id", T.IntegerType()),
    T.StructField("subj_mention", T.StringType()),
    T.StructField("verb", T.StringType()),
    T.StructField("obj_mention", T.StringType()),
    T.StructField("extracted_text", T.StringType()),
    T.StructField("n_sentences", T.LongType()),
])

_SENT_MARK_PAT = "([.!?])[ \\t\\r\\n]+"


def _process_batch(url: pa.Array, html: pa.Array, lang_col: pa.Array,
                   lang: str) -> pa.Table:
    n = len(url)

    # -- extract (EXTRACT_SPEC v5); Arrow/RE2 fast path, pandas fallback for
    # batches whose bytes are not valid UTF-8 (cast cannot errors=replace)
    try:
        text = _extract_arrow(pc.cast(html, pa.string()))
    except pa.ArrowInvalid:
        text = pa.Array.from_pandas(_extract_pandas(html.to_pandas()))

    # -- sentence split (spec step 6): NUL sentinel is collision-free, the
    # spec guarantees extracted text is NUL-free (step 1.5)
    marked = pc.replace_substring_regex(text, _SENT_MARK_PAT, "\\1\x00")
    sents = pc.split_pattern(marked, "\x00")
    flat = pc.list_flatten(sents)
    parent = pc.list_parent_indices(sents).to_numpy()
    keep = np.flatnonzero(pc.not_equal(flat, "").to_numpy(zero_copy_only=False))
    parent_k = parent[keep]  # sorted ascending by construction
    n_sent = np.bincount(parent_k, minlength=n).astype("int64") if n else np.zeros(0, "int64")
    # position within page = index - first index of that page (posexplode id)
    first = np.searchsorted(parent_k, parent_k, side="left")
    sent_id = (np.arange(len(parent_k)) - first).astype("int32")
    flat_k = pc.take(flat, pa.array(keep))

    # -- triple extraction, `lang` pages only (language gate, P9)
    lang_np = lang_col.to_numpy(zero_copy_only=False)
    en_pages = np.array([v == lang for v in lang_np], dtype=bool)
    en_idx = np.flatnonzero(en_pages[parent_k] if len(parent_k) else np.zeros(0, bool))
    flat_en = pc.take(flat_k, pa.array(en_idx))
    m = pc.extract_regex(flat_en, _TRIPLE_PAT)
    valid = np.flatnonzero(m.is_valid().to_numpy(zero_copy_only=False))
    vtake = pa.array(valid)
    hit = en_idx[valid]
    fields = {m.type.field(i).name: pc.take(m.flatten()[i], vtake)
              for i in range(m.type.num_fields)}

    nt = len(valid)
    audit = pa.table({
        "url": url,
        "sent_id": pa.array(np.full(n, AUDIT_SENT_ID, "int32")),
        "subj_mention": pa.nulls(n, pa.string()),
        "verb": pa.nulls(n, pa.string()),
        "obj_mention": pa.nulls(n, pa.string()),
        "extracted_text": text,
        "n_sentences": pa.array(n_sent),
    })
    triples = pa.table({
        "url": pc.take(url, pa.array(parent_k[hit])),
        "sent_id": pa.array(sent_id[hit]),
        "subj_mention": fields["subj"],
        "verb": fields["verb"],
        "obj_mention": fields["obj"],
        "extracted_text": pa.nulls(nt, pa.string()),
        "n_sentences": pa.nulls(nt, pa.int64()),
    })
    # batch-local mention combiner: distinct surface forms of both roles
    subj_np = fields["subj"].to_numpy(zero_copy_only=False) if nt else np.array([], object)
    obj_np = fields["obj"].to_numpy(zero_copy_only=False) if nt else np.array([], object)
    verb_np = fields["verb"].to_numpy(zero_copy_only=False) if nt else np.array([], object)
    surf = np.unique(np.concatenate([subj_np, obj_np])) if nt else np.array([], object)
    nm = len(surf)
    mentions = pa.table({
        "url": pa.nulls(nm, pa.string()),
        "sent_id": pa.array(np.full(nm, MENTION_SENT_ID, "int32")),
        "subj_mention": pa.array(surf, pa.string()),
        "verb": pa.nulls(nm, pa.string()),
        "obj_mention": pa.nulls(nm, pa.string()),
        "extracted_text": pa.nulls(nm, pa.string()),
        "n_sentences": pa.nulls(nm, pa.int64()),
    })
    # batch-local (subj, verb, obj) combiner: the edge-materialize path
    # aggregates these instead of the per-sentence rows — a map-side
    # partial for the (s,p,o) merge that also survives column pruning
    if nt:
        svo_first = (
            pd.DataFrame({"s": subj_np, "v": verb_np, "o": obj_np})
            .drop_duplicates().index.to_numpy()
        )
    else:
        svo_first = np.array([], dtype="int64")
    ns = len(svo_first)
    stake = pa.array(svo_first)
    svo = pa.table({
        "url": pa.nulls(ns, pa.string()),
        "sent_id": pa.array(np.full(ns, SVO_SENT_ID, "int32")),
        "subj_mention": pc.take(fields["subj"], stake),
        "verb": pc.take(fields["verb"], stake),
        "obj_mention": pc.take(fields["obj"], stake),
        "extracted_text": pa.nulls(ns, pa.string()),
        "n_sentences": pa.nulls(ns, pa.int64()),
    })
    return pa.concat_tables([audit, triples, mentions, svo])


def fused_extract_triples(pages: DataFrame, lang: str = "en") -> DataFrame:
    """pages(url, html, lang, ...) -> fused audit+triples relation.

    Output rows:
      sent_id == -1 : audit row, one per input page
                      (extracted_text, n_sentences set; mentions NULL)
      sent_id == -2 : batch-distinct mention surface in `subj_mention`
                      (everything else NULL) — linking's map-side combiner
      sent_id >= 0  : one per triple-pattern match in sentence `sent_id`
                      of a `lang` page (mentions set; text NULL)
    """

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # mapInArrow, not mapInPandas: the batch computation is Arrow
        # kernels end-to-end, so converting the result Table to pandas and
        # back (string-object boxing both ways) was pure overhead on the
        # hottest stage of the whole engine
        for batch in it:
            if batch.num_rows:
                out = _process_batch(
                    batch.column("url").combine_chunks()
                    if isinstance(batch.column("url"), pa.ChunkedArray)
                    else batch.column("url"),
                    batch.column("html"), batch.column("lang"), lang)
                yield from out.combine_chunks().to_batches()

    return pages.select("url", "html", "lang").mapInArrow(gen, FUSED_SCHEMA)
