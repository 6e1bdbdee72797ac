"""Seeded input generators for the benchmark workloads, with a content
fingerprint per input and an on-disk cache keyed by (kind, seed, size).

The program under test only ever receives the tables written here:

- ``pages``: ``sources.pages.synth_pages(n, seed)`` written to parquet (the
  crawl and crawl_durable input) plus its gold triple set.
- ``vocab``: a generated alias table whose surface forms are pairwise at
  edit distance >= 5, and pages that mention them with Zipf-skewed entity
  choice, one-character deletions and case variants, plus the gold set.
- ``graph``: a KGX nodes/edges graph with a has_phenotype-heavy predicate
  mix and a subclass_of hierarchy, plus a seeded request stream (SPARQL
  queries and small edge-upsert batches) over it.

A fingerprint is the order-independent sum of a 64-bit row hash over every
generated table, so the same (kind, seed, size) must always give the same
value. ``check_manifest`` fails a run whose cached input no longer hashes to
what was recorded when it was generated, and ``CANARY`` pins the value of a
small fixed input, regenerated on every run, so an edit to the generator
itself shows up.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

# (kind, seed, size) -> fingerprint of a small input generated on every run.
# A change here means the generator changed: results measured before and
# after it are on different inputs and must not be compared.
CANARY = {
    ("pages", 0, 200): "9236191c691c77ed",
    ("vocab", 0, 200): "2b7279ebd30ecd97",
    ("graph", 0, 300): "d565a409748a4ae9",
}


def fingerprint_df(df) -> str:
    """Order-independent content hash of a Spark DataFrame: row count plus
    the exact sum of xxhash64 over all columns."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("h").cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).cast("string").alias("s"),
    ).collect()[0]
    return f"{row['n']}:{row['s']}"


def _combine(parts: list[str]) -> str:
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def write_table(spark, rows, schema: str, path: str):
    """Write Python rows (through an Arrow-backed pandas frame) as a
    parquet directory."""
    import pandas as pd

    cols = [c.strip().split(" ")[0] for c in schema.split(",")]
    spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema).write.mode(
        "overwrite").parquet(path)


# ---------------------------------------------------------------- pages


def gen_pages(spark, seed: int, n_pages: int, out: str) -> dict:
    """crawl input: synth_pages + its gold (s, p, o) set."""
    from ecokg_spark.sources.pages import synth_gold, synth_pages

    synth_pages(spark, n_pages, seed).write.mode("overwrite").parquet(
        os.path.join(out, "pages"))
    gold = sorted(
        (r["subject"], r["predicate"], r["object"])
        for r in synth_gold(spark, n_pages, seed).collect()
    )
    with open(os.path.join(out, "gold.json"), "w") as f:
        json.dump(gold, f)
    return {"tables": ["pages"], "meta": {"gold_edges": len(gold)}}


# ---------------------------------------------------------------- vocab

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _bigram_matrix(names: list[str]) -> np.ndarray:
    m = np.zeros((len(names), 26 * 26), dtype=np.float32)
    for i, s in enumerate(names):
        for a, b in zip(s, s[1:]):
            m[i, (ord(a) - 97) * 26 + ord(b) - 97] += 1.0
    return m


def far_apart_names(rng: np.random.Generator, n: int) -> list[str]:
    """`n` lowercase names of 16-20 letters, pairwise at edit distance >= 5.

    q-gram lemma: strings within edit distance k share at least
    max(|x|, |y|) - 1 - 2k bigrams, i.e. >= 7 for k = 4 at length >= 16.
    The dot product of bigram count vectors bounds the shared-bigram
    multiset from above, so rejecting every candidate whose dot product
    with an accepted name reaches 7 leaves only pairs at distance >= 5."""
    accepted: list[str] = []
    acc_m = np.zeros((0, 26 * 26), dtype=np.float32)
    while len(accepted) < n:
        lens = rng.integers(16, 21, size=512)
        cand = ["".join(rng.choice(_LETTERS, size=int(k))) for k in lens]
        cm = _bigram_matrix(cand)
        ok = (cm @ acc_m.T).max(axis=1, initial=0.0) < 7
        inner = cm @ cm.T  # candidates of this chunk against each other
        keep: list[int] = []
        for i in np.flatnonzero(ok):
            if not keep or inner[i, keep].max() < 7:
                keep.append(int(i))
        keep = keep[: n - len(accepted)]
        accepted += [cand[i] for i in keep]
        acc_m = np.vstack([acc_m, cm[keep]])
    return accepted


def vocab_aliases(seed: int, n_entities: int):
    """Alias rows (curie, name, synonym, category, provided_by) plus the
    per-entity surface list and canonical curie.

    Every entity gets a name and one synonym. ~5% of entities get a
    duplicate curie (``DUP:``) with its own name that shares the
    original's synonym, so canonicalization must merge the pair; the
    canonical id of a component is its min curie, as in
    ``components.canonical_map``."""
    rng = np.random.default_rng([seed, 101])
    n_dup = max(1, n_entities // 20)
    names = far_apart_names(rng, 2 * n_entities + n_dup)
    rows, surfaces, canonical = [], [], []
    for i in range(n_entities):
        name, syn = names[2 * i], names[2 * i + 1]
        rows.append((f"VOC:{i:06d}", name, syn, "biolink:NamedThing", "bench"))
        surfaces.append([name, syn])
        canonical.append(f"VOC:{i:06d}")
    dup_of = rng.choice(n_entities, size=n_dup, replace=False)
    for k, i in enumerate(sorted(int(x) for x in dup_of)):
        name = names[2 * n_entities + k]
        dup = f"DUP:{i:06d}"
        rows.append((dup, name, surfaces[i][1], "biolink:NamedThing", "bench"))
        surfaces.append([name, surfaces[i][1]])
        canonical.append(dup)  # "DUP:" < "VOC:": the dup is the component min
        canonical[i] = dup
    return rows, surfaces, canonical


_HTML_HEAD = ("<html><head><title>Page {i}</title><style>p{{margin:0}}</style>"
              "</head><body><nav>Home | About &amp; Contact</nav>"
              "<header>Example vocab.example.org</header>\n<p>")
_HTML_TAIL = "</p>\n<footer>(c) 2025 example.org</footer></body></html>"


def gen_vocab(spark, seed: int, n_pages: int, out: str,
              n_entities: int) -> dict:
    """vocab input: alias table + pages that mention its surfaces.

    Entity choice is Zipf-skewed (a=1.3); each mention is a random surface
    of the entity, ~10% with one character deleted (position >= 3),
    ~15% capitalized. Gold = distinct (canonical s, predicate, canonical
    o) over all sentences, self-loops dropped."""
    from ecokg_spark.sources.vocab import VERB_CUM_WEIGHTS, VERB_PHRASES, VERB_PREDICATES

    alias_rows, surfaces, canonical = vocab_aliases(seed, n_entities)
    rng = np.random.default_rng([seed, 202])
    n_all = len(surfaces)
    cum = np.array(VERB_CUM_WEIGHTS)
    gold: set[tuple[str, str, str]] = set()

    def pick_entities(k: int) -> np.ndarray:
        return (rng.zipf(1.3, size=k) - 1) % n_all

    def mention(e: int) -> str:
        surf = surfaces[e][int(rng.integers(len(surfaces[e])))]
        r = rng.random()
        if r < 0.10:
            pos = int(rng.integers(2, len(surf)))
            surf = surf[:pos] + surf[pos + 1:]
        elif r < 0.25:
            surf = surf.capitalize()
        return surf

    pages = []
    for i in range(n_pages):
        n_s = int(rng.integers(1, 9))
        subj, obj = pick_entities(n_s), pick_entities(n_s)
        verbs = np.searchsorted(cum, rng.integers(0, 100, size=n_s), side="right")
        sents = []
        for s, v, o in zip(subj, verbs, obj):
            sents.append(f"{mention(int(s))} {VERB_PHRASES[v]} {mention(int(o))}.")
            cs, co = canonical[int(s)], canonical[int(o)]
            if cs != co:
                gold.add((cs, VERB_PREDICATES[v], co))
        html = _HTML_HEAD.format(i=i) + " ".join(sents) + _HTML_TAIL
        pages.append((f"https://vocab.example.org/page/{i}", 1735689600 + i,
                      html.encode(), None, "en"))

    write_table(spark, alias_rows,
                "curie string, name string, synonym string, category string,"
                " provided_by string", os.path.join(out, "aliases"))
    import pandas as pd
    from pyspark.sql import functions as F

    spark.createDataFrame(
        pd.DataFrame(pages, columns=["url", "ts", "html", "text", "lang"]),
        "url string, ts long, html binary, text string, lang string",
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "text",
             "lang").write.mode("overwrite").parquet(os.path.join(out, "pages"))
    with open(os.path.join(out, "gold.json"), "w") as f:
        json.dump(sorted(gold), f)
    return {"tables": ["aliases", "pages"],
            "meta": {"gold_edges": len(gold), "entities": n_entities,
                     "alias_rows": len(alias_rows)}}


# ---------------------------------------------------------------- graph

CATEGORIES = ["biolink:Gene", "biolink:PhenotypicFeature", "biolink:OrganismTaxon",
              "biolink:ChemicalEntity", "biolink:AnatomicalEntity"]
_PREFIX = {"biolink:Gene": "GENE", "biolink:PhenotypicFeature": "PHEN",
           "biolink:OrganismTaxon": "TAXON", "biolink:ChemicalEntity": "CHEM",
           "biolink:AnatomicalEntity": "ANAT"}
# predicate, share of the non-hierarchy edges (has_phenotype ~48% overall)
PREDICATES = [("biolink:has_phenotype", 0.53), ("biolink:interacts_with", 0.15),
              ("biolink:expressed_in", 0.14), ("biolink:located_in", 0.10),
              ("biolink:related_to", 0.08)]
RELATION = {"biolink:has_phenotype": "RO:0002200", "biolink:interacts_with": "RO:0002434",
            "biolink:expressed_in": "RO:0002206", "biolink:located_in": "RO:0001025",
            "biolink:related_to": "skos:related", "biolink:subclass_of": "rdfs:subClassOf"}
EDGE_KEYS = ["subject", "predicate", "object"]
EDGE_SCHEMA = ("subject string, predicate string, object string, relation string,"
               " provided_by string")


def graph_tables(seed: int, n_nodes: int):
    """KGX (nodes, edges) rows; ~12.5 edges per node as in the reference
    (416,691 nodes / 5,325,487 edges)."""
    rng = np.random.default_rng([seed, 303])
    cats = rng.choice(len(CATEGORIES), size=n_nodes, p=[0.4, 0.2, 0.2, 0.1, 0.1])
    ids = [f"{_PREFIX[CATEGORIES[c]]}:{i:07d}" for i, c in enumerate(cats)]
    nodes = [(ids[i], f"node {i}", CATEGORIES[c]) for i, c in enumerate(cats)]
    by_cat = {c: np.flatnonzero(cats == c) for c in range(len(CATEGORIES))}
    edges: dict[tuple[str, str, str], tuple] = {}
    # subclass_of: a three-level hierarchy per category — the first 2% of
    # its nodes are roots, the next 18% sit under a root, the rest under
    # one of those
    for c, members in by_cat.items():
        n_root = max(1, len(members) // 50)
        n_mid = max(1, len(members) // 5)
        for k in range(n_root, len(members)):
            lo, hi = (0, n_root) if k < n_mid else (n_root, n_mid)
            parent = members[int(rng.integers(lo, hi))]
            key = (ids[members[k]], "biolink:subclass_of", ids[parent])
            edges[key] = (*key, RELATION[key[1]], "bench")
    n_edges = int(n_nodes * 12.5)
    preds = rng.choice(len(PREDICATES), size=n_edges, p=[p for _, p in PREDICATES])
    genes = by_cat[0]
    obj_pool = {0: by_cat[1], 1: genes, 2: by_cat[4], 3: by_cat[4],
                4: np.arange(n_nodes)}
    # Zipf-skewed subjects: a few hub genes carry most of the edges
    subj = genes[(rng.zipf(1.2, size=n_edges) - 1) % len(genes)]
    for s, p in zip(subj, preds):
        pool = obj_pool[int(p)]
        o = pool[int(rng.integers(len(pool)))]
        key = (ids[s], PREDICATES[p][0], ids[o])
        edges[key] = (*key, RELATION[key[1]], "bench")
    return nodes, list(edges.values()), ids


# one cycle of the request mix: 8 queries (every template, the 1-hop one
# also as ASK) and 2 upserts — 80% reads, 20% writes in a fixed order, so
# runs of any seed see the same mix
CYCLE = [("query", 0), ("query", 1), ("query", 2), ("upsert", None), ("query", 3),
         ("query", 4), ("ask", 1), ("query", 5), ("query", 2), ("upsert", None)]


def request_stream(seed: int, ids: list[str], n_requests: int,
                   batch_rows: int) -> list[dict]:
    """Seeded requests following CYCLE: query parameters are drawn from the
    hub genes and the node ids; each upsert batch holds `batch_rows` edges
    with unique keys, half on hub subjects."""
    rng = np.random.default_rng([seed, 404])
    genes = [i for i in ids if i.startswith("GENE:")]
    hubs = genes[: max(1, len(genes) // 50)]
    out = []
    for r in range(n_requests):
        kind, template = CYCLE[r % len(CYCLE)]
        if kind == "upsert":
            rows = {}
            while len(rows) < batch_rows:
                s = hubs[int(rng.integers(len(hubs)))] if rng.random() < 0.5 \
                    else genes[int(rng.integers(len(genes)))]
                p = PREDICATES[int(rng.integers(len(PREDICATES)))][0]
                o = ids[int(rng.integers(len(ids)))]
                rows[(s, p, o)] = (s, p, o, RELATION[p], f"upsert{r}")
            out.append({"kind": "upsert", "rows": list(rows.values())})
            continue
        out.append({"kind": "query", "template": template, "ask": kind == "ask",
                    "s": hubs[int(rng.integers(len(hubs)))],
                    "x": ids[int(rng.integers(len(ids)))],
                    "prefix": f"GENE:{int(rng.integers(0, 100)):02d}"})
    return out


def gen_graph(spark, seed: int, n_nodes: int, out: str) -> dict:
    nodes, edges, _ids = graph_tables(seed, n_nodes)
    write_table(spark, nodes, "id string, name string, category string",
                os.path.join(out, "nodes"))
    write_table(spark, edges, EDGE_SCHEMA, os.path.join(out, "edges"))
    return {"tables": ["nodes", "edges"],
            "meta": {"nodes": len(nodes), "edges": len(edges)}}


# ---------------------------------------------------------------- cache

GENERATORS = {"pages": gen_pages, "vocab": gen_vocab, "graph": gen_graph}


def _fingerprint_dir(spark, out: str, tables: list[str]) -> str:
    parts = [fingerprint_df(spark.read.parquet(os.path.join(out, t))) for t in tables]
    if os.path.exists(os.path.join(out, "gold.json")):
        with open(os.path.join(out, "gold.json"), "rb") as f:
            parts.append(hashlib.sha256(f.read()).hexdigest())
    return _combine(parts)


def _files_sha(out: str, tables: list[str]) -> str:
    """sha256 over the stored files of `tables` (names and bytes)."""
    h = hashlib.sha256()
    paths = []
    for t in tables:
        top = os.path.join(out, t)
        if os.path.isfile(top):
            paths.append(top)
        for root, dirs, files in os.walk(top):
            dirs.sort()
            paths += [os.path.join(root, fn) for fn in sorted(files)]
    for path in paths:
        h.update(os.path.relpath(path, out).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def prepare(spark, cache_root: str, kind: str, seed: int, size: int,
            **kw) -> tuple[str, dict]:
    """Generate (or reuse) one input; returns (directory, manifest).

    The manifest records seed, size, the content fingerprint taken when the
    input was generated and a hash of the stored files; a cache hit
    re-hashes the files so ``check_manifest`` can tell whether the input
    under this (seed, size) is still the one that was fingerprinted."""
    key = "-".join([kind, str(seed), str(size)] + [f"{k}{v}" for k, v in sorted(kw.items())])
    out = os.path.join(cache_root, key)
    man_path = os.path.join(out, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
        man["files_sha_now"] = _files_sha(out, man["tables"] + ["gold.json"])
        man["cached"] = True
        return out, man
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    info = GENERATORS[kind](spark, seed, size, out, **kw)
    man = {"kind": kind, "seed": seed, "size": size, "params": kw,
           "tables": info["tables"], "meta": info["meta"],
           "fingerprint": _fingerprint_dir(spark, out, info["tables"]),
           "files_sha": _files_sha(out, info["tables"] + ["gold.json"])}
    with open(man_path, "w") as f:
        json.dump(man, f)
    man["files_sha_now"] = man["files_sha"]
    man["cached"] = False
    return out, man


def check_manifest(man: dict) -> bool:
    """Same seed and size must give the same stored input."""
    return man["files_sha"] == man["files_sha_now"]


def canary(spark, scratch: str, kind: str) -> tuple[str, bool]:
    """Regenerate the pinned small input of `kind` and compare its
    fingerprint with CANARY; returns (fingerprint, matches)."""
    (k, seed, size), want = next((key, v) for key, v in CANARY.items() if key[0] == kind)
    out = os.path.join(scratch, f"canary-{kind}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    kw = {"n_entities": 60} if kind == "vocab" else {}
    info = GENERATORS[kind](spark, seed, size, out, **kw)
    fp = _fingerprint_dir(spark, out, info["tables"])
    shutil.rmtree(out, ignore_errors=True)
    return fp, fp == want
