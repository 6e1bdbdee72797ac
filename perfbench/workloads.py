"""The benchmark workloads.

Each workload prepares its inputs (``inputs.prepare``), binds them to a
session, and then runs one operation at a time in a closed loop:

- ``crawl``: ``pipeline.build_kg`` (in-memory materialization, built-in
  vocabulary) over ``synth_pages``, then the user-side reads of the KG: the
  edge table, the audit row count and the per-predicate stats.
- ``crawl_durable``: ``job.run_kg_job`` over the same pages into a fresh
  parquet warehouse, then one resumed run that reads every stage back.
- ``vocab``: ``build_kg`` with a generated alias table large enough for the
  MinHash-LSH fuzzy linker, then the same reads as ``crawl``.
- ``serve``: one request of a seeded stream against a KGX warehouse — a
  SPARQL query (``query.sparql_select`` / ``sparql_ask``) or an edge
  upsert (``TableIO.merge_into``).

``op`` is what the end-to-end metrics time; ``check`` verifies its output
outside the timed interval; ``traced_op`` calls the same layers one by one
under ``spans.Tracer`` spans, materializing between calls.
"""

from __future__ import annotations

import collections
import functools
import hashlib
import json
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import inputs
from spans import TracingTableIO, dir_bytes

from ecokg_spark.io import TableIO
from ecokg_spark.job import run_kg_job
from ecokg_spark.operators.checkpoint import CHECKPOINT_TABLE, StageRunner
from ecokg_spark.operators.components import SMALL_GRAPH_EDGES, canonical_map
from ecokg_spark.operators.fused import (
    AUDIT_SENT_ID,
    MENTION_SENT_ID,
    SVO_SENT_ID,
    fused_extract_triples,
)
from ecokg_spark.operators.linking import (
    NL_FUZZY_MAX_TERMS,
    STOPWORDS,
    alias_identity_edges,
    build_termlist,
    lsh_band_table,
)
from ecokg_spark.operators.merge import merge_edges, merge_nodes
from ecokg_spark.operators.stats import count_by_category, count_by_predicate
from ecokg_spark.operators.triples import verb_map
from ecokg_spark.pipeline import build_kg, link_triples, release_all
from ecokg_spark.query import sparql_ask, sparql_select
from ecokg_spark.sources.pages import alias_table, category_table

DURABLE_STAGES = ["termlist", "fused", "audit", "triples", "linked_raw", "quarantine",
                  "canonical", "edges", "nodes", "stats_by_predicate",
                  "stats_by_category"]


def pct(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(xs: list[float]) -> tuple[str, float]:
    """Highest whole percentile, up to p90, with at least ten samples
    beyond it."""
    q = min(90, int(100 * (1 - 10 / len(xs)))) if len(xs) > 10 else 50
    return f"p{q}", pct(xs, q / 100)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    kind = "pages"          # input generator
    min_ops = 1             # operations measured even past --seconds
    warmup_ops = 1          # operations in one set-up

    def __init__(self, spark, seed: int, size: dict, cache: str, work: str):
        self.spark, self.seed, self.size = spark, seed, size
        self.cache, self.work = cache, work
        self.manifests: list[dict] = []
        self.report: dict = {}

    def rebind(self, spark) -> None:
        self.spark = spark
        self.bind()

    def bind(self) -> None:
        """(Re)load the prepared inputs into the current session."""

    def reset(self) -> None:
        """Start a measurement from the prepared state."""
        self.report = {}

    def start_warmup(self) -> None:
        """Called before the warm-up operations of a set-up."""

    def units(self, result) -> float:
        return float(self.size["n"])

    def label(self, result) -> str:
        return "op"

    def own_metrics(self, lat: dict, units: float, busy: float) -> dict:
        """The workload's own end-to-end figures: name -> (value, unit)."""
        return {"pages_per_s": (units / busy if busy else 0.0, "1/s")}

    def before(self) -> None:
        """Untimed preparation of the next operation."""

    def after(self) -> None:
        """Untimed clean-up after an operation: drop cached blocks."""
        release_all(self.spark)


# ------------------------------------------------------------------ builds


def collect_kg(out: dict) -> dict:
    """The user-side reads of a built KG (part of the timed operation):
    the edge table, the audit row count and the per-predicate stats."""
    return {
        "edges": [tuple(r) for r in
                  out["edges"].select("subject", "predicate", "object").collect()],
        "audit": out["audit"].count(),
        "stats_by_predicate": {r["predicate"]: r["n"]
                               for r in out["stats_by_predicate"].collect()},
    }


def check_kg(res: dict, n_pages: int, gold: set, min_pr: float | None) -> tuple[list[str], dict]:
    """Errors of one built KG against its gold set; `min_pr` None means
    precision must be exact (every edge in gold) and recall is recorded."""
    errs = []
    got = set(res["edges"])
    tp = len(got & gold)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(gold) if gold else 0.0
    if len(got) != len(res["edges"]):
        errs.append("duplicate (s,p,o) edges")
    if min_pr is None:
        if got - gold:
            errs.append(f"{len(got - gold)} edges not in gold")
    elif precision < min_pr or recall < min_pr:
        errs.append(f"P={precision:.4f} R={recall:.4f} below {min_pr}")
    if res["audit"] != n_pages:
        errs.append(f"audit rows {res['audit']} != pages {n_pages}")
    by_pred = dict(collections.Counter(p for _s, p, _o in res["edges"]))
    if res["stats_by_predicate"] is not None and res["stats_by_predicate"] != by_pred:
        errs.append("stats_by_predicate disagrees with the edges")
    return errs, {"precision": precision, "recall": recall}


def fused_table(pages):
    """The fused corpus pass as build_kg and run_kg_job select it: audit,
    triple and combiner rows, sha256 of the extracted text on audit rows."""
    return fused_extract_triples(pages).select(
        "url", "sent_id", "subj_mention", "verb", "obj_mention", "n_sentences",
        F.when(F.col("sent_id") == AUDIT_SENT_ID,
               F.sha2(F.encode(F.col("extracted_text"), "UTF-8"), 256)).alias("text_sha256"))


def traced_build(spark, tr, pages, aliases) -> dict:
    """build_kg's stages called one by one under spans (same dataflow and
    output), each materialized before the next starts."""
    with tr.span("build", "op"):
        with tr.span("linking.build_termlist", "linking"):
            termlist = build_termlist(aliases).localCheckpoint(eager=True)
        with tr.span("fused.fused_extract_triples", "fused"):
            fused = fused_table(pages).localCheckpoint(eager=True)
        with tr.span("components.canonical_map", "components"):
            ident = alias_identity_edges(termlist).localCheckpoint(eager=True)
            canon = canonical_map(
                ident, termlist.select(F.col("curie").alias("node"))
            ).localCheckpoint(eager=True)
            n_terms = termlist.count()
        triples = fused.where(F.col("sent_id") >= 0).select(
            "url", "sent_id", "subj_mention", "verb", "obj_mention")
        surfaces = fused.where(F.col("sent_id") == MENTION_SENT_ID).select(
            F.col("subj_mention").alias("mention"))
        with tr.span("linking.link_triples", "linking"):
            linked, quarantine, res = link_triples(
                triples, termlist, surfaces=surfaces, dim_count=n_terms)
            linked = linked.localCheckpoint(eager=True)
        with tr.span("pipeline.edges_raw", "pipeline"):
            edges_raw = _edges_raw(spark, fused, res, canon).localCheckpoint(eager=True)
        with tr.span("merge.merge_edges", "merge"):
            edges = merge_edges([edges_raw]).localCheckpoint(eager=True)
        with tr.span("stats.count_by_predicate", "stats"):
            by_pred = {r["predicate"]: r["n"] for r in count_by_predicate(edges).collect()}
        result = {
            "edges": [tuple(r) for r in edges.select("subject", "predicate", "object").collect()],
            "audit": fused.where(F.col("sent_id") == AUDIT_SENT_ID).count(),
            "stats_by_predicate": by_pred,
        }
    # counters: computed after the spans close, so they cost no span time
    tr.count("fused.rows_out", fused.count())
    tr.count("components.identity_edges", ident.count())
    tr.count("components.path_star", float(ident.count() * 2 > SMALL_GRAPH_EDGES))
    tr.count("merge.rows_in", edges_raw.count())
    tr.count("merge.rows_out", len(result["edges"]))
    _linking_counters(tr, termlist, surfaces, res, quarantine, n_terms)
    return result


def _edges_raw(spark, fused, res, canon):
    """build_kg's edge materialize: batch-distinct (s, v, o) rows resolved
    through the resolution table, canonicalized, verb-mapped."""
    canon_b = F.broadcast(canon)
    svo = fused.where(F.col("sent_id") == SVO_SENT_ID).select(
        "subj_mention", "verb", "obj_mention")
    return (
        svo.join(F.broadcast(res.select(F.col("mention").alias("subj_mention"),
                                        F.col("curie").alias("subj_curie"))), "subj_mention")
        .join(F.broadcast(res.select(F.col("mention").alias("obj_mention"),
                                     F.col("curie").alias("obj_curie"))), "obj_mention")
        .join(canon_b.withColumnRenamed("node", "subj_curie")
              .withColumnRenamed("canonical", "subject"), "subj_curie")
        .join(canon_b.withColumnRenamed("node", "obj_curie")
              .withColumnRenamed("canonical", "object"), "obj_curie")
        .join(F.broadcast(verb_map(spark)), "verb")
        .where(F.col("subject") != F.col("object"))
        .select("subject", "predicate", "object", "relation",
                F.lit("ecokg-web").alias("provided_by"))
    )


def _nodes(spark, edges, canon):
    cat = category_table(spark).join(F.broadcast(canon), F.col("curie") == F.col("node"))
    dim = (cat.groupBy("canonical")
           .agg(F.min("curie").alias("curie"), F.min("name").alias("name"),
                F.min("category").alias("category"))
           .select(F.col("canonical").alias("id"), "name", "category"))
    seen = (edges.select(F.col("subject").alias("id"))
            .unionByName(edges.select(F.col("object").alias("id"))).distinct())
    return seen.join(F.broadcast(dim), "id", "left").select(
        "id", "name", "category", F.lit("ecokg-web").alias("provided_by"))


def _linking_counters(tr, termlist, surfaces, res, quarantine, n_terms) -> None:
    """Work counts of the linking layer, re-derived from its public inputs
    and outputs: surfaces in, exact/fuzzy hits, the fuzzy path's input and
    the candidate pairs it verifies (all pairs on the nested-loop path, the
    LSH band-join candidates otherwise)."""
    kinds = {r["match_kind"]: r["n"] for r in
             res.groupBy("match_kind").agg(F.count(F.lit(1)).alias("n")).collect()}
    norm = surfaces.select(F.lower(F.trim("mention")).alias("_norm")).distinct()
    norm = norm.where(~F.col("_norm").isin(STOPWORDS))
    dim = termlist.groupBy("term_norm").agg(F.min("curie").alias("curie"))
    miss = norm.join(dim, norm["_norm"] == dim["term_norm"], "left_anti")
    n_miss = miss.count()
    if n_terms <= NL_FUZZY_MAX_TERMS:
        pairs = n_miss * dim.count()
    else:
        pairs = (lsh_band_table(miss, "_norm", ["_norm"])
                 .join(lsh_band_table(dim, "term_norm", ["term_norm", "curie"]),
                       ["band_idx", "band_hash"])
                 .select("_norm", "term_norm", "curie").distinct().count())
    fuzzy = kinds.get("fuzzy", 0)
    tr.count("linking.surfaces_in", surfaces.distinct().count())
    tr.count("linking.exact_hits", kinds.get("exact", 0))
    tr.count("linking.fuzzy_misses_in", n_miss)
    tr.count("linking.fuzzy_pairs", pairs)
    tr.count("linking.fuzzy_hits", fuzzy)
    tr.count("linking.fuzzy_yield", fuzzy / pairs if pairs else 0.0)
    tr.count("linking.quarantined", quarantine.count())
    tr.count("linking.res_rows", sum(kinds.values()))


def _traced_query(spark, tr, query: str, nodes, edges, ask: bool = False) -> list:
    with tr.span("query", "query") as outer:
        with tr.span("query.compile", "query") as c:
            df = (sparql_ask if ask else sparql_select)(spark, query, nodes, edges)
        with tr.span("query.exec", "query") as e:
            rows = df.collect()
    tr.count("query.compile_ms", (c.end - c.start) * 1e3)
    tr.count("query.exec_ms", (e.end - e.start) * 1e3)
    tr.count("query.jobs", sum(s.spark.get("jobs", 0) for s in (outer, c, e)))
    tr.count("query.rows_out", len(rows))
    return rows


class Crawl(Workload):
    name = "crawl"

    def prepare(self) -> None:
        d, man = inputs.prepare(self.spark, self.cache, "pages", self.seed, self.size["n"])
        self.manifests.append(man)
        self.dir = d
        with open(os.path.join(d, "gold.json")) as f:
            self.gold = {tuple(t) for t in json.load(f)}
        self.bind()

    def bind(self) -> None:
        self.pages = self.spark.read.parquet(os.path.join(self.dir, "pages"))
        self.aliases = None

    def op(self, i: int):
        return collect_kg(build_kg(self.spark, self.pages, aliases=self.aliases))

    def check(self, res) -> list[str]:
        errs, pr = check_kg(res, self.size["n"], self.gold, 0.95)
        self.report.setdefault("precision", []).append(pr["precision"])
        self.report.setdefault("recall", []).append(pr["recall"])
        return errs

    def own_metrics(self, lat, units, busy):
        out = super().own_metrics(lat, units, busy)
        for k in ("precision", "recall"):
            if self.report.get(k):
                out[k] = (_median(self.report[k]), "ratio")
        return out

    def traced_op(self, tr, i: int):
        aliases = self.aliases if self.aliases is not None else alias_table(self.spark)
        return traced_build(self.spark, tr, self.pages, aliases)


class Vocab(Crawl):
    name = "vocab"
    kind = "vocab"

    def prepare(self) -> None:
        d, man = inputs.prepare(self.spark, self.cache, "vocab", self.seed, self.size["n"],
                                n_entities=self.size["entities"])
        self.manifests.append(man)
        self.dir = d
        with open(os.path.join(d, "gold.json")) as f:
            self.gold = {tuple(t) for t in json.load(f)}
        self.bind()

    def bind(self) -> None:
        self.pages = self.spark.read.parquet(os.path.join(self.dir, "pages"))
        self.aliases = self.spark.read.parquet(os.path.join(self.dir, "aliases"))

    def check(self, res) -> list[str]:
        errs, pr = check_kg(res, self.size["n"], self.gold, None)
        self.report.setdefault("recall", []).append(pr["recall"])
        return errs


# ------------------------------------------------------------------ durable


def _durable_totals(io: TableIO) -> tuple[dict, dict]:
    """Per stage (rows, key fingerprint) of the stage tables as they read
    back now, and as their checkpoint lineage recorded them when written.
    The fingerprint is the sum of xxhash64 over each table's first column —
    ``checkpoint.partition_metrics`` summed over partitions — so it does not
    depend on how the table is partitioned. One Spark job per side."""
    tables, lineage = [], []
    for stage in DURABLE_STAGES:
        df = io.read(f"kg.{stage}")
        tables.append(df.select(F.lit(stage).alias("stage"),
                                F.xxhash64(df.columns[0]).cast("decimal(38,0)").alias("h"),
                                F.lit(1).alias("n")))
        lineage.append(io.read(f"{CHECKPOINT_TABLE}.{stage}").select(
            "stage", F.col("key_fingerprint").cast("decimal(38,0)").alias("h"),
            F.col("row_count").alias("n")))

    def totals(parts):
        u = functools.reduce(lambda a, b: a.unionByName(b), parts)
        return {r["stage"]: (int(r["n"] or 0), str(r["h"]))
                for r in u.groupBy("stage").agg(F.sum("n").alias("n"),
                                                 F.sum("h").alias("h")).collect()}

    return totals(tables), totals(lineage)


class CrawlDurable(Crawl):
    name = "crawl_durable"

    def _warehouse(self, i: int) -> str:
        return os.path.join(self.work, f"wh{i}")

    def op(self, i: int):
        wh = self._warehouse(i)
        shutil.rmtree(wh, ignore_errors=True)
        t0 = time.perf_counter()
        run_kg_job(self.spark, self.pages, TableIO(self.spark, wh), run_id=f"r{i}")
        t1 = time.perf_counter()
        io = TableIO(self.spark, wh)
        resumed = run_kg_job(self.spark, self.pages, io, run_id=f"r{i}b", resume=True)
        res = {
            "edges": [tuple(r) for r in io.read("kg.edges")
                      .select("subject", "predicate", "object").collect()],
            "audit": io.read("kg.audit").count(),
        }
        t2 = time.perf_counter()
        self.report.setdefault("fresh_s", []).append(t1 - t0)
        self.report.setdefault("resume_s", []).append(t2 - t1)
        res["skipped"] = len(DURABLE_STAGES) - len(resumed.timings)
        res["wh"] = wh
        return res

    def own_metrics(self, lat, units, busy):
        fresh = _median(self.report.get("fresh_s", []))
        return {"pages_per_s": (self.size["n"] / fresh if fresh else 0.0, "1/s"),
                "resume_s": (_median(self.report.get("resume_s", [])), "s")}

    def check(self, res) -> list[str]:
        errs = []
        errs += check_kg({**res, "stats_by_predicate": None}, self.size["n"], self.gold, 0.95)[0]
        if res["skipped"] != len(DURABLE_STAGES):
            errs.append(f"resume recomputed {len(DURABLE_STAGES) - res['skipped']} stages")
        now, recorded = _durable_totals(TableIO(self.spark, res["wh"]))
        for stage in DURABLE_STAGES:
            if now.get(stage) != recorded.get(stage):
                errs.append(f"resumed kg.{stage} {now.get(stage)} differs from its "
                            f"checkpoint lineage {recorded.get(stage)}")
        shutil.rmtree(res["wh"], ignore_errors=True)
        return errs

    def traced_op(self, tr, i: int):
        wh = self._warehouse(i)
        shutil.rmtree(wh, ignore_errors=True)
        io = TracingTableIO(self.spark, wh, tr)
        r = StageRunner(io, run_id=f"t{i}", resume=True)
        spark = self.spark
        aliases = alias_table(spark)

        def stage(name: str, layer: str, fn):
            with tr.span(f"{layer}.{name}", layer):
                df = fn().localCheckpoint(eager=True)
            with tr.span(f"checkpoint.run:{name}", "checkpoint"):
                return r.run(name, lambda: df)

        with tr.span("job", "op"):
            termlist = stage("termlist", "linking", lambda: build_termlist(aliases))
            fused = stage("fused", "fused", lambda: fused_table(self.pages))
            stage("audit", "fused", lambda: fused.where(F.col("sent_id") == AUDIT_SENT_ID)
                  .select("url", "text_sha256", "n_sentences"))
            triples = stage("triples", "fused", lambda: fused.where(F.col("sent_id") >= 0)
                            .select("url", "sent_id", "subj_mention", "verb", "obj_mention"))
            surfaces = fused.where(F.col("sent_id") == MENTION_SENT_ID).select(
                F.col("subj_mention").alias("mention"))
            link = {}

            def _linked():
                _l, q, res = link_triples(triples, termlist, surfaces=surfaces)
                link["q"], link["res"] = q, res
                s = res.select(F.col("mention").alias("subj_mention"),
                               F.col("curie").alias("subj_curie"),
                               F.col("match_kind").alias("subj_match"))
                o = res.select(F.col("mention").alias("obj_mention"),
                               F.col("curie").alias("obj_curie"),
                               F.col("match_kind").alias("obj_match"))
                return triples.join(F.broadcast(s), "subj_mention", "left").join(
                    F.broadcast(o), "obj_mention", "left")

            j = stage("linked_raw", "linking", _linked)
            stage("quarantine", "linking", lambda: link["q"])
            canon = stage("canonical", "components", lambda: canonical_map(
                alias_identity_edges(termlist), termlist.select(F.col("curie").alias("node"))))
            res = (j.select(F.col("subj_mention").alias("mention"),
                            F.col("subj_curie").alias("curie"))
                   .unionByName(j.select(F.col("obj_mention").alias("mention"),
                                         F.col("obj_curie").alias("curie")))
                   .where(F.col("curie").isNotNull()).distinct())
            with tr.span("pipeline.edges_raw", "pipeline"):
                edges_raw = _edges_raw(spark, fused, res, canon).localCheckpoint(eager=True)
            edges = stage("edges", "merge", lambda: merge_edges([edges_raw]))
            nodes = stage("nodes", "merge",
                          lambda: merge_nodes([_nodes(spark, edges, canon)]))
            stage("stats_by_predicate", "stats", lambda: count_by_predicate(edges))
            stage("stats_by_category", "stats", lambda: count_by_category(nodes))
        with tr.span("resume", "op"):
            rio = TracingTableIO(spark, wh, tr)
            resumed = run_kg_job(spark, self.pages, rio, run_id=f"t{i}b", resume=True)
            result = {
                "edges": [tuple(x) for x in rio.read("kg.edges")
                          .select("subject", "predicate", "object").collect()],
                "audit": rio.read("kg.audit").count(),
                "skipped": len(DURABLE_STAGES) - len(resumed.timings),
                "wh": wh,
            }
        out_bytes = sum(dir_bytes(os.path.join(wh, "kg", t)) for t in
                        ("edges", "nodes", "stats_by_predicate", "stats_by_category"))
        tr.count("checkpoint.bytes_written", io.bytes_written)
        tr.count("checkpoint.write_amp", io.bytes_written / out_bytes if out_bytes else 0.0)
        tr.count("checkpoint.stages_skipped", result["skipped"])
        tr.count("fused.rows_out", fused.count())
        ident = alias_identity_edges(termlist)
        tr.count("components.identity_edges", ident.count())
        tr.count("components.path_star", float(ident.count() * 2 > SMALL_GRAPH_EDGES))
        tr.count("merge.rows_in", edges_raw.count())
        tr.count("merge.rows_out", len(result["edges"]))
        _linking_counters(tr, termlist, surfaces, link["res"], link["q"], termlist.count())
        return result


# ------------------------------------------------------------------ serve


class Serve(Workload):
    name = "serve"
    kind = "graph"
    min_ops = 30

    def prepare(self) -> None:
        import duckdb

        d, man = inputs.prepare(self.spark, self.cache, "graph", self.seed, self.size["n"])
        self.dir = d
        _nodes_rows, _edges_rows, ids = inputs.graph_tables(self.seed, self.size["n"])
        self.stream = inputs.request_stream(self.seed, ids, self.size["requests"],
                                            self.size["batch_rows"])
        man["stream_sha"] = hashlib.sha256(
            json.dumps(self.stream, sort_keys=True).encode()).hexdigest()[:16]
        self.manifests.append(man)
        self.wh = os.path.join(self.work, "warehouse")
        self.batches = os.path.join(self.work, "batches")
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 1")
        # warm-up: the stream's first upsert, subclass_of+ and 2-hop queries
        first = {}
        for r in self.stream:
            key = r["kind"] if r["kind"] == "upsert" else r["template"]
            first.setdefault(key, r)
        self.warmup = [first[k] for k in ("upsert", 4, 2) if k in first]
        self.warmup_ops = len(self.warmup)

    def reset(self) -> None:
        """Fresh warehouse copy of the generated graph, and the DuckDB
        expected-state table rebuilt from the same files."""
        super().reset()
        self.queue = []
        shutil.rmtree(self.wh, ignore_errors=True)
        os.makedirs(os.path.join(self.wh, "kg"))
        for t in ("nodes", "edges"):
            shutil.copytree(os.path.join(self.dir, t), os.path.join(self.wh, "kg", t))
        self.bind()
        self.duck.execute("CREATE OR REPLACE TABLE exp_edges AS SELECT * FROM "
                          f"read_parquet('{self._glob('edges')}')")
        self.next = 0

    def bind(self) -> None:
        """Table handles a server keeps open; an upsert refreshes edges."""
        self.io = TableIO(self.spark, self.wh)
        self.nodes, self.edges = self.io.read("kg.nodes"), self.io.read("kg.edges")

    def start_warmup(self) -> None:
        self.queue = list(self.warmup)

    def label(self, result) -> str:
        return result["req"]["kind"]

    def own_metrics(self, lat, units, busy):
        q, u = lat.get("query", []), lat.get("upsert", [])
        out = {"requests_per_s": (units / busy if busy else 0.0, "1/s"),
               "query_p50_ms": (_median(q) * 1e3, "ms"),
               "upsert_p50_ms": (_median(u) * 1e3, "ms"),
               "queries": (len(q), "count"), "upserts": (len(u), "count")}
        if q:
            name, v = tail(q)
            out[f"query_{name}_ms"] = (v * 1e3, "ms")
        return out

    def _glob(self, table: str) -> str:
        return os.path.join(self.wh, "kg", table, "*.parquet")

    def units(self, result) -> float:
        return 1.0

    def _request(self):
        if self.queue:
            req = self.queue.pop(0)
        else:
            req = self.stream[self.next % len(self.stream)]
            self.next += 1
        if req["kind"] == "upsert":
            path = os.path.join(self.batches, f"b{self.next}-{len(self.queue)}")
            inputs.write_table(self.spark, req["rows"], inputs.EDGE_SCHEMA, path)
            req = {**req, "path": path}
        return req

    def op(self, i: int, tr=None):
        req = self.pending
        if req["kind"] == "upsert":
            src = self.spark.read.parquet(req["path"])
            io = TracingTableIO(self.spark, self.wh, tr) if tr else self.io
            io.merge_into(src, "kg.edges", inputs.EDGE_KEYS)
            # the rewrite replaced the table's files: later reads need a
            # fresh handle
            self.edges = self.io.read("kg.edges")
            if tr is not None:
                tr.count("io.bytes_rewritten_per_byte",
                          dir_bytes(os.path.join(self.wh, "kg", "edges")) / dir_bytes(req["path"]))
            return {"req": req}
        nodes, edges = self.nodes, self.edges
        q, ask = sparql_text(req)
        if tr is not None:
            return {"req": req, "rows": _traced_query(self.spark, tr, q, nodes, edges, ask)}
        fn = sparql_ask if ask else sparql_select
        return {"req": req, "rows": fn(self.spark, q, nodes, edges).collect()}

    def before(self) -> None:
        self.pending = self._request()

    def check(self, res) -> list[str]:
        req = res["req"]
        if req["kind"] == "upsert":
            batch = f"read_parquet('{req['path']}/*.parquet')"
            self.duck.execute(
                f"DELETE FROM exp_edges e WHERE EXISTS (SELECT 1 FROM {batch} b WHERE "
                "b.subject = e.subject AND b.predicate = e.predicate AND b.object = e.object)")
            self.duck.execute(f"INSERT INTO exp_edges SELECT * FROM {batch}")
            diff = self.duck.execute(
                "SELECT count(*) FROM ((SELECT * FROM exp_edges EXCEPT ALL SELECT * FROM "
                f"read_parquet('{self._glob('edges')}')) UNION ALL (SELECT * FROM "
                f"read_parquet('{self._glob('edges')}') EXCEPT ALL SELECT * FROM exp_edges))"
            ).fetchone()[0]
            errs = [f"upsert: {diff} rows differ from the DuckDB replay"] if diff else []
        else:
            want = self.duck.execute(duck_sql(req, self._glob("nodes"),
                                              self._glob("edges"))).fetchall()
            cols = [d[0] for d in self.duck.description]
            got = [r.asDict() for r in res["rows"]]
            want = [dict(zip(cols, r)) for r in want]
            errs = [] if _bag(got) == _bag(want) else [
                f"query template {req['template']}: {len(got)} rows vs DuckDB {len(want)}"]
        return errs

    def traced_op(self, tr, i: int):
        return self.op(i, tr)


def _bag(rows: list[dict]) -> collections.Counter:
    """Rows as a multiset of {column: value-as-text} (engines differ in
    integer and boolean types, and may order projected columns differently)."""
    return collections.Counter(
        tuple(sorted((k, None if v is None else str(v)) for k, v in r.items())) for r in rows)


def sparql_text(req: dict) -> tuple[str, bool]:
    """SPARQL text of a query request; (text, is_ask)."""
    s, x, t = req["s"], req["x"], req["template"]
    if t == 0:  # the reference's count-by-category query
        return ("SELECT (COUNT(?v2) AS ?v1) ?v0 WHERE { ?v2 biolink:category ?v0 } "
                "GROUP BY ?v0"), False
    if t == 1:
        if req["ask"]:
            return f"ASK {{ {s} biolink:has_phenotype ?o }}", True
        return f"SELECT ?o WHERE {{ {s} biolink:has_phenotype ?o }}", False
    if t == 2:
        return (f"SELECT ?m ?o WHERE {{ {s} biolink:interacts_with ?m . "
                f"?m biolink:has_phenotype ?o . FILTER(?o != \"{x}\") }}"), False
    if t == 3:
        return "SELECT ?p (COUNT(?s) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p", False
    if t == 4:
        return f"SELECT ?anc WHERE {{ {x} biolink:subclass_of+ ?anc }}", False
    return (f"SELECT ?s ?o WHERE {{ ?s biolink:category biolink:Gene . "
            f"OPTIONAL {{ ?s biolink:expressed_in ?o }} "
            f"FILTER regex(?s, \"^{req['prefix']}\") }}"), False


def duck_sql(req: dict, nodes: str, edges: str) -> str:
    """DuckDB SQL computing the same answer as `sparql_text(req)`, with the
    SPARQL variable names as column names."""
    s, x, t = req["s"], req["x"], req["template"]
    n, e = f"read_parquet('{nodes}')", f"read_parquet('{edges}')"
    if t == 0:
        return f"SELECT count(id) AS v1, category AS v0 FROM {n} GROUP BY category"
    if t == 1:
        where = f"WHERE subject = '{s}' AND predicate = 'biolink:has_phenotype'"
        if req["ask"]:
            return f"SELECT count(*) > 0 AS ask FROM {e} {where}"
        return f"SELECT object AS o FROM {e} {where}"
    if t == 2:
        return (f"SELECT a.object AS m, b.object AS o FROM {e} a JOIN {e} b "
                f"ON b.subject = a.object WHERE a.subject = '{s}' "
                "AND a.predicate = 'biolink:interacts_with' "
                f"AND b.predicate = 'biolink:has_phenotype' AND b.object != '{x}'")
    if t == 3:
        return f"SELECT predicate AS p, count(subject) AS n FROM {e} GROUP BY predicate"
    if t == 4:
        return ("WITH RECURSIVE up(node) AS ("
                f"SELECT object FROM {e} WHERE subject = '{x}' "
                "AND predicate = 'biolink:subclass_of' "
                f"UNION SELECT e.object FROM up JOIN {e} e ON e.subject = up.node "
                "AND e.predicate = 'biolink:subclass_of') SELECT node AS anc FROM up")
    return (f"SELECT n.id AS s, o.object AS o FROM {n} n LEFT JOIN (SELECT subject, object "
            f"FROM {e} WHERE predicate = 'biolink:expressed_in') o ON o.subject = n.id "
            f"WHERE n.category = 'biolink:Gene' AND regexp_matches(n.id, '^{req['prefix']}')")


WORKLOADS = {w.name: w for w in (Crawl, CrawlDurable, Vocab, Serve)}
