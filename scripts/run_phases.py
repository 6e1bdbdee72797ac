"""Reference-shaped CLI: the eco-kg run.py phases on the Spark engine.

    python scripts/run_phases.py download --yaml download.yaml \
        --output data/raw [--ignore-cache]
    python scripts/run_phases.py transform --source gaf --input assoc.gaf \
        --output out/planteome [--ortho] [--germplasm-cat cat.json ...]
    python scripts/run_phases.py transform --source eol-pages \
        --input pages.csv --output out/eol_hierarchy
    python scripts/run_phases.py transform --source eol-traits \
        --input traits.csv --pages pages.csv --trait-dim td.csv \
        --value-dim vd.csv [--unit-dim ud.csv] --output out/eol_traits
    python scripts/run_phases.py merge --config merge.yaml --base-dir data/
    python scripts/run_phases.py query --sparql "SELECT ..." \
        --nodes merged/nodes --edges merged/edges --output result.tsv

Phase parity with /root/reference/run.py:
  download  (run.py:19-41)  YAML manifest -> data dir (driver-side HTTP
                            fetch with cache skip; sources/download.py)
  transform (run.py:44-66)  per-source file -> KGX nodes/edges TSVs
  merge     (run.py:69-84)  KGX merge-config YAML -> merged graph + stats
  query     (run.py:87-111) SPARQL SELECT -> TSV bindings ('ERROR' for
                            missing vars, query.py:20-36 semantics)
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark():
    from ecokg_spark.session import get_spark

    s = get_spark(app_name="ecokg-phases")
    s.sparkContext.setLogLevel("WARN")
    return s


def _write_kgx(nodes, edges, out_dir: str) -> None:
    from ecokg_spark.io import TableIO

    io = TableIO(nodes.sparkSession)
    io.export_kgx_tsv(nodes, os.path.join(out_dir, "nodes"), compress=False)
    io.export_kgx_tsv(edges, os.path.join(out_dir, "edges"), compress=False)


def _csv(spark, path):
    """Quoted-CSV scan (S3 semantics — the EOL inputs are QUOTE_ALL CSVs,
    eol_traits.py:192-210)."""
    return (spark.read.option("header", True).option("quote", '"')
            .csv(path))


def cmd_download(args) -> None:
    # no SparkSession: a handful of source archives fetched once on the
    # driver (see sources/download.py docstring)
    from ecokg_spark.sources.download import download_from_yaml

    paths = download_from_yaml(args.yaml, args.output,
                               ignore_cache=args.ignore_cache)
    print(f"download -> {args.output} ({len(paths)} files)")


def cmd_transform(args) -> None:
    spark = _spark()
    from ecokg_spark.transforms.gaf_kgx import GAF_COLS

    def read_gaf(path):
        return (spark.read.option("sep", "\t").option("comment", "!")
                .csv(path).toDF(*GAF_COLS))

    if args.source == "gaf":
        from ecokg_spark.transforms.gaf_kgx import gaf_to_kgx

        nodes, edges = gaf_to_kgx(read_gaf(args.input),
                                  with_orthologs=args.ortho)
    elif args.source == "germplasm":
        from ecokg_spark.transforms.gaf_kgx import germplasm_to_kgx

        cat = spark.read.option("header", True).csv(args.cat_traits)
        num = spark.read.option("header", True).csv(args.num_traits)
        nodes, edges = germplasm_to_kgx(read_gaf(args.input), cat, num)
    elif args.source == "qtl":
        from ecokg_spark.transforms.gaf_kgx import qtl_to_kgx

        nodes, edges = qtl_to_kgx(read_gaf(args.input))
    elif args.source == "gea":
        from ecokg_spark.transforms.gea_kgx import GEA_COLS, gea_to_kgx

        expr = (spark.read.option("sep", "\t").csv(args.input).toDF(*GEA_COLS))
        nodes, edges = gea_to_kgx(expr)
    elif args.source == "ontology":
        from ecokg_spark.transforms.ontology_kgx import read_obograph

        nodes, edges = read_obograph(spark, args.input)
    elif args.source == "eol-pages":
        from ecokg_spark.transforms.eol_kgx import eol_pages_to_kgx

        nodes, edges = eol_pages_to_kgx(_csv(spark, args.input))
    elif args.source == "eol-traits":
        from ecokg_spark.transforms.eol_kgx import eol_traits_to_kgx

        nodes, edges = eol_traits_to_kgx(
            _csv(spark, args.input),
            _csv(spark, args.pages),
            _csv(spark, args.trait_dim),
            _csv(spark, args.value_dim),
            unit_dim=_csv(spark, args.unit_dim) if args.unit_dim else None,
            location_uris=(args.location_uris or "").split(",") if args.location_uris else None,
            skip_uris=(args.skip_uris or "").split(",") if args.skip_uris else None,
        )
    else:
        raise SystemExit(f"unknown source {args.source!r}")
    _write_kgx(nodes, edges, args.output)
    print(f"transform[{args.source}] -> {args.output}")


def cmd_merge(args) -> None:
    spark = _spark()
    from ecokg_spark.merge_config import load_and_merge

    out = load_and_merge(spark, open(args.config).read(), base_dir=args.base_dir)
    print(f"merge -> {out['out_dir']} "
          f"({out['nodes'].count()} nodes, {out['edges'].count()} edges)")


def cmd_query(args) -> None:
    spark = _spark()
    from ecokg_spark.query import sink_bindings, sparql_select

    def read_any(path):
        if os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            return spark.read.parquet(path)
        return spark.read.option("sep", "\t").option("header", True).csv(path)

    out = sink_bindings(sparql_select(spark, args.sparql, read_any(args.nodes),
                                      read_any(args.edges)))
    (out.coalesce(1).write.mode("overwrite")
        .option("sep", "\t").option("header", True).csv(args.output))
    print(f"query -> {args.output}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="phase", required=True)

    d = sub.add_parser("download")
    d.add_argument("--yaml", default="download.yaml",
                   help="manifest: YAML list of {url, local_name?} items")
    d.add_argument("--output", default="data/raw")
    d.add_argument("--ignore-cache", action="store_true",
                   help="re-download files even if they exist")
    d.set_defaults(fn=cmd_download)

    t = sub.add_parser("transform")
    t.add_argument("--source", required=True,
                   choices=["gaf", "germplasm", "qtl", "gea", "ontology",
                            "eol-pages", "eol-traits"])
    t.add_argument("--input", required=True)
    t.add_argument("--output", required=True)
    t.add_argument("--ortho", action="store_true")
    t.add_argument("--cat-traits")
    t.add_argument("--num-traits")
    # eol-traits inputs (reference eol_traits.py:36-534 CSV surfaces)
    t.add_argument("--pages", help="pages CSV (page_id,parent_id,rank,canonical)")
    t.add_argument("--trait-dim",
                   help="trait dim CSV (trait_uri,trait_type,data_type,label,curie)")
    t.add_argument("--value-dim",
                   help="categorical value dim CSV (trait_uri,value_uri,label,curie)")
    t.add_argument("--unit-dim", help="unit dim CSV (unit_uri,label)")
    t.add_argument("--location-uris", help="comma-separated URIs to exclude")
    t.add_argument("--skip-uris", help="comma-separated URIs to exclude")
    t.set_defaults(fn=cmd_transform)

    m = sub.add_parser("merge")
    m.add_argument("--config", required=True)
    m.add_argument("--base-dir", default=".")
    m.set_defaults(fn=cmd_merge)

    q = sub.add_parser("query")
    q.add_argument("--sparql", required=True)
    q.add_argument("--nodes", required=True)
    q.add_argument("--edges", required=True)
    q.add_argument("--output", required=True)
    q.set_defaults(fn=cmd_query)

    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
