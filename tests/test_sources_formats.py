"""Reference source-format scans re-expressed as Spark reads (SURVEY §2.1):
GAF with '!' comment-skip (S6), quoted CSV (S3), gzip TSV alias multimap
(S8), obograph JSON (S10). Fixtures are written to tmp_path per test —
deterministic, no external data."""

import gzip
import json

from pyspark.sql import functions as F

GAF_COLS = [
    "DB", "DB_Object_ID", "DB_Object_Symbol", "Qualifier", "Ontology_ID",
    "DB_Reference", "Evidence_Code", "With_or_From", "Aspect",
    "DB_Object_Name", "DB_Object_Synonym", "DB_Object_Type", "Taxon",
    "Date", "Assigned_By", "Annotation_Extension", "Gene_Product_Form_ID",
]


def test_gaf_comment_skip(spark, tmp_path):
    # planteome.py:122-124 semantics: pd.read_csv(sep='\t', comment='!')
    p = tmp_path / "assoc.gaf"
    data = [
        "\t".join(["PO", f"G{i}", f"SYM{i}", "", f"TO:{i:07d}", "REF", "IEA",
                   "", "P", "", "", "gene", "taxon:4577", "20240101", "PO",
                   "", ""])
        for i in range(5)
    ]
    p.write_text("\n".join(["!gaf-version: 2.1", "! generated for tests"]
                           + data) + "\n")
    df = (spark.read.option("sep", "\t").option("comment", "!")
          .csv(str(p)).toDF(*GAF_COLS))
    assert df.count() == 5
    assert df.where(F.col("Ontology_ID").startswith("TO:")).count() == 5
    assert df.columns == GAF_COLS


def test_quoted_csv(spark, tmp_path):
    # eol_traits.py:192-210: csv.reader(quotechar='"', QUOTE_ALL)
    p = tmp_path / "traits.csv"
    p.write_text('"id","label","value"\n'
                 '"t1","leaf, broad","3.5"\n'
                 '"t2","said ""deep"" root","7"\n')
    df = (spark.read.option("header", True).option("quote", '"')
          .option("escape", '"').csv(str(p)))
    rows = {r["id"]: (r["label"], r["value"]) for r in df.collect()}
    assert rows["t1"] == ("leaf, broad", "3.5")
    assert rows["t2"] == ('said "deep" root', "7")


def test_gzip_tsv_alias_multimap(spark, tmp_path):
    # planteome.py:41-85 rice/corn alias maps: gz TSV, 1:N values -> explode
    p = tmp_path / "alias_map.tsv.gz"
    with gzip.open(p, "wt") as f:
        f.write("LOC_Os01g01010\tOs01g0100100,OsA1\n")
        f.write("LOC_Os01g01020\tOs01g0100200\n")
    df = spark.read.option("sep", "\t").csv(str(p)).toDF("gene_id", "aliases")
    exploded = df.select(
        "gene_id", F.explode(F.split("aliases", ",")).alias("alias")
    )
    got = {(r["gene_id"], r["alias"]) for r in exploded.collect()}
    assert got == {
        ("LOC_Os01g01010", "Os01g0100100"),
        ("LOC_Os01g01010", "OsA1"),
        ("LOC_Os01g01020", "Os01g0100200"),
    }


def test_obograph_json(spark, tmp_path):
    # ontology_transform.py:49-59: obojson -> KGX node/edge projections
    graph = {
        "graphs": [{
            "nodes": [
                {"id": "http://purl.obolibrary.org/obo/TO_0000433",
                 "lbl": "drought tolerance", "type": "CLASS"},
                {"id": "http://purl.obolibrary.org/obo/TO_0000387",
                 "lbl": "plant trait", "type": "CLASS"},
            ],
            "edges": [
                {"sub": "http://purl.obolibrary.org/obo/TO_0000433",
                 "pred": "is_a",
                 "obj": "http://purl.obolibrary.org/obo/TO_0000387"},
            ],
        }]
    }
    p = tmp_path / "to.json"
    p.write_text(json.dumps(graph))
    raw = spark.read.option("multiLine", True).json(str(p))
    nodes = raw.select(F.explode(F.col("graphs")[0]["nodes"]).alias("n")).select(
        F.regexp_replace(
            F.col("n.id"), r"^.*obo/([A-Za-z]+)_", r"$1:").alias("id"),
        F.col("n.lbl").alias("name"),
    )
    edges = raw.select(F.explode(F.col("graphs")[0]["edges"]).alias("e")).select(
        F.regexp_replace(F.col("e.sub"), r"^.*obo/([A-Za-z]+)_", r"$1:").alias("subject"),
        F.col("e.pred").alias("predicate"),
        F.regexp_replace(F.col("e.obj"), r"^.*obo/([A-Za-z]+)_", r"$1:").alias("object"),
    )
    assert {r["id"]: r["name"] for r in nodes.collect()} == {
        "TO:0000433": "drought tolerance", "TO:0000387": "plant trait"}
    assert [tuple(r) for r in edges.collect()] == [
        ("TO:0000433", "is_a", "TO:0000387")]


def test_parse_timestamp_multi(spark):
    import datetime as dt

    from ecokg_spark.io import parse_timestamp_multi

    df = spark.createDataFrame(
        [(1, "2024-03-05 10:20:30"), (2, "2024-03-05T10:20:30"),
         (3, "2024-03-05"), (4, "03/05/2024 10:20"), (5, "garbage"),
         (6, None)],
        "id long, raw string")
    out = df.select("id", parse_timestamp_multi("raw").alias("p"))
    got = {r["id"]: (r["p"]["ts"], r["p"]["fmt_idx"])
           for r in out.collect()}
    assert got[1] == (dt.datetime(2024, 3, 5, 10, 20, 30), 0)
    assert got[2] == (dt.datetime(2024, 3, 5, 10, 20, 30), 1)
    assert got[3] == (dt.datetime(2024, 3, 5), 2)
    assert got[4] == (dt.datetime(2024, 3, 5, 10, 20), 3)
    assert got[5] == (None, -1)
    assert got[6] == (None, -1)


def test_read_jsonl_tolerant(spark, tmp_path):
    from ecokg_spark.io import read_jsonl_tolerant

    p = tmp_path / "feed.jsonl"
    lines = []
    for i in range(20):
        if i % 5 == 3:
            lines.append('{"id": %d, "text": "broken' % i)   # truncated
        else:
            lines.append('{"id": %d, "text": "ok %d"}' % (i, i))
    p.write_text("\n".join(lines))
    df = read_jsonl_tolerant(spark, str(p), "id long, text string")
    df = df.cache()
    good = df.where(F.col("_corrupt").isNull())
    bad = df.where(F.col("_corrupt").isNotNull())
    assert good.count() == 16
    assert bad.count() == 4
    # good rows parsed fully; corrupt rows keep the raw line for QC
    assert {r["id"] for r in good.collect()} == {
        i for i in range(20) if i % 5 != 3}
    assert all(r["_corrupt"].startswith('{"id"') for r in bad.collect())
    df.unpersist()
