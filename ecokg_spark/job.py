"""Durable KG-construction job: the spark-submit entry semantics.

Runs the one KG stage list (pipeline.kg_stages, the list build_kg runs in
memory) through StageRunner.run_stages: every stage materializes to a
TableIO table (Iceberg when a catalog is configured, parquet otherwise) and
commits by writing its per-partition lineage + latency metrics to
kg._checkpoints.<stage>. The `resolution` stage is the exception: it
materializes itself through pipeline.resolve_mentions' size gate and is
never a table. Independent stages run concurrently, each starting as soon
as its inputs have finished. A killed run RESUMES: committed stages are
skipped, and read back only where a stage that has to run needs them
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

Ship it with:  scripts/package_pyfiles.py  ->  dist/ecokg_spark.zip
               spark-submit --py-files dist/ecokg_spark.zip \
                   scripts/run_kg_job.py --pages <parquet> --warehouse <dir>
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ecokg_spark.io import TableIO
from ecokg_spark.operators.checkpoint import StageRunner
from ecokg_spark.pipeline import kg_stages


def run_kg_job(
    spark: SparkSession,
    pages: DataFrame,
    io: TableIO,
    run_id: str = "run0",
    resume: bool = True,
    aliases: DataFrame | None = None,
) -> StageRunner:
    """Run (or resume) the full pipeline, one durable table per stage.

    Stage tables (under the TableIO warehouse): kg.termlist, kg.fused (the
    one corpus pass: audit + triple + combiner rows, columnar so each
    consumer reads only its columns), kg.audit, kg.triples, kg.linked_raw,
    kg.quarantine, kg.canonical, kg.nodes, kg.edges,
    kg.stats_by_predicate, kg.stats_by_category; per-stage lineage, which
    is also the stage's commit record, under kg._checkpoints.<stage>.
    Raises checkpoint.StageError naming the first stage that failed.
    """
    r = StageRunner(io, run_id=run_id, resume=resume)
    r.run_stages(kg_stages(spark, pages, aliases), transient={"resolution"})
    return r
