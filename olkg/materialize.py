"""Materialize stage: parquet stage tables, nodes/edges graph tables,
N-Triples export (a directory of gzipped part files), per-file lineage
metrics, idempotent resume.

Bookkeeping around the stages runs no Spark job: :func:`read_edges` reads
the edges with their known schema (no schema-inference job), and
:func:`stage_rows` and :func:`append_lineage` take their row counts from
the written files' parquet footers, the lineage written through pyarrow
(:mod:`olkg.fsio`).

Resume contract (north_rule): every stage writes to ``<out>/<stage>/`` with a
``_SUCCESS`` marker; a re-run skips a stage whose marker exists (and whose
inputs were reused, see olkg.pipeline) and reads its output instead, so a
killed run resumes from the last completed stages and reproduces the
identical triple set (blank-node labels are deterministic,
olkg.util.det_bnode).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio
from . import vocab as V
from .fsio import pjoin
from .schema import EDGES_SCHEMA, LINEAGE_SCHEMA


def _stage_path(out_dir: str, stage: str) -> str:
    return pjoin(out_dir, stage)


def stage_complete(spark: SparkSession, out_dir: str, stage: str) -> bool:
    """Checked through ``spark``'s Hadoop FS, so resume markers work on any
    storage Spark can reach (file/hdfs/s3a), not only the driver's local
    filesystem."""
    return fsio.exists(spark, pjoin(_stage_path(out_dir, stage), "_SUCCESS"))


def write_stage(df: DataFrame, out_dir: str, stage: str) -> None:
    """Write one stage table: parquet under ``<out_dir>/<stage>``,
    replacing what a killed run left there."""
    df.write.mode("overwrite").parquet(_stage_path(out_dir, stage))


def read_edges(spark: SparkSession, out_dir: str) -> DataFrame:
    """The edge table, both partitions, read with its known schema (``d``
    partition column included), so reading it runs no schema-inference
    job."""
    return spark.read.schema(EDGES_SCHEMA).parquet(
        _stage_path(out_dir, "edges"))


def _written_parts(spark: SparkSession, out_dir: str, stage: str):
    """(fs, parts) of a stage Spark wrote (:func:`olkg.fsio.parquet_parts`).
    Spark writes at least one file per stage, even an empty one, so finding
    none means the footers were looked for somewhere else: raise rather
    than count nothing."""
    fs, parts = fsio.parquet_parts(spark, _stage_path(out_dir, stage))
    if not parts:
        raise FileNotFoundError(
            f"stage {stage!r} under {out_dir!r} has no parquet files")
    return fs, parts


def stage_rows(spark: SparkSession, out_dir: str, stage: str) -> int:
    """A stage table's row count from its files' parquet footers."""
    _, parts = _written_parts(spark, out_dir, stage)
    return sum(p.rows for p in parts)


def append_lineage(spark: SparkSession, out_dir: str, run_id: str,
                   stage: str, wall_ms: int) -> None:
    """Lineage rows for a completed stage (north_rule's lineage+metrics):
    one per parquet file the stage wrote — one write task's output — with
    ``rows_out`` from that file's footer.  Metadata I/O through pyarrow,
    no Spark job; parquet stages only."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    _, parts = _written_parts(spark, out_dir, stage)
    n = len(parts)
    tbl = pa.table({"run_id": [run_id] * n, "stage": [stage] * n,
                    "file": [p.rel for p in parts],
                    "rows_out": [p.rows for p in parts],
                    "wall_ms": [wall_ms] * n},
                   schema=to_arrow_schema(LINEAGE_SCHEMA))
    fs, path = fsio.pa_fs(fsio.qualify(spark, _stage_path(out_dir,
                                                           "lineage")))
    fs.create_dir(path, recursive=True)
    pq.write_table(tbl, pjoin(path, f"part-{uuid.uuid4().hex}.parquet"),
                   filesystem=fs)


def build_nodes(edges: DataFrame) -> DataFrame:
    """Canonical node table: every URI/bnode appearing as subject or object,
    with its rdf:type when asserted (entity class: foaf:Agent / bibo:Book /
    frbr:Work / skos:Concept / ...)."""
    subs = edges.select(F.col("subj").alias("id"))
    objs = (edges.filter(F.col("obj_kind").isin("uri", "bnode"))
            .select(F.col("obj").alias("id")))
    ids = subs.unionByName(objs).distinct()
    types = (edges.filter(F.col("pred") == V.RDF_TYPE)
             .groupBy("subj").agg(F.min("obj").alias("node_type"))
             .withColumnRenamed("subj", "id"))
    return (ids.join(types, "id", "left")
            .withColumn("is_bnode", F.col("id").startswith("_:")))


# --- N-Triples export (K1: openlibrary_to_rdf.rb:22,40-42) ------------------

def ntriples_lines(edges: DataFrame) -> DataFrame:
    """Deterministic N-Triples formatting as a single-column DataFrame.
    Escaping per the N-Triples grammar: backslash, quote, \\n, \\r, \\t."""
    def esc(col):
        c = F.regexp_replace(col, r"\\", r"\\\\")
        c = F.regexp_replace(c, '"', r'\\"')
        c = F.regexp_replace(c, "\n", r"\\n")
        c = F.regexp_replace(c, "\r", r"\\r")
        c = F.regexp_replace(c, "\t", r"\\t")
        return c

    subj_t = F.when(F.col("subj").startswith("_:"), F.col("subj")) \
              .otherwise(F.concat(F.lit("<"), F.col("subj"), F.lit(">")))
    obj_t = (F.when(F.col("obj_kind") == "uri",
                    F.concat(F.lit("<"), F.col("obj"), F.lit(">")))
             .when(F.col("obj_kind") == "bnode", F.col("obj"))
             .when(F.col("obj_datatype").isNotNull(),
                   F.concat(F.lit('"'), esc(F.col("obj")),
                            F.lit('"^^<'), F.col("obj_datatype"), F.lit(">")))
             .otherwise(F.concat(F.lit('"'), esc(F.col("obj")), F.lit('"'))))
    return edges.select(
        F.concat(subj_t, F.lit(" <"), F.col("pred"), F.lit("> "), obj_t,
                 F.lit(" .")).alias("value"))


def export_ntriples_gz(edges: DataFrame, path: str) -> None:
    """Gzipped N-Triples export: a directory of part files, one per write
    task (the scalable layout; the reference's single dated
    ``openlibrary-YYYY-MM-DD.nt.gz`` file is a concatenation of them)."""
    (ntriples_lines(edges).write.mode("overwrite")
     .option("compression", "gzip")
     .text(path))
