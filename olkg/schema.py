"""Spark schemas for every table the pipeline touches."""

from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType,
                               TimestampType)

# Input: Common-Crawl-style pages (BASELINE.json input_hint)
PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])

# Rows of the extract stage's side sink, discriminated by `kind`
#   kind = 'triple'       → a collision-class triple (ol:author, dc:subject
#                           URI — predicates a join can also produce):
#                           subj/pred/obj/obj_kind[/obj_datatype] populated
#   kind = 'probe'        → subj=entity uri, obj=normalized subject label (J2 input)
#   kind = 'author_name'  → subj=author key, obj=name string (J1 build side)
#   kind = 'creation_ref' → subj=creation uri, obj=author key (J1 probe side)
#   kind = 'block_id'     → subj=entity uri, obj='isbn13:…'|'lccn:…'|'oclc:…'
#                           or, for an author, 'nameband:<b>:…' (its name's
#                           MinHash band keys): entity-resolution blocking
#                           keys
EXTRACT_SCHEMA = StructType([
    StructField("kind", StringType(), False),
    StructField("subj", StringType(), True),
    StructField("pred", StringType(), True),
    StructField("obj", StringType(), True),
    StructField("obj_kind", StringType(), True),
    StructField("obj_datatype", StringType(), True),
])

# Canonical edge table (A4-deduplicated triples)
TRIPLES_SCHEMA = StructType([
    StructField("subj", StringType(), False),
    StructField("pred", StringType(), False),
    StructField("obj", StringType(), False),
    StructField("obj_kind", StringType(), False),
    StructField("obj_datatype", StringType(), True),
])

# The edges stage read whole: d=0 direct, d=1 join-born (partition column)
EDGES_SCHEMA = StructType(TRIPLES_SCHEMA.fields
                          + [StructField("d", IntegerType(), True)])

# One row per parquet file a stage wrote, rows_out from its footer
LINEAGE_SCHEMA = StructType([
    StructField("run_id", StringType(), False),
    StructField("stage", StringType(), False),
    StructField("file", StringType(), False),
    StructField("rows_out", LongType(), False),
    StructField("wall_ms", LongType(), False),
])

# LCSH label → URI dimension (lib/util.rb:25-34 replacement)
LCSH_SCHEMA = StructType([
    StructField("label", StringType(), False),
    StructField("uri", StringType(), False),
])
