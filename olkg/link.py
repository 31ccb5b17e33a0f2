"""Link stage: the pipeline's two joins (SURVEY.md §2.3).

J1 — author↔creation rendezvous.  The reference implements this as a 3-state
Redis protocol because it is single-pass over an arbitrarily ordered dump
(lib/author.rb:50-61, lib/edition.rb:174-202, lib/work.rb:64-93).  In batch
the protocol collapses to an order-independent inner equi-join:

    creation_refs(creation_uri, author_key) ⋈ author_names(author_key, name)
        → (creation_uri, ol:author, name)

This is the pipeline's big shuffle and it is skew-prone: web crawls duplicate
pages, so a prolific author key can dominate a partition.  Handling is
explicit (north_rule): key-frequency sampling picks hot keys, the probe side
gets a deterministic salt, and the build side replicates hot keys across all
salt buckets; AQE skew-join stays on as the runtime backstop.

J2 — subject label → LCSH URI.  A dictionary probe in the reference
(lib/edition.rb:298-313, loader lib/util.rb:25-34) becomes a broadcast hash
join against the small label dimension; hot labels ("Fiction", "History")
are harmless on the build side of a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import vocab as V

# J1 salts an author key with more than HOT_KEY_REFS creation refs over
# NUM_SALTS buckets
HOT_KEY_REFS = 100_000
NUM_SALTS = 16


def salted_join_author_names(creation_refs: DataFrame,
                             author_names: DataFrame) -> DataFrame:
    """J1 with explicit hot-key salting.

    creation_refs: (creation_uri, author_key)  [probe side, potentially huge]
    author_names:  (author_key, name)          [build side, deduplicated]
    returns: triples (subj, pred=ol:author, obj=name, obj_kind=literal)
    """
    refs = creation_refs.select(F.col("creation_uri"), F.col("author_key"))
    names = author_names.select(F.col("author_key"), F.col("name")).dropDuplicates()

    # key-frequency census on the probe side; only keys above threshold are
    # salted, so the hot-key table stays tiny and broadcastable at any scale
    hot = (refs.groupBy("author_key").count()
               .filter(F.col("count") > F.lit(HOT_KEY_REFS))
               .select("author_key")
               .withColumn("is_hot", F.lit(True)))

    refs_s = (refs.join(F.broadcast(hot), "author_key", "left")
                  .withColumn(
                      "salt",
                      F.when(F.col("is_hot").isNotNull(),
                             F.pmod(F.xxhash64("creation_uri"),
                                    F.lit(NUM_SALTS)).cast("int"))
                       .otherwise(F.lit(0)))
                  .drop("is_hot"))

    salts = F.array([F.lit(i) for i in range(NUM_SALTS)])
    names_s = (names.join(F.broadcast(hot), "author_key", "left")
                    .withColumn(
                        "salt",
                        F.explode(F.when(F.col("is_hot").isNotNull(), salts)
                                   .otherwise(F.array(F.lit(0)))))
                    .drop("is_hot"))

    joined = refs_s.join(names_s, ["author_key", "salt"], "inner")
    return joined.select(
        F.col("creation_uri").alias("subj"),
        F.lit(V.OL_AUTHOR).alias("pred"),
        F.col("name").alias("obj"),
        F.lit("literal").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_datatype"),
    )


def lcsh_lookup_join(probes: DataFrame, lcsh: DataFrame) -> DataFrame:
    """J2: probes(uri, label) ⋈ broadcast lcsh(label, uri) → dc:subject
    triples.  Labels are already normalized at extract time
    (lib/edition.rb:303-304 semantics in olkg.triples)."""
    dim = lcsh.select(F.col("label"), F.col("uri").alias("lcsh_uri")) \
              .dropDuplicates(["label"])
    hit = probes.join(F.broadcast(dim), probes["label"] == dim["label"], "inner")
    return hit.select(
        F.col("entity_uri").alias("subj"),
        F.lit(V.DC_SUBJECT).alias("pred"),
        F.col("lcsh_uri").alias("obj"),
        F.lit("uri").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_datatype"),
    )


def join_born_triples(sides: DataFrame, lcsh: DataFrame | None) -> DataFrame:
    """The link stage's join outputs: J1 (ol:author rendezvous) and,
    when an LCSH dimension is given, J2 (dc:subject URI lookups) — both
    derived from the small side-row kinds."""
    refs = (sides.filter(F.col("kind") == "creation_ref")
            .select(F.col("subj").alias("creation_uri"),
                    F.col("obj").alias("author_key")))
    names = (sides.filter(F.col("kind") == "author_name")
             .select(F.col("subj").alias("author_key"),
                     F.col("obj").alias("name")))
    out = salted_join_author_names(refs, names)
    if lcsh is not None:
        probes = (sides.filter(F.col("kind") == "probe")
                  .select(F.col("subj").alias("entity_uri"),
                          F.col("obj").alias("label")))
        out = out.unionByName(lcsh_lookup_join(probes, lcsh))
    return out


def load_lcsh_ntriples(spark, path: str) -> DataFrame:
    """S2: build the LCSH label→URI dimension from an N-Triples dump,
    reproducing lib/util.rb:25-34: keep prefLabel/altLabel/authoritativeLabel
    with URI subjects, drop '/authorities/sj' objects, last writer wins.

    'Last wins' needs a file order; we use the monotonic line id within each
    file, resolved with one window (the only window in the engine,
    SURVEY.md §2.9)."""
    from pyspark.sql.window import Window

    label_preds = [
        "http://www.w3.org/2004/02/skos/core#prefLabel",
        "http://www.w3.org/2004/02/skos/core#altLabel",
        "http://www.loc.gov/mads/rdf/v1#authoritativeLabel",
    ]
    raw = spark.read.text(path).withColumn("pos", F.monotonically_increasing_id())
    # <s> <p> "label" .   (literal objects only — label predicates)
    pat = r'^<([^>]*)>\s+<([^>]*)>\s+"(.*)"[^"]*\.\s*$'
    parsed = raw.select(
        F.regexp_extract("value", pat, 1).alias("s"),
        F.regexp_extract("value", pat, 2).alias("p"),
        F.regexp_extract("value", pat, 3).alias("o"),
        "pos",
    ).filter(F.col("s") != "")
    # full N-Triples literal unescape (ECHAR + \uXXXX/\UXXXXXXXX) — an
    # escaped label (e.g. 'Québec (Province)') must match the
    # extract-time probe labels byte-for-byte or the J2 join silently drops
    # it.  Arrow-batched scalar pandas UDF over the small label dimension.
    from pyspark.sql.functions import pandas_udf

    from .util import nt_unescape
    unescape = pandas_udf(lambda s: s.map(nt_unescape), "string")
    filtered = (parsed
                .filter(F.col("p").isin(label_preds))
                .filter(~F.col("o").contains("/authorities/sj"))
                .withColumn("o", unescape(F.col("o"))))
    w = Window.partitionBy("o").orderBy(F.col("pos").desc())
    return (filtered.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("o").alias("label"), F.col("s").alias("uri")))
