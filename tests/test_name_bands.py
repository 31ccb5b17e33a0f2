"""Author-name band keys: the pure-Python MinHash the extract UDF runs
(olkg.canonicalize.name_band_keys) against the native Spark expression it
replaced, kept here as the oracle."""

from pyspark.sql import functions as F

from olkg import vocab as V
from olkg.canonicalize import (NAME_BAND_ROWS, NAME_BANDS, blocking_keys,
                               name_band_keys)
from olkg.fixtures import corpus_lines
from olkg.triples import extract_line

EDGE_CASES = [None, "", "...", "- '", "a", "Ab", "x.y", "ABC", "Ada Quill",
              "ada quill", "José Saramago", "Łukasz Żółw", "漢字", "ß",
              "😀", "a😀b😀c", "\U00010348zz", "O'Neil-Smith, Jr.",
              "aaaaaaa", "\x00ab\x00", "  Mary  Shelley  "]


def spark_name_bands(names):
    """(name, block_key) by the native expressions: [^A-Za-z0-9] removed,
    lowercased, distinct 3-grams, per-permutation min of
    xxhash64(xxhash64(gram), p), band = xxhash64 of its rows' mins."""
    n_perm = NAME_BANDS * NAME_BAND_ROWS
    norm = F.lower(F.regexp_replace(F.col("name"), r"[^A-Za-z0-9]", ""))
    n_grams = F.greatest(F.length(norm) - F.lit(2), F.lit(1))
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: norm.substr(i, F.lit(3))))
    hashed = (names.select("name", F.explode(grams).alias("gram"))
              .filter(F.col("gram") != "")
              .select("name", F.xxhash64("gram").alias("h")))
    mins = hashed.groupBy("name").agg(
        *[F.min(F.xxhash64(F.col("h"), F.lit(p))).alias(f"m{p}")
          for p in range(n_perm)])
    keys = F.array(*[
        F.concat(F.lit(f"nameband:{b}:"),
                 F.xxhash64(*[F.col(f"m{b * NAME_BAND_ROWS + r}")
                              for r in range(NAME_BAND_ROWS)]).cast("string"))
        for b in range(NAME_BANDS)])
    return mins.select("name", F.explode(keys).alias("block_key"))


def _fixture_names():
    names = []
    for line in corpus_lines(include_reference=True):
        res = extract_line(line)
        if res is not None:
            names += res.author_names
    return names


def test_python_name_bands_equal_spark_expression(spark):
    author_names = _fixture_names()
    names = sorted({n for _, n in author_names}) + EDGE_CASES
    assert len(names) > len(EDGE_CASES)
    df = spark.createDataFrame([(n,) for n in names], "name string")
    want = {(r.name, r.block_key) for r in spark_name_bands(df).collect()}
    got = {(n, k) for n in names for k in name_band_keys(n)}
    assert got == want
    # every name with an ASCII letter or digit has one key per band
    assert all(len(name_band_keys(n)) == NAME_BANDS
               for n in names if n and any(c.isascii() and c.isalnum()
                                           for c in n))
    assert name_band_keys(None) == name_band_keys("...") == []


def test_blocking_keys_name_bands_match_spark_expression(spark):
    """blocking_keys' author keys (mapInPandas over the distinct names)
    equal the Spark expression joined back to the author keys."""
    rows = _fixture_names() + [("/authors/E%d" % i, n)
                               for i, n in enumerate(EDGE_CASES)]
    names = spark.createDataFrame(rows, "author_key string, name string")
    edges = spark.createDataFrame(
        [], "subj string, pred string, obj string, obj_kind string, "
            "obj_datatype string")
    got = {tuple(r) for r in blocking_keys(edges, names).collect()}
    want = {(V.URI_PREFIX + r.author_key, r.block_key) for r in
            names.join(spark_name_bands(names.select("name").distinct()),
                       "name").collect()}
    assert got == want and got


def test_sink_carries_name_bands_once_per_task(spark, tmp_path):
    """The extract UDF writes each (author key, name)'s band keys as
    block_id rows, once per task, equal to the Spark expression over the
    sink's own author_name rows."""
    import pandas as pd
    import pyarrow.parquet as pq

    from olkg.extract import _make_sink_batches
    lines = corpus_lines(include_reference=True)

    def band_rows(sink, batch):
        for _ in _make_sink_batches(str(sink))(iter([pd.DataFrame(
                {"line": batch})])):
            pass
        side = pq.read_table(sink).to_pylist()
        return side, [(r["subj"], r["obj"]) for r in side
                      if r["kind"] == "block_id"
                      and r["obj"].startswith("nameband:")]

    # the same lines twice in one task: the keys are still written once
    side, bands = band_rows(tmp_path / "twice", lines + lines)
    assert sorted(bands) == sorted(band_rows(tmp_path / "once", lines)[1])
    names = spark.createDataFrame(
        sorted({(r["subj"], r["obj"]) for r in side
                if r["kind"] == "author_name"}),
        "author_key string, name string")
    want = {(V.URI_PREFIX + r.author_key, r.block_key) for r in
            names.join(spark_name_bands(names.select("name").distinct()),
                       "name").collect()}
    assert set(bands) == want and want
