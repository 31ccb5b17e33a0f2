"""Physical-plan shape assertions: the properties that make the operators
100-TB-viable must be visible in the executed plan, not just intended —
column pruning at the scan, predicate pushdown, broadcast joins for small
dims, and no Python in native hot paths."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from olkg.fixtures import corpus_lines
    from olkg.pagesgen import build_pages_df
    p = str(tmp_path_factory.mktemp("plans")) + "/pages.parquet"
    build_pages_df(spark, corpus_lines()).write.parquet(p)
    return p


def test_extract_scan_prunes_columns(spark, pages_parquet):
    """The fast path's scan must read only html+text — warc_ts/lang pruned."""
    from olkg.extract import pages_to_lines
    pages = spark.read.parquet(pages_parquet)
    plan = plan_of(pages_to_lines(pages))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    line = read_schema[0]
    assert "html" in line and "text" in line
    assert "warc_ts" not in line and "lang" not in line


def test_blocking_pred_filter_pushed_down(spark, pages_parquet, tmp_path):
    """Durable-path blocking keys: the pred IN (...) filter must reach the
    parquet scan (PushedFilters), not run post-scan only."""
    from olkg.canonicalize import blocking_keys
    edges = spark.createDataFrame(
        [("s", "http://purl.org/ontology/bibo/isbn13", "9780000000000",
          "literal", None)],
        "subj string, pred string, obj string, obj_kind string, "
        "obj_datatype string")
    path = str(tmp_path / "edges.parquet")
    edges.write.parquet(path)
    plan = plan_of(blocking_keys(spark.read.parquet(path)))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "pred" in pushed[0], plan


def test_lcsh_join_is_broadcast(spark):
    """J2 must plan as a broadcast hash join — the label dim never shuffles
    the probe side."""
    from olkg.link import lcsh_lookup_join
    probes = spark.createDataFrame([("http://e/1", "history")],
                                   ["entity_uri", "label"])
    lcsh = spark.createDataFrame([("history", "http://id.loc.gov/x")],
                                 ["label", "uri"])
    plan = plan_of(lcsh_lookup_join(probes, lcsh), mode="simple")
    assert "BroadcastHashJoin" in plan, plan


def test_textops_plans_have_no_python(spark):
    """Every corpus query (every non-KG query of ``__spark_entry__``) plans
    as native Catalyst — no ArrowEvalPython / BatchEvalPython /
    MapInPandas / MapInArrow node may appear (Python would cap throughput
    10-100x).  ``multimodal_features`` is the one exception: its
    ``mapInPandas`` is the decoder's intended shape."""
    import __spark_entry__ as entry
    from test_entry_oracle import SF_DIR as sf_dir
    names = [n for n in sorted(entry.queries())
             if not n.startswith("kg_") and n != "multimodal_features"]
    assert len(names) == 17
    for name in names:
        plan = plan_of(entry.queries()[name](spark, sf_dir))
        for node in ("EvalPython", "MapInPandas", "MapInArrow"):
            assert node not in plan, f"{name}: {node}\n{plan}"
    # the check can see the node it excludes
    mm = plan_of(entry.q_multimodal_features(spark, sf_dir))
    assert "MapInPandas" in mm, mm


def test_ann_bruteforce_broadcasts_queries(spark):
    """The query side of brute-force top-k broadcasts; the corpus side is
    never shuffled into per-query partitions before the partial top-k."""
    from olkg.simsearch import cosine_topk_bruteforce
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>")
    plan = plan_of(cosine_topk_bruteforce(emb, query_ids=[0, 1], k=2),
                   mode="simple")
    assert "Broadcast" in plan, plan


def test_salted_join_no_broadcast_of_big_sides(spark, monkeypatch):
    """J1's salted equi-join: the hot-key census table broadcasts (tiny);
    the refs/names sides join by shuffle (scale path)."""
    import olkg.link as L
    refs = spark.createDataFrame([(f"http://c/{i}", f"/a/{i % 7}")
                                  for i in range(100)],
                                 ["creation_uri", "author_key"])
    names = spark.createDataFrame([(f"/a/{i}", f"n{i}") for i in range(7)],
                                  ["author_key", "name"])
    monkeypatch.setattr(L, "HOT_KEY_REFS", 10)
    monkeypatch.setattr(L, "NUM_SALTS", 4)
    plan = plan_of(L.salted_join_author_names(refs, names), mode="simple")
    assert "BroadcastHashJoin" in plan, plan  # the census join
