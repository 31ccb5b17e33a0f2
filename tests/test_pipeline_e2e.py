"""End-to-end Spark pipeline tests: distributed output == single-process
golden net effect (the P/R ≥ 0.95 gate from BASELINE.md — we require 1.0),
byte-identity audit, idempotent resume, and salted-join equivalence."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from olkg import link
from olkg import vocab as V
from olkg.fixtures import LCSH_ROWS, corpus_lines
from olkg.golden import golden_triples, precision_recall
from olkg.link import salted_join_author_names
from olkg.pagesgen import build_pages_df, html_to_text, text_to_html
from olkg.pipeline import run_pipeline
from olkg.schema import LCSH_SCHEMA


def small_salts(mp, hot_key_refs: int = 100):
    """J1 salting at test scale: keys with more than ``hot_key_refs``
    creation refs salt over 4 buckets."""
    mp.setattr(link, "HOT_KEY_REFS", hot_key_refs)
    mp.setattr(link, "NUM_SALTS", 4)


@pytest.fixture(scope="module")
def corpus():
    return corpus_lines(include_reference=True)


@pytest.fixture(scope="module")
def pipeline_out(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("olkg_out"))
    pages_path = str(tmp_path_factory.mktemp("pages")) + "/pages.parquet"
    build_pages_df(spark, corpus).write.mode("overwrite").parquet(pages_path)
    lcsh = spark.createDataFrame(LCSH_ROWS, LCSH_SCHEMA)
    with pytest.MonkeyPatch.context() as mp:
        small_salts(mp)
        metrics = run_pipeline(spark, pages_path, out, lcsh=lcsh,
                               resume=True, export_nt=True)
    return out, pages_path, metrics


def edges_set(spark, out):
    rows = spark.read.parquet(out + "/edges").collect()
    return {(r.subj, r.pred, r.obj, r.obj_kind, r.obj_datatype) for r in rows}


def cmap_set(spark, out):
    return {(r.entity, r.canonical_id)
            for r in spark.read.parquet(out + "/canonical_map").collect()}


def sink_parts(out):
    return {f for f in os.listdir(out + "/sides") if f.endswith(".parquet")}


def test_pipeline_matches_golden(spark, corpus, pipeline_out):
    """Same golden set and NO duplicate edge rows: the direct and join-born
    edge sets are deduped separately, so this checks their disjointness."""
    out, _, metrics = pipeline_out
    n_rows = spark.read.parquet(out + "/edges").count()
    result = edges_set(spark, out)
    assert n_rows == len(result), "edges table contains duplicate rows"
    golden = golden_triples(corpus, dict(LCSH_ROWS))
    p, r = precision_recall(result, golden)
    assert p == 1.0 and r == 1.0, (
        f"P={p} R={r}; spurious={list(result - golden)[:5]} "
        f"missing={list(golden - result)[:5]}")
    assert metrics["triples"] == len(golden)


def test_byte_identity_audit(corpus, pipeline_out):
    _, _, metrics = pipeline_out
    assert metrics["pages"] == len(corpus)
    assert metrics["text_mismatches"] == 0


def test_non_utf8_envelope_falls_back_to_text(spark, corpus, tmp_path):
    """An html envelope that is not valid UTF-8 does not conform: the page
    is extracted from its text column and counts as one audit mismatch,
    instead of failing the whole extract job."""
    import json
    from olkg.schema import PAGES_SCHEMA
    line = "\t".join(["/type/author", "/authors/BADUTF8A", "1",
                      "2020-01-01T00:00:00",
                      json.dumps({"key": "/authors/BADUTF8A",
                                  "name": "Envelope Fallback"})])
    bad = spark.createDataFrame(
        [("http://bad.example/utf8", None,
          bytearray(b"<html><body><pre>\xff</pre></body></html>"), line,
          "en")], PAGES_SCHEMA)
    pages_path = str(tmp_path / "pages.parquet")
    build_pages_df(spark, corpus).unionByName(bad).write.parquet(pages_path)
    lcsh = spark.createDataFrame(LCSH_ROWS, LCSH_SCHEMA)
    out = str(tmp_path / "out")
    metrics = run_pipeline(spark, pages_path, out, lcsh=lcsh)
    assert metrics["pages"] == len(corpus) + 1
    assert metrics["text_mismatches"] == 1
    golden = golden_triples(corpus + [line], dict(LCSH_ROWS))
    assert edges_set(spark, out) == golden
    assert golden != golden_triples(corpus, dict(LCSH_ROWS))


def test_html_roundtrip():
    line = "/type/edition\t/books/X\t1\t2020\t{\"key\": \"/books/X\", \"title\": \"a<b>&c\"}"
    assert html_to_text(text_to_html(line)) == line


def test_pages_generators_agree(spark, corpus):
    """The driver-side and the executor-side clone generators build the
    same rows, hot-author skew included."""
    from olkg.pagesgen import build_pages_df_distributed
    kw = dict(skew_hot_author="/authors/HOT1A", skew_fraction=0.5)
    local = build_pages_df(spark, corpus, clones=5, **kw)
    dist = build_pages_df_distributed(spark, corpus, clones=5, **kw)
    assert local.count() == dist.count() > len(corpus)
    assert local.filter(F.col("text").contains("/authors/HOT1A")).count() > 0
    assert local.exceptAll(dist).count() == 0
    assert dist.exceptAll(local).count() == 0


def test_side_sink_schema(pipeline_out):
    """The side sink's part files carry exactly the six columns its
    readers use."""
    import pyarrow.parquet as pq
    out, _, _ = pipeline_out
    for part in sink_parts(out):
        schema = pq.read_schema(os.path.join(out, "sides", part))
        assert schema.names == ["kind", "subj", "pred", "obj", "obj_kind",
                                "obj_datatype"]


def test_join_born_triples_present(spark, pipeline_out):
    out, _, _ = pipeline_out
    edges = spark.read.parquet(out + "/edges")
    # J1: ol:author literals exist (author + edition both in corpus)
    ol = edges.filter(F.col("pred") == V.OL_AUTHOR)
    assert ol.filter(F.col("obj") == "Ada Quill").count() > 0
    # J2: LCSH dc:subject URIs exist
    lcsh_hits = edges.filter(F.col("obj").startswith("http://id.loc.gov/"))
    assert lcsh_hits.count() > 0


def test_nodes_table(spark, pipeline_out):
    out, _, _ = pipeline_out
    nodes = spark.read.parquet(out + "/nodes")
    typed = {r.node_type for r in nodes.filter(F.col("node_type").isNotNull())
             .select("node_type").distinct().collect()}
    assert V.BIBO_BOOK in typed and V.FOAF_AGENT in typed
    assert V.FRBR_WORK in typed and V.SKOS_CONCEPT in typed
    assert nodes.filter(F.col("is_bnode")).count() > 0


def test_ntriples_export(spark, pipeline_out):
    out, _, _ = pipeline_out
    nt = spark.read.text(out + "/export_nt")
    n = nt.count()
    assert n == spark.read.parquet(out + "/edges").count()
    sample = nt.filter(F.col("value").contains("foaf/0.1/name")).first().value
    assert sample.endswith(" .")
    assert sample.startswith("<http://openlibrary.org/")


def _resume_copy(spark, pipeline_out, tmp_path):
    """A finished run's output directory, copied so it can be damaged."""
    out0, pages_path, _ = pipeline_out
    out = str(tmp_path / "out")
    shutil.copytree(out0, out)
    return out, pages_path, edges_set(spark, out), cmap_set(spark, out)


def _rerun(spark, pages_path, out, mp):
    lcsh = spark.createDataFrame(LCSH_ROWS, LCSH_SCHEMA)
    small_salts(mp)
    return run_pipeline(spark, pages_path, out, lcsh=lcsh, resume=True)


def test_resume_reuses_checkpoints(spark, pipeline_out, tmp_path,
                                   monkeypatch):
    """A crash during the tail: the validated extract job is reused (the UDF
    does not run again) and only the missing tail stages are rebuilt."""
    out, pages_path, edges0, cmap0 = _resume_copy(spark, pipeline_out,
                                                  tmp_path)
    parts = sink_parts(out)
    assert parts
    for stage in ("edges/d=1", "nodes", "canonical_map"):
        shutil.rmtree(os.path.join(out, stage))
    metrics = _rerun(spark, pages_path, out, monkeypatch)
    assert metrics["stages"]["extract"] == {"skipped": True}
    assert sink_parts(out) == parts
    assert "wall_ms" in metrics["stages"]["link_dedup"]
    assert "wall_ms" in metrics["stages"]["canonical_map"]
    assert edges_set(spark, out) == edges0
    assert cmap_set(spark, out) == cmap0
    assert metrics["triples"] == len(edges0)


def test_resume_from_a_worker_thread(spark, pipeline_out, tmp_path):
    """run_pipeline checks its resume markers through the session it is
    given: from a fresh thread, which has no active session, a resume of a
    finished run skips every stage."""
    import threading
    out, pages_path, edges0, _ = _resume_copy(spark, pipeline_out, tmp_path)
    got = {}

    def body():
        try:
            got["metrics"] = run_pipeline(spark, pages_path, out,
                                          resume=True, export_nt=True)
        except Exception as e:  # noqa: BLE001 — reported by the assert
            got["error"] = e

    t = threading.Thread(target=body)
    t.start()
    t.join(timeout=600)
    assert not t.is_alive()
    assert "error" not in got, got.get("error")
    stages = got["metrics"]["stages"]
    assert stages["extract"] == stages["nodes"] == {"skipped": True}
    assert stages["canonical_map"] == {"skipped": True}
    assert stages["link_dedup"]["skipped"]
    assert edges_set(spark, out) == edges0


def test_resume_reextracts_unvalidated_sink(spark, pipeline_out, tmp_path,
                                            monkeypatch):
    """Side-sink part files without the _SUCCESS marker stand for a crash
    before the sink was validated: the run extracts again into a fresh sink
    and rebuilds every stage read from it."""
    out, pages_path, edges0, cmap0 = _resume_copy(spark, pipeline_out,
                                                  tmp_path)
    parts = sink_parts(out)
    os.remove(os.path.join(out, "sides", "_SUCCESS"))
    metrics = _rerun(spark, pages_path, out, monkeypatch)
    assert "wall_ms" in metrics["stages"]["extract"]
    assert "wall_ms" in metrics["stages"]["canonical_map"]
    assert sink_parts(out) and parts.isdisjoint(sink_parts(out))
    assert os.path.exists(os.path.join(out, "sides", "_SUCCESS"))
    assert edges_set(spark, out) == edges0
    assert spark.read.parquet(out + "/edges").count() == len(edges0)
    assert cmap_set(spark, out) == cmap0


def test_lineage_written(spark, pipeline_out):
    out, _, _ = pipeline_out
    lineage = spark.read.parquet(out + "/lineage")
    stages = {r.stage for r in lineage.select("stage").distinct().collect()}
    assert {"edges/d=0", "edges/d=1", "sides", "nodes",
            "canonical_map"} <= stages
    assert lineage.filter(F.col("rows_out") > 0).count() > 0


def test_salted_join_equals_plain_join(spark, monkeypatch):
    refs = spark.createDataFrame(
        [(f"http://c/{i}", "/authors/HOT") for i in range(50)]
        + [("http://c/x", "/authors/COLD")],
        ["creation_uri", "author_key"])
    names = spark.createDataFrame(
        [("/authors/HOT", "Hot Name"), ("/authors/HOT", "H. Name"),
         ("/authors/COLD", "Cold Name"), ("/authors/ORPHAN", "Nobody")],
        ["author_key", "name"])
    small_salts(monkeypatch, hot_key_refs=10)
    salted = salted_join_author_names(refs, names)
    plain = (refs.join(names, "author_key")
             .select("creation_uri", "name"))
    got = {(r.subj, r.obj) for r in salted.collect()}
    want = {(r.creation_uri, r.name) for r in plain.collect()}
    assert got == want
    assert len(got) == 101  # 50*2 + 1; orphan author drops out (inner join)


def test_skewed_corpus_still_correct(spark, tmp_path, monkeypatch):
    """Web-duplicate skew: many cloned editions point at one hot author key;
    salted J1 must still produce the exact golden set."""
    from olkg.pagesgen import pages_rows
    lines = corpus_lines(include_reference=False)
    rows = pages_rows(lines, clones=6, rewrite_refs=True,
                      skew_hot_author="/authors/HOT1A", skew_fraction=0.5)
    skew_lines = [r[3] for r in rows]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, "
                                        "html binary, text string, lang string")
    pages_path = str(tmp_path / "pages.parquet")
    pages.write.parquet(pages_path)
    out = str(tmp_path / "out")
    small_salts(monkeypatch, hot_key_refs=5)
    metrics = run_pipeline(spark, pages_path, out, lcsh=None, resume=False,
                           export_nt=False)
    result = edges_set(spark, out)
    golden = golden_triples(skew_lines, {})
    p, r = precision_recall(result, golden)
    assert p == 1.0 and r == 1.0
    assert metrics["text_mismatches"] == 0


def test_fast_pipeline_dedup_pages(spark, corpus, tmp_path_factory,
                                   monkeypatch):
    """dedup_pages: duplicate-content pages are dropped before extraction;
    the triple net effect is unchanged."""
    out = str(tmp_path_factory.mktemp("olkg_dedup_out"))
    pages_path = str(tmp_path_factory.mktemp("pages_dup")) + "/pages.parquet"
    # 3x-duplicated corpus: same urls, same text
    dup = build_pages_df(spark, corpus)
    dup.union(dup).union(dup).write.mode("overwrite").parquet(pages_path)
    lcsh = spark.createDataFrame(LCSH_ROWS, LCSH_SCHEMA)
    small_salts(monkeypatch)
    metrics = run_pipeline(spark, pages_path, out, lcsh=lcsh,
                           dedup_pages=True)
    result = edges_set(spark, out)
    golden = golden_triples(corpus, dict(LCSH_ROWS))
    p, r = precision_recall(result, golden)
    assert p == 1.0 and r == 1.0
    assert metrics["pages"] == len(corpus)  # 3x input deduped to 1x


def test_direct_join_born_disjointness(spark, corpus):
    """The pipeline's two-write dedup decomposition is sound iff no
    NON-collision direct triple carries a join-born predicate signature;
    verify on the full fixture corpus (which includes role=='Author'
    contributors, the known direct ol:author source)."""
    from olkg.extract import _is_collision_triple
    from olkg.golden import golden_triples
    golden = golden_triples(corpus, dict(LCSH_ROWS))
    collision = [t for t in golden if _is_collision_triple(t[1], t[3])]
    # the collision class is present (contributors emit direct ol:author) ...
    assert len(collision) > 0
    # ... and is exactly what the extract UDF routes through the side sink:
    # every ol:author and every dc:subject-URI triple, nothing else
    for t in collision:
        assert t[1] == V.OL_AUTHOR or (
            t[1] == V.DC_SUBJECT and t[3] == "uri")


def test_cc_reliable_checkpoint(spark, tmp_path, cc_sides):
    """The CC steps checkpoint to the given directory (distributed storage
    on a cluster), one checkpointed RDD directory per step counted in
    ``stats["plan_nodes"]``, and still converge to the right components,
    on both sides of the driver finish cap."""
    from olkg.canonicalize import canonical_map_from_blocks
    pairs = spark.createDataFrame(
        [("e1", "k1"), ("e2", "k1"), ("e2", "k2"), ("e3", "k2"),
         ("e4", "k9"),  # singleton key: excluded from the map
         ("e5", "k5"), ("e6", "k5")],
        ["entity", "block_key"])
    for side in cc_sides():
        ckdir = str(tmp_path / f"cc_ck_{side}")
        stats = {}
        cc = canonical_map_from_blocks(pairs, ckdir, stats)
        assert stats["finish"] == side
        got = {r.entity: r.canonical_id for r in cc.collect()}
        assert got == {"e1": "e1", "e2": "e1", "e3": "e1",
                       "e5": "e5", "e6": "e5"}
        rdd_dirs = [d for root, dirs, _ in os.walk(ckdir)
                    for d in dirs if d.startswith("rdd-")]
        steps = sum(len(v) for v in stats["plan_nodes"].values())
        assert steps >= 1 and len(rdd_dirs) == steps, (side, rdd_dirs, stats)


def test_cc_checkpoints_deleted_after_map(pipeline_out):
    """Once canonical_map/_SUCCESS exists the CC checkpoints are deleted:
    a resumed run reuses the map and never reads them."""
    out, _, _ = pipeline_out
    assert os.path.exists(os.path.join(out, "canonical_map", "_SUCCESS"))
    assert not os.path.exists(os.path.join(out, "_cc_checkpoints"))


def test_cc_sides_agree_in_pipeline(spark, pipeline_out, tmp_path,
                                    monkeypatch):
    """run_pipeline on the fixture corpus writes the same canonical map and
    the same dropped-block census whether CC finishes on the driver (the
    default) or in the distributed loop (the cap at 0)."""
    import olkg.canonicalize as C
    out, pages_path, edges0, cmap0 = _resume_copy(spark, pipeline_out,
                                                  tmp_path)
    driver = pipeline_out[2]["stages"]["canonical_map"]
    assert driver["finish"] == "driver"
    shutil.rmtree(os.path.join(out, "canonical_map"))
    monkeypatch.setattr(C, "DRIVER_FINISH_BYTES", 0)
    loop = _rerun(spark, pages_path, out,
                  monkeypatch)["stages"]["canonical_map"]
    assert loop["finish"] == "loop"
    assert cmap0 and cmap_set(spark, out) == cmap0
    census = ("dropped_super_blocks", "dropped_pair_rows")
    assert {k: loop[k] for k in census} == {k: driver[k] for k in census}


def test_fast_pipeline_prepartition_dedup(spark):
    """Past AUTO_PREPARTITION_ROWS_PER_TASK (the scale shape the
    pipeline's sampler can pick), dedup_edges repartitions on the five edge
    columns and aggregates only after that exchange — no map-side partial
    aggregate — with output identical to dropDuplicates."""
    import contextlib
    import io
    import re

    from olkg.canonicalize import (AUTO_PREPARTITION_ROWS_PER_TASK,
                                   dedup_edges, plan_dedup)
    rows = ([("s%d" % i, "p", "o%d" % (i % 7), "uri", None)
             for i in range(40)]
            + [("s1", "p", "o1", "uri", None)] * 5      # true dups
            + [("s2", "p", "o2", "uri", "dt")] * 3)     # dups w/ datatype
    cols = ("subj string, pred string, obj string, obj_kind string, "
            "obj_datatype string")
    stream = spark.createDataFrame(rows, cols)
    strategy, n = plan_dedup(8_000_000, AUTO_PREPARTITION_ROWS_PER_TASK + 1)
    assert strategy == "prepartition"
    got = dedup_edges(stream, n)

    # the plan before execution: one linear tree, root first
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain()
    plan = buf.getvalue().splitlines()
    exch = [i for i, ln in enumerate(plan) if re.search(
        r"Exchange hashpartitioning\(subj#\d+, pred#\d+, obj#\d+, "
        r"obj_kind#\d+, obj_datatype#\d+, 8\)", ln)]
    assert exch, "\n".join(plan)
    above, below = plan[:exch[0]], plan[exch[0] + 1:]
    assert any("HashAggregate" in ln for ln in above), "\n".join(plan)
    assert not any("HashAggregate" in ln for ln in below), "\n".join(plan)

    want = list(map(tuple, stream.dropDuplicates().collect()))
    got_rows = list(map(tuple, got.collect()))
    assert len(got_rows) == len(want) and set(got_rows) == set(want)


def test_dedup_pages_preserves_distinct_content_per_url(spark):
    """One url carrying two DIFFERENT texts must keep both contents (the
    url-round-trip design lost one of them); null-text pages never collapse
    together; identical-content recrawls collapse to one row."""
    from olkg.pipeline import dedup_pages_df
    rows = [
        ("http://a", None, "contentX"),   # url a, content X
        ("http://a", None, "contentY"),   # SAME url, different content
        ("http://b", None, "contentX"),   # dup of X under another url → dropped
        ("http://c", None, None),         # null text (and html)
        ("http://d", None, None),         # null text, distinct url → kept too
        ("http://d", None, None),         # exact recrawl of the null page → 1 row
    ]
    pages = spark.createDataFrame(rows, "url string, html string, text string")
    got = [(r.url, r.text) for r in dedup_pages_df(pages).collect()]
    assert sorted(got) == [("http://a", "contentX"), ("http://a", "contentY"),
                           ("http://c", None), ("http://d", None)]


def test_plan_dedup_sizing_rule():
    """plan_dedup flips to prepartition past the measured per-task threshold and
    sizes reduce partitions to ~1M rows; stays partial below it."""
    from olkg.canonicalize import plan_dedup
    # 57M rows over 16 map tasks (the measured 2.4M-page shape) → prepartition
    strat, n = plan_dedup(57_000_000, 57_000_000 / 16)
    assert strat == "prepartition" and n == 57
    # bench-gate shape: 29M rows over ~175 scan tasks → partial
    strat, n = plan_dedup(29_000_000, 29_000_000 / 175)
    assert strat == "partial" and n is None
    # tiny corpus → partial
    assert plan_dedup(800, 800 / 4)[0] == "partial"


def test_estimate_extract_size_sampler(spark, corpus, tmp_path_factory):
    """The sampler's triples/page estimate lands near the true value and
    honors an explicit repartition count for the task denominator."""
    from olkg.golden import golden_triples
    from olkg.pipeline import estimate_extract_size
    pages_path = str(tmp_path_factory.mktemp("pages_est")) + "/pages.parquet"
    build_pages_df(spark, corpus).write.mode("overwrite").parquet(pages_path)
    est_total, per_task = estimate_extract_size(spark, pages_path,
                                                repartition_by_url=4)
    # sample covers the whole tiny corpus → estimate ≈ raw triple count
    # (golden is deduped + join-augmented, so just sanity-bound it)
    assert est_total > len(golden_triples(corpus, {})) * 0.5
    assert per_task == pytest.approx(est_total / 4)


def test_fast_pipeline_auto_dedup(spark, corpus, tmp_path_factory,
                                  monkeypatch):
    """The sampler-sized dedup reproduces golden and records its plan."""
    out = str(tmp_path_factory.mktemp("olkg_auto_out"))
    pages_path = str(tmp_path_factory.mktemp("pages_auto")) + "/pages.parquet"
    build_pages_df(spark, corpus).write.mode("overwrite").parquet(pages_path)
    lcsh = spark.createDataFrame(LCSH_ROWS, LCSH_SCHEMA)
    small_salts(monkeypatch)
    metrics = run_pipeline(spark, pages_path, out, lcsh=lcsh)
    result = edges_set(spark, out)
    golden = golden_triples(corpus, dict(LCSH_ROWS))
    p, r = precision_recall(result, golden)
    assert p == 1.0 and r == 1.0
    assert metrics["stages"]["dedup_plan"]["chosen"] == "partial"


def test_bookkeeping_runs_no_spark_job(spark, pipeline_out, tmp_path):
    """The sampler, the sink validation, the lineage append and the stage
    reads are metadata I/O on the driver: none submits a Spark job."""
    from olkg.extract import read_side_rows
    from olkg.materialize import append_lineage, read_edges
    from olkg.pipeline import estimate_extract_size
    out, pages_path, _, _ = _resume_copy(spark, pipeline_out, tmp_path)
    n_sides = spark.read.parquet(out + "/sides").count()
    sc = spark.sparkContext
    calls = {
        "estimate_extract_size": lambda: estimate_extract_size(spark,
                                                               pages_path),
        "read_side_rows": lambda: read_side_rows(spark, out + "/sides",
                                                 expected_rows=n_sides),
        "read_edges": lambda: read_edges(spark, out),
        "append_lineage": lambda: append_lineage(spark, out, "r", "nodes", 1),
    }
    jobs = {}
    for name, call in calls.items():
        group = f"bookkeeping-{name}-{os.path.basename(str(tmp_path))}"
        sc.setJobGroup(group, "no jobs expected")
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = list(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == {name: [] for name in calls}


def test_lineage_one_row_per_written_file(spark, pipeline_out):
    """Lineage has one row per parquet file each stage wrote, and its
    rows_out sums equal the stages' row counts."""
    import pyarrow.parquet as pq
    out, _, metrics = pipeline_out
    lineage = pq.read_table(out + "/lineage").to_pylist()
    by_stage: dict = {}
    for r in lineage:
        by_stage.setdefault(r["stage"], []).append(r)
    for stage, rows in by_stage.items():
        on_disk = sorted(
            os.path.relpath(os.path.join(d, f), os.path.join(out, stage))
            for d, _, names in os.walk(os.path.join(out, stage))
            for f in names if f.endswith(".parquet")
            and not f.startswith((".", "_")))
        assert sorted(r["file"] for r in rows) == on_disk, stage
        assert sum(r["rows_out"] for r in rows) == spark.read.parquet(
            os.path.join(out, stage)).count(), stage
    stages = metrics["stages"]
    assert sum(r["rows_out"] for r in by_stage["edges/d=0"]) == (
        stages["extract"]["rows"])
    assert sum(r["rows_out"] for r in by_stage["edges/d=1"]) == (
        stages["link_dedup"]["rows"])
    assert sum(r["rows_out"] for r in by_stage["sides"]) == (
        stages["extract"]["side_rows"])


def test_resumed_lineage_names_only_rebuilt_files(spark, pipeline_out,
                                                  tmp_path, monkeypatch):
    """A resumed run that rebuilds edges/d=1 alone records lineage for the
    files it wrote, not for the reused edges/d=0 files."""
    import pyarrow.parquet as pq
    out, pages_path, edges0, _ = _resume_copy(spark, pipeline_out, tmp_path)
    shutil.rmtree(os.path.join(out, "edges", "d=1"))
    metrics = _rerun(spark, pages_path, out, monkeypatch)
    assert metrics["stages"]["extract"] == {"skipped": True}
    rows = [r for r in pq.read_table(out + "/lineage").to_pylist()
            if r["run_id"] == metrics["run_id"]]
    assert {r["stage"] for r in rows} == {"edges/d=1", "nodes"}
    assert sum(r["rows_out"] for r in rows if r["stage"] == "edges/d=1") == (
        metrics["stages"]["link_dedup"]["rows"])
    assert edges_set(spark, out) == edges0


def test_bookkeeping_resolves_relative_paths_like_spark(
        spark, pipeline_out, tmp_path, monkeypatch):
    """A relative path means what it means to Spark (the JVM's working
    directory), also where pyarrow reads footers or writes the sink and
    the lineage, however far the Python process has moved away."""
    import pyarrow.parquet as pq

    from olkg.extract import extract_triples_with_side_sink, read_side_rows
    from olkg.materialize import append_lineage, stage_rows
    from olkg.pipeline import estimate_extract_size
    out, pages_path, _, _ = _resume_copy(spark, pipeline_out, tmp_path)
    jvm_cwd = spark._jvm.java.lang.System.getProperty("user.dir")
    rel_out = os.path.relpath(out, jvm_cwd)
    rel_pages = os.path.relpath(pages_path, jvm_cwd)
    (tmp_path / "elsewhere").mkdir()
    monkeypatch.chdir(tmp_path / "elsewhere")
    n_sides = spark.read.parquet(out + "/sides").count()
    n_nodes = spark.read.parquet(out + "/nodes").count()

    assert (estimate_extract_size(spark, rel_pages)
            == estimate_extract_size(spark, pages_path))
    assert read_side_rows(spark, rel_out + "/sides",
                          expected_rows=n_sides).count() == n_sides
    assert stage_rows(spark, rel_out, "edges/d=0") == spark.read.parquet(
        out + "/edges/d=0").count()
    append_lineage(spark, rel_out, "relative", "nodes", 1)
    lineage = [r for r in pq.read_table(out + "/lineage").to_pylist()
               if r["run_id"] == "relative"]
    assert sum(r["rows_out"] for r in lineage) == n_nodes > 0

    acc = spark.sparkContext.accumulator(0)
    rel_sink = rel_out + "/sides_again"
    assert extract_triples_with_side_sink(
        spark.read.parquet(rel_pages), rel_sink,
        side_count_acc=acc).count() > 0
    assert read_side_rows(spark, rel_sink,
                          expected_rows=acc.value).count() == acc.value > 0
    assert os.listdir(os.path.join(out, "sides_again"))


def _run_until_sampler(spark, pages_path, out, monkeypatch):
    """(jobs, sampled lines): the Spark jobs ``run_pipeline`` runs before
    the dedup sampler, and the lines the sampler reads; ``(jobs, error)``
    when the run raises ValueError before it."""
    import olkg.pipeline as pipeline
    sc = spark.sparkContext
    group = f"before-sampler-{os.path.basename(out)}"
    seen = {}

    class SamplerReached(Exception):
        pass

    def sampler(spark, pages_path, repartition_by_url=None, parts=None):
        seen["jobs"] = list(sc.statusTracker().getJobIdsForGroup(group))
        seen["lines"] = pipeline._sample_lines(*parts, pipeline.SAMPLE_PAGES)
        raise SamplerReached

    monkeypatch.setattr(pipeline, "estimate_extract_size", sampler)
    sc.setJobGroup(group, "no jobs expected")
    try:
        run_pipeline(spark, pages_path, out)
    except SamplerReached:
        return seen["jobs"], seen["lines"]
    except ValueError as e:
        return list(sc.statusTracker().getJobIdsForGroup(group)), e
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    raise AssertionError("run_pipeline finished without the sampler")


def test_no_spark_job_before_the_sampler(spark, corpus, tmp_path,
                                         monkeypatch):
    """run_pipeline reaches the dedup sampler without running a Spark job:
    the pages are read with the declared PAGES_SCHEMA after a footer check
    of their columns, with no schema-inference job."""
    pages_path = str(tmp_path / "pages.parquet")
    build_pages_df(spark, corpus).write.parquet(pages_path)
    jobs, lines = _run_until_sampler(spark, pages_path,
                                     str(tmp_path / "out"), monkeypatch)
    assert jobs == [] and len(lines) == len(corpus)


def test_pages_contract(spark, tmp_path, monkeypatch):
    """The pipeline's pages read (read_pages, with the declared
    PAGES_SCHEMA) takes the committed pages and tables derived from them
    alike: Spark- and pyarrow-written multi-file tables, html stored as a
    string, a hive-partitioned directory and warc_ts without a time zone
    give the same lines, sampled and in Spark, and the same audit, with no
    Spark job before the sampler.  A table without html raises ValueError
    naming it, before any job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from olkg import fsio
    from olkg.extract import audit_pages, pages_to_lines
    from olkg.fixtures import PAGES
    from olkg.pipeline import read_pages
    from olkg.schema import PAGES_SCHEMA
    pages = pq.read_table(PAGES)

    def table(name, tbl, files=1, sub=""):
        path = tmp_path / name
        (path / sub).mkdir(parents=True)
        n = -(-tbl.num_rows // files)
        for i in range(files):
            pq.write_table(tbl.slice(n * i, n),
                           path / sub / f"part-{i}.parquet")
        return str(path)

    spark_3 = str(tmp_path / "spark_3")
    spark.read.schema(PAGES_SCHEMA).parquet(str(PAGES)).repartition(3) \
        .write.parquet(spark_3)
    hive = table("hive", pages.slice(0, 15), sub="crawl=a")
    table("hive", pages.slice(15), sub="crawl=b")
    html_str = pages.set_column(2, "html", pages["html"].cast(pa.string()))
    ntz = pages.set_column(1, "warc_ts",
                           pages["warc_ts"].cast(pa.timestamp("us")))
    variants = {"committed": str(PAGES), "spark_3": spark_3,
                "pyarrow_3": table("pyarrow_3", pages, files=3),
                "html_string": table("html_string", html_str),
                "hive": hive, "warc_ts_ntz": table("warc_ts_ntz", ntz)}
    assert len(fsio.parquet_parts(spark, spark_3)[1]) == 3

    want = None
    for name, path in variants.items():
        jobs, sampled = _run_until_sampler(
            spark, path, str(tmp_path / f"out_{name}"), monkeypatch)
        assert jobs == [], name
        df, _ = read_pages(spark, path)
        got = (sorted(sampled),
               sorted(r.line for r in pages_to_lines(df).collect()),
               tuple(audit_pages(df)))
        want = want or got
        assert got == want, name
    assert len(want[0]) == 30 and want[1] == want[0]
    assert want[2] == (30, 0)

    text_only = table("text_only", pages.select(["url", "text"]))
    jobs, err = _run_until_sampler(spark, text_only,
                                   str(tmp_path / "out_text_only"),
                                   monkeypatch)
    assert jobs == []
    assert isinstance(err, ValueError) and "'html'" in str(err), err
