"""Object-store posture of the pipeline.

The pipeline's side sink is written from INSIDE executor tasks, so on a
multi-node cluster it must land on shared storage.  These tests pin:

1. the whole pipeline runs against a *URI* out_dir (``file://`` —
   exercises scheme parsing + the pyarrow/Hadoop FS abstraction end to end
   in-sandbox; no object-store jars exist here) and still matches golden;
2. the sink writer goes through ``pyarrow.fs`` (verified against pyarrow's
   in-memory ``mock://`` filesystem in-process — a cross-process mock FS is
   impossible by construction, which is exactly why the sink needs shared
   storage on a real cluster);
3. an empty-but-expected sink FAILS LOUDLY (the executor-side accumulator
   census vs driver-side visibility) instead of silently producing zero
   join-born edges.
"""

import pandas as pd
import pytest

from olkg.fixtures import LCSH_ROWS, corpus_lines
from olkg.golden import golden_triples, precision_recall
from olkg.pagesgen import build_pages_df
from olkg.schema import LCSH_SCHEMA


def _edges_set(spark, out_uri):
    rows = spark.read.parquet(out_uri + "/edges").collect()
    return {(r.subj, r.pred, r.obj, r.obj_kind, r.obj_datatype) for r in rows}


def test_fast_pipeline_on_file_uri_out_dir(spark, tmp_path_factory,
                                           monkeypatch):
    import olkg.link as L
    from olkg.pipeline import run_pipeline
    corpus = corpus_lines(include_reference=True)
    out = "file://" + str(tmp_path_factory.mktemp("olkg_uri_out"))
    pages_path = str(tmp_path_factory.mktemp("pages_uri")) + "/pages.parquet"
    build_pages_df(spark, corpus).write.mode("overwrite").parquet(pages_path)
    lcsh = spark.createDataFrame(LCSH_ROWS, LCSH_SCHEMA)
    monkeypatch.setattr(L, "HOT_KEY_REFS", 100)
    monkeypatch.setattr(L, "NUM_SALTS", 4)
    metrics = run_pipeline(spark, pages_path, out, lcsh=lcsh)
    result = _edges_set(spark, out)
    golden = golden_triples(corpus, dict(LCSH_ROWS))
    p, r = precision_recall(result, golden)
    assert p == 1.0 and r == 1.0
    assert metrics["text_mismatches"] == 0


def test_sink_writer_uses_pyarrow_fs():
    """Drive the sink batch function directly (in-process) against pyarrow's
    in-memory mock filesystem: the write must go through the resolved FS
    object, not os/local-path APIs (which would raise on 'mock://...')."""
    from pyarrow import fs as pafs

    from olkg import fsio
    from olkg.extract import _make_sink_batches

    mock = pafs._MockFileSystem()
    orig = fsio.pa_fs
    fsio.pa_fs = lambda uri: (mock, uri.split("://", 1)[1])
    try:
        line = ("/type/author\t/authors/OL1A\t1\t2020\t"
                '{"key": "/authors/OL1A", "name": "Ada Lovelace"}')
        batches = _make_sink_batches("mock://sink")
        out = list(batches(iter([pd.DataFrame({"line": [line]})])))
    finally:
        fsio.pa_fs = orig

    assert sum(len(b) for b in out) > 0           # triples streamed out
    infos = mock.get_file_info(pafs.FileSelector("sink"))
    parts = [i for i in infos if i.path.endswith(".parquet")]
    assert parts, "side rows were not written through the pyarrow FS"
    import pyarrow.parquet as pq
    tbl = pq.read_table(parts[0].path, filesystem=mock)
    assert tbl.num_rows > 0
    assert set(tbl.column_names) >= {"kind", "subj", "obj"}


def test_read_side_rows_fails_loudly_when_sink_invisible(spark, tmp_path):
    from olkg.extract import read_side_rows
    empty = str(tmp_path / "no_such_sink")
    # benign case: nothing extracted, nothing expected → empty DF
    assert read_side_rows(spark, empty).count() == 0
    # executors claim rows were written but the driver sees none → raise
    with pytest.raises(RuntimeError, match="not on storage shared"):
        read_side_rows(spark, empty, expected_rows=123)


def test_read_side_rows_fails_loudly_when_sink_undercounts(spark, tmp_path):
    """The sink's files exist but one part is gone (visible < expected, the
    multi-node executor-local-path signature): raise, don't read short."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from olkg.extract import read_side_rows
    sink = tmp_path / "sides"
    sink.mkdir()
    cols = ["kind", "subj", "pred", "obj", "obj_kind", "obj_datatype"]
    for i, n in enumerate((3, 4)):
        rows = [["author_name"] * n, [f"/authors/A{i}"] * n, [None] * n,
                [f"Name {k}" for k in range(n)], [None] * n, [None] * n]
        pq.write_table(pa.table(dict(zip(cols, rows)),
                                schema=pa.schema([(c, pa.string())
                                                  for c in cols])),
                       sink / f"part-{i}.parquet")
    assert read_side_rows(spark, str(sink), expected_rows=7).count() == 7
    (sink / "part-1.parquet").unlink()
    with pytest.raises(RuntimeError, match="holds 3 rows"):
        read_side_rows(spark, str(sink), expected_rows=7)


def test_s3a_uri_translates_to_pyarrow_s3():
    from olkg.fsio import translate_pa_uri
    assert translate_pa_uri("s3a://bucket/key") == "s3://bucket/key"
    assert translate_pa_uri("hdfs://nn/path") == "hdfs://nn/path"
    assert translate_pa_uri("/plain/path") == "/plain/path"
    assert translate_pa_uri("file:///x") == "file:///x"
