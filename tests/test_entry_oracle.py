"""Driver-contract tests: every queries() entry runs; every oracle_sql()
entry produces the identical result set in DuckDB (the same comparison the
verify driver performs: column names + row count + order-insensitive values).
Runs at sf0.001 for speed; the driver uses sf0.01."""

import math
from decimal import Decimal

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        return f"{v.normalize():f}" if v != 0 else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def _normalize(df, cols):
    rows = [tuple(_norm_cell(r[c]) for c in cols) for _, r in df.iterrows()]
    return sorted(rows)


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_runs_and_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_pd = sdf.toPandas()
    assert spark_pd is not None
    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        # rows-only contract: runs, schema stable, deterministic re-run
        again = q(spark, SF_DIR).toPandas()
        assert list(spark_pd.columns) == list(again.columns)
        assert len(spark_pd) == len(again)
        return
    duck_pd = ddb.execute(oracle).fetchdf()
    s_cols = sorted(spark_pd.columns)
    d_cols = sorted(duck_pd.columns)
    assert s_cols == d_cols, f"{name}: columns {s_cols} != {d_cols}"
    assert len(spark_pd) == len(duck_pd), (
        f"{name}: rows {len(spark_pd)} != {len(duck_pd)}")
    s_rows = _normalize(spark_pd, s_cols)
    d_rows = _normalize(duck_pd, d_cols)
    mism = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
    assert s_rows == d_rows, f"{name}: first mismatches {mism}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"name", "n"}


def test_session_cache_evicts_stopped_applications(spark):
    """Inserting a live session's entry drops every entry of another
    application, whose handles are bound to a stopped SparkContext."""
    live = spark.sparkContext.applicationId
    dead = ("kg", "app-stopped-0000")
    entry_mod._CACHE[dead] = ("stale", "handles")
    entry_mod._CACHE.pop(("kg", live), None)   # force a fresh insert
    entry_mod._kg(spark)
    assert dead not in entry_mod._CACHE
    assert ("kg", live) in entry_mod._CACHE
    assert all(k[1] == live for k in entry_mod._CACHE)


def test_multimodal_decode_stub_raises():
    from olkg.multimodal import decode_stub
    with pytest.raises(NotImplementedError):
        decode_stub(b"\x89PNG", "image/png")


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF top-k must overlap brute force meaningfully at nprobe=4/16 cells
    and reach full recall when probing every cell."""
    import os
    from pyspark.sql import functions as F
    from olkg.simsearch import cosine_topk_bruteforce, ivf_topk
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    emb = emb.withColumn("embedding",
                         F.transform("embedding", lambda x: x.cast("double")))
    cents = spark.read.parquet(
        os.path.join(os.path.dirname(entry_mod.__file__), "data",
                     "ivf_centroids.parquet"))
    qids = list(range(5))
    bf = {(r.query_id, r.neighbor_id)
          for r in cosine_topk_bruteforce(emb, qids, k=5).collect()}
    ivf4 = {(r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, cents, qids, k=5, nprobe=4).collect()}
    assert len(bf & ivf4) / len(bf) >= 0.2
    ivf_all = {(r.query_id, r.neighbor_id)
               for r in ivf_topk(emb, cents, qids, k=5, nprobe=16).collect()}
    assert ivf_all == bf  # probing every cell == exact


def test_ivf_materialized_layout_prunes_and_matches(spark, tmp_path):
    """ivf_materialize writes the corpus cell-partitioned; the probe read
    (1) prunes to only the probed cells' partition directories — asserted
    on both the scan's PartitionFilters and the actual files under the
    pruned path set — and (2) returns results identical to the in-memory
    ivf_topk on the same codebook."""
    import os
    from pyspark.sql import functions as F
    from olkg.simsearch import ivf_materialize, ivf_topk, ivf_topk_materialized

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    emb = emb.withColumn("embedding",
                         F.transform("embedding", lambda x: x.cast("double")))
    cents = spark.read.parquet(
        os.path.join(os.path.dirname(entry_mod.__file__), "data",
                     "ivf_centroids.parquet"))
    path = str(tmp_path / "ivf_corpus")
    ivf_materialize(emb, cents, path)
    cells_on_disk = {d for d in os.listdir(path) if d.startswith("cell=")}
    assert len(cells_on_disk) > 4   # corpus actually spread over cells

    qids = list(range(5))
    corpus = spark.read.parquet(path)
    ids = spark.read.parquet(path + "/_ids")
    got = ivf_topk_materialized(corpus, ids, cents, qids, k=5, nprobe=2)
    want = ivf_topk(emb, cents, qids, k=5, nprobe=2)
    g = {(r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in got.collect()}
    w = {(r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in want.collect()}
    assert g == w and len(g) > 0

    # pruning evidence: the probe filter reaches the scan as a PARTITION
    # filter (directory-level pruning, not row-level), and the pruned scan
    # touches fewer partition directories than exist on disk
    probed = corpus.filter(F.col("cell").isin([0, 1]))
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probed.explain(mode="formatted")
    plan = buf.getvalue()
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines and any("cell" in ln and "IN" in ln.upper()
                            for ln in pf_lines), plan
    # row-count agreement with the directory layout: the pruned read
    # returns exactly the rows materialized under cell=0 and cell=1
    want_rows = sum(
        spark.read.parquet(os.path.join(path, d)).count()
        for d in ("cell=0", "cell=1") if d in cells_on_disk)
    assert probed.count() == want_rows > 0


def _ivf_layout(spark, tmp_path):
    """The sf0.001 embeddings materialized as an IVF layout under tmp_path;
    returns (embeddings, codebook, layout path)."""
    import os
    from pyspark.sql import functions as F
    from olkg.simsearch import ivf_materialize

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    emb = emb.withColumn("embedding",
                         F.transform("embedding", lambda x: x.cast("double")))
    cents = spark.read.parquet(
        os.path.join(os.path.dirname(entry_mod.__file__), "data",
                     "ivf_centroids.parquet"))
    path = str(tmp_path / "ivf_corpus")
    ivf_materialize(emb, cents, path)
    return emb, cents, path


def _corpus_scans(df):
    """The scan blocks over the cell-partitioned corpus (not the _ids index)
    in df's STATIC plan, read before any action: after execution the AQE
    final plan prints the DPP subquery as a second scan block of the same
    pruned scan."""
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    return plan, [b for b in plan.split("\n\n")
                  if "Scan parquet" in b and "ivf_corpus" in b
                  and "_ids" not in b]


def _topk_set(df):
    return {(r.query_id, r.neighbor_id, r.cos_sim, r.rank)
            for r in df.collect()}


def test_ivf_materialized_query_lookup_prunes_and_queries_df(spark, tmp_path):
    """EVERY corpus scan in the materialized IVF query — the candidate scan
    AND the query-vector lookup — carries a partition filter on `cell` (via
    the _ids index), so total files read is bounded by the probed +
    query-home cells, never the whole corpus.  The looked-up query vectors
    come back as a local queries DataFrame, so the scoring plan reads the
    corpus once, and the results equal the in-memory ivf_topk."""
    import os
    from olkg.simsearch import ivf_topk, ivf_topk_materialized

    emb, cents, path = _ivf_layout(spark, tmp_path)
    assert os.path.isdir(path + "/_ids")   # the id→cell index exists

    corpus = spark.read.parquet(path)
    ids = spark.read.parquet(path + "/_ids")
    qids = list(range(5))
    got = ivf_topk_materialized(corpus, ids, cents, qids, k=5, nprobe=2)
    plan, scans = _corpus_scans(got)
    # every scan over the corpus must be partition-pruned; an unpruned
    # corpus scan = full-corpus I/O at scale
    for b in scans:
        pf = [ln for ln in b.splitlines() if "PartitionFilters" in ln]
        assert pf and any("cell" in ln for ln in pf), b
    # the SCORING plan reads the corpus exactly once (the pruned candidate
    # scan) — the query vectors and probe pairs come back from the single
    # combined probe-selection collect as local relations, not a second
    # corpus read
    assert len(scans) == 1, plan

    want = ivf_topk(emb, cents, qids, k=5, nprobe=2)
    assert _topk_set(got) == _topk_set(want) and len(_topk_set(got)) > 0


def test_ivf_materialized_preopened_handles_identical_and_pruned(
        spark, tmp_path):
    """The serving read path keeps the layout's ``corpus`` / ``ids_index``
    handles open across queries (entry._ivf_handles caches them per
    session, the index persisted), so repeated queries skip the per-call
    parquet listing + schema inference.  Handles reused for successive
    queries give results identical to freshly opened handles, and every
    query on them keeps the single pruned corpus scan."""
    from olkg.simsearch import ivf_topk_materialized

    _, cents, path = _ivf_layout(spark, tmp_path)
    corpus = spark.read.parquet(path)
    ids = spark.read.parquet(path + "/_ids").persist()
    try:
        for qids in ([0, 1, 2], [3, 4], [0, 1, 2]):
            got = ivf_topk_materialized(corpus, ids, cents, qids, k=5,
                                        nprobe=2)
            plan, scans = _corpus_scans(got)
            assert len(scans) == 1, plan
            pf = [ln for ln in scans[0].splitlines()
                  if "PartitionFilters" in ln]
            assert pf and any("cell" in ln for ln in pf), scans[0]
            fresh = ivf_topk_materialized(
                spark.read.parquet(path), spark.read.parquet(path + "/_ids"),
                cents, qids, k=5, nprobe=2)
            g = _topk_set(got)
            assert g == _topk_set(fresh) and len(g) > 0
            assert {q for q, _, _, _ in g} == set(qids)
    finally:
        ids.unpersist()


def test_ivf_materialized_writes_one_file_per_cell(spark, tmp_path):
    """The layout rebalances before its writes: on the sf0.001 embeddings
    every ``cell=`` directory and the ``_ids`` index hold one parquet file,
    not one per reduce partition that held any of their rows."""
    import os
    from pyspark.sql import functions as F
    from olkg.simsearch import ivf_materialize

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    emb = emb.withColumn("embedding",
                         F.transform("embedding", lambda x: x.cast("double")))
    cents = spark.read.parquet(
        os.path.join(os.path.dirname(entry_mod.__file__), "data",
                     "ivf_centroids.parquet"))
    path = tmp_path / "ivf_corpus"
    ivf_materialize(emb, cents, str(path))
    dirs = [d for d in path.iterdir() if d.name.startswith("cell=")]
    assert len(dirs) > 4
    for d in dirs + [path / "_ids"]:
        files = [f.name for f in d.iterdir() if f.suffix == ".parquet"
                 and not f.name.startswith(".")]
        assert len(files) == 1, (d.name, files)


def test_ivf_layout_cache_is_keyed_by_embeddings(spark, tmp_path,
                                                 monkeypatch):
    """Two sf directories with the same basename and different embeddings
    get their own layouts: the second answers with its own vectors.  An sf
    directory rewritten in place gets a new layout, which replaces its
    old one."""
    import os
    import tempfile
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from olkg.simsearch import ivf_topk

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    src = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vecs = src.column("embedding")
    cents = spark.read.parquet(
        os.path.join(os.path.dirname(entry_mod.__file__), "data",
                     "ivf_centroids.parquet"))
    reversed_ = src.set_column(1, "embedding", vecs.take(
        pa.array(range(src.num_rows - 1, -1, -1))))
    for name, tbl in (("a", src), ("b", reversed_),
                      ("a", src.slice(0, src.num_rows - 1))):
        sf = tmp_path / name / "sf"
        sf.mkdir(parents=True, exist_ok=True)
        pq.write_table(tbl, sf / "embeddings.parquet")
        got = {tuple(r) for r in
               entry_mod.q_ann_ivf_materialized(spark, str(sf)).collect()}
        df = spark.read.parquet(str(sf / "embeddings.parquet")).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double")))
        want = {tuple(r) for r in
                ivf_topk(df, cents, list(range(10)), k=5, nprobe=4).collect()}
        assert got == want and got, name
    layouts = [n for n in os.listdir(tmp_path / "tmp")
               if n.startswith("olkg_ivf_corpus_sf_")]
    assert len(layouts) == 2, layouts
