"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — smoke: runs the flagship KG pipeline on the committed
pages corpus and touches sf0.001.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
(SURVEY.md §2 + the training-data ops).  KG queries read one
``olkg.pipeline.run_pipeline`` run per application over
``data/pages.parquet`` (committed, deterministic): its edge table is checked
against ``data/golden_edges.parquet`` — the single-process net-effect golden
set produced by the spec-tested pure-Python semantics (olkg.golden), i.e.
the oracle verifies distributed == reference semantics — and its
byte-identity audit against the pages table.  Corpus-ops queries run on the
driver's sf tables with plain-SQL oracles.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
PAGES = os.path.join(REPO, "data", "pages.parquet")
LCSH = os.path.join(REPO, "data", "lcsh.parquet")
GOLDEN = os.path.join(REPO, "data", "golden_edges.parquet")
PLANES = os.path.join(REPO, "data", "hyperplanes.parquet")
CENTROIDS = os.path.join(REPO, "data", "ivf_centroids.parquet")

_CACHE: dict = {}


def _cache_put(spark: SparkSession, key: tuple, value):
    """Cache ``value`` under ``key`` (``key[1]`` is the applicationId) and
    evict every entry of another application: its handles are bound to a
    stopped SparkContext and would otherwise stay referenced for the
    driver's lifetime."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _CACHE if k[1] != app]:
        del _CACHE[k]
        if k[0] == "kg":
            shutil.rmtree(_kg_dir(k[1]), ignore_errors=True)
    _CACHE[key] = value


def _kg_dir(app_id: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"olkg_kg_{app_id}")


def _kg(spark: SparkSession):
    """Run the pipeline once per application; cache ``(metrics, edges)``.

    The output goes to one directory per application under the temp dir.
    It is deleted when the driver exits, or earlier when a later
    application's cache insert evicts this one."""
    app = spark.sparkContext.applicationId
    key = ("kg", app)
    if key not in _CACHE:
        from olkg.materialize import read_edges
        from olkg.pipeline import run_pipeline

        out = _kg_dir(app)
        atexit.register(shutil.rmtree, out, True)
        metrics = run_pipeline(spark, PAGES, out,
                               lcsh=spark.read.parquet(LCSH))
        _cache_put(spark, key, (metrics, read_edges(spark, out)))
    return _CACHE[key]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings, their vectors as doubles."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return emb.withColumn("embedding",
                          F.transform("embedding", lambda x: x.cast("double")))


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full KG pipeline (extract → link → dedup → nodes, with
    the CC canonical map) as a triple census by predicate, plus an sf0.001
    corpus stat row."""
    _, edges = _kg(spark)
    pred_counts = (edges.groupBy("pred")
                   .agg(F.count(F.lit(1)).alias("n"))
                   .select(F.col("pred").alias("name"), "n"))
    docs = _docs(spark, "/root/testdata/sf0.001")
    doc_row = docs.agg(F.count(F.lit(1)).alias("n")) \
                  .select(F.lit("documents_sf0.001").alias("name"), "n")
    return pred_counts.unionByName(doc_row)


# ---------------------------------------------------------------------------
# KG queries (inputs committed in data/; sf_dir ignored by design)
# ---------------------------------------------------------------------------

def q_kg_edges(spark, sf_dir):
    _, edges = _kg(spark)
    return edges.select("subj", "pred", "obj", "obj_kind", "obj_datatype")


def q_kg_pred_counts(spark, sf_dir):
    _, edges = _kg(spark)
    return edges.groupBy("pred").agg(F.count(F.lit(1)).alias("n"))


def q_kg_typed_nodes(spark, sf_dir):
    from olkg import vocab as V
    _, edges = _kg(spark)
    return (edges.filter(F.col("pred") == V.RDF_TYPE)
            .groupBy(F.col("subj").alias("id"))
            .agg(F.min("obj").alias("node_type")))


def q_kg_author_links(spark, sf_dir):
    from olkg import vocab as V
    _, edges = _kg(spark)
    return (edges.filter(F.col("pred") == V.OL_AUTHOR)
            .select(F.col("subj").alias("creation_uri"),
                    F.col("obj").alias("author_name")).distinct())


def q_kg_lcsh_subjects(spark, sf_dir):
    from olkg import vocab as V
    _, edges = _kg(spark)
    return (edges.filter((F.col("pred") == V.DC_SUBJECT)
                         & F.col("obj").startswith("http://id.loc.gov/"))
            .select(F.col("subj").alias("entity"),
                    F.col("obj").alias("lcsh_uri")))


def q_kg_blocking_keys(spark, sf_dir):
    from olkg.canonicalize import blocking_keys
    _, edges = _kg(spark)
    return blocking_keys(edges).distinct()


def q_kg_works_bidirectional(spark, sf_dir):
    from olkg import vocab as V
    _, edges = _kg(spark)
    return (edges.filter(F.col("pred").isin(V.DC_IS_VERSION_OF,
                                            V.DC_HAS_VERSION))
            .select("subj", "pred", "obj"))


def q_kg_datetime_literals(spark, sf_dir):
    from olkg import vocab as V
    _, edges = _kg(spark)
    return (edges.filter(F.col("obj_datatype") == V.XSD_DATETIME)
            .select("subj", "pred", "obj"))


def q_kg_text_identity(spark, sf_dir):
    metrics, _ = _kg(spark)
    pages = metrics["pages"]
    return spark.createDataFrame(
        [(pages, pages - metrics["text_mismatches"])],
        "pages bigint, pages_ok bigint")


# ---------------------------------------------------------------------------
# Corpus / training-data ops (run on the driver's sf tables)
# ---------------------------------------------------------------------------

def q_doc_dedup_exact(spark, sf_dir):
    from olkg.textops import exact_dup_groups
    return exact_dup_groups(_docs(spark, sf_dir))


def q_doc_fingerprints(spark, sf_dir):
    from olkg.textops import doc_fingerprints
    return doc_fingerprints(_docs(spark, sf_dir))


def q_doc_token_counts(spark, sf_dir):
    from olkg.textops import token_counts
    return token_counts(_docs(spark, sf_dir))


def q_doc_quality(spark, sf_dir):
    from olkg.textops import quality_scores
    return quality_scores(_docs(spark, sf_dir))


def q_doc_lang_id(spark, sf_dir):
    from olkg.textops import lang_id
    return lang_id(_docs(spark, sf_dir))


def q_doc_ngram_jaccard(spark, sf_dir):
    from olkg.textops import ngram_jaccard_pairs
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2)


def q_doc_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup: LSH candidates verified with exact Jaccard.
    bands=num_perm=16 (1 row/band) makes P(miss | jaccard ≥ 0.5) ≤ 1.6e-5,
    so the output equals the oracle's pair-exhaustive jaccard ≥ 0.5 set."""
    from olkg.textops import minhash_near_dup_pairs
    return minhash_near_dup_pairs(_docs(spark, sf_dir), n=3, num_perm=16,
                                  bands=16, threshold=0.5)


def q_doc_simhash_pairs(spark, sf_dir):
    """SimHash near-dup at hamming ≤ 3 with radius-complete chunk blocking
    (max_hamming+1 chunks, pigeonhole) over the cross-engine md5-based
    60-bit signature — the oracle recomputes signatures + all pairs in SQL."""
    from olkg.textops import simhash_near_pairs
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_ann_cosine_topk(spark, sf_dir):
    from olkg.simsearch import cosine_topk_bruteforce
    return cosine_topk_bruteforce(_emb(spark, sf_dir),
                                  query_ids=list(range(10)), k=5)


def q_ann_lsh_topk(spark, sf_dir):
    """ANN top-k via random-hyperplane LSH with the COMMITTED hyperplane
    table (data/hyperplanes.parquet) — the oracle reads the same weights and
    derives identical buckets, candidates, and ranks."""
    from olkg.simsearch import cosine_topk_lsh
    planes = spark.read.parquet(PLANES)
    return cosine_topk_lsh(_emb(spark, sf_dir), planes,
                           query_ids=list(range(10)), k=5)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN top-k over the committed coarse codebook
    (data/ivf_centroids.parquet) — cell assignment and probing are
    engine-identical, so the oracle reproduces the exact result."""
    from olkg.simsearch import ivf_topk
    cents = spark.read.parquet(CENTROIDS)
    return ivf_topk(_emb(spark, sf_dir), cents, query_ids=list(range(10)),
                    k=5, nprobe=4)


def _ivf_handles(spark, path: str):
    """Session-cached handles for an installed IVF layout: the corpus
    DataFrame (reusing one partition-discovery file index across queries),
    the ``_ids`` id→cell index persisted in memory, and the persisted
    centroid codebook.  These are the per-query fixed read costs a serving
    layer pays ONCE per layout, not per query — ``ivf_topk_materialized``
    takes them as its ``corpus`` / ``ids_index`` / ``centroids``."""
    # keyed on the application id (stable per SparkContext lifetime), not
    # id(spark): a stopped session's address can be reused by a new one,
    # which would hand back handles bound to the dead session
    key = ("ivf", spark.sparkContext.applicationId, path)
    if key not in _CACHE:
        corpus = spark.read.parquet(path)
        ids = spark.read.parquet(path + "/_ids").persist()
        ids.count()
        cents = spark.read.parquet(CENTROIDS).persist()
        cents.count()
        _cache_put(spark, key, (corpus, ids, cents))
    return _CACHE[key]


def _ivf_layout_name(sf_dir: str) -> tuple[str, str]:
    """(prefix, name) of this sf's IVF layout directory,
    ``olkg_ivf_corpus_<basename>_<path digest>_<files digest>``.  The
    prefix digests the embeddings table's absolute path, the name adds its
    files' (relative path, size, mtime), so two sf directories never share
    a layout and a rewritten one gets a new one."""
    import hashlib
    root = os.path.abspath(os.path.join(sf_dir, "embeddings.parquet"))
    files = ([root] if os.path.isfile(root) else sorted(
        os.path.join(d, f) for d, _, names in os.walk(root) for f in names))
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"\0{os.path.relpath(f, root)}\0{st.st_size}\0"
                 f"{st.st_mtime_ns}".encode())
    prefix = ("olkg_ivf_corpus_" + os.path.basename(sf_dir.rstrip("/")) + "_"
              + hashlib.sha256(root.encode()).hexdigest()[:12] + "_")
    return prefix, prefix + h.hexdigest()[:12]


def ensure_ivf_materialized(spark, sf_dir: str) -> str:
    """Build (once) the cell-partitioned IVF corpus layout for this sf and
    return its path.  The cache is keyed by the embeddings' identity
    (:func:`_ivf_layout_name`), not by the directory's name; installing a
    layout removes this sf's layouts of earlier embeddings.
    Concurrent-safe: the layout is written to a unique
    scratch directory and atomically renamed into place, so parallel runs
    on the same sf either win the rename or reuse the winner — never read
    a half-overwritten layout.  Re-invocations reuse the existing layout
    (the materialize is the OFFLINE step; queries should not re-pay it).
    Also warms the session's layout handles (:func:`_ivf_handles`), so the
    first query after ensure pays only its own jobs."""
    import tempfile
    import uuid
    from olkg.simsearch import ivf_materialize
    prefix, name = _ivf_layout_name(sf_dir)
    path = os.path.join(tempfile.gettempdir(), name)
    if (os.path.exists(os.path.join(path, "_SUCCESS"))
            and os.path.isdir(os.path.join(path, "_ids"))):
        _ivf_handles(spark, path)
        return path
    cents = spark.read.parquet(CENTROIDS)
    scratch = path + ".tmp." + uuid.uuid4().hex[:8]
    ivf_materialize(_emb(spark, sf_dir), cents, scratch)
    import shutil
    # swap loop: each pass either installs our complete scratch, adopts a
    # complete layout a concurrent run installed, or evicts ONE stale
    # occupant — every rename can race another run, so losses are retried
    # rather than assumed impossible (two runs that both saw a stale
    # layout both reach the eviction rename; the loser must re-validate,
    # not crash)
    while True:
        try:
            os.rename(scratch, path)
        except OSError:
            pass                      # target occupied — examine it
        else:
            # layouts of this sf's earlier embeddings; scratch and trash
            # directories (a '.' after the prefix) belong to other runs
            for old in os.listdir(tempfile.gettempdir()):
                if (old.startswith(prefix) and old != name
                        and "." not in old[len(prefix):]):
                    shutil.rmtree(os.path.join(tempfile.gettempdir(), old),
                                  ignore_errors=True)
            _ivf_handles(spark, path)
            return path
        if (os.path.exists(os.path.join(path, "_SUCCESS"))
                and os.path.isdir(os.path.join(path, "_ids"))):
            # a concurrent run renamed a complete layout first — use it
            shutil.rmtree(scratch, ignore_errors=True)
            _ivf_handles(spark, path)
            return path
        # a STALE layout (older code version, no _ids index) occupies the
        # target: move it aside, then loop to re-attempt our install
        trash = path + ".stale." + uuid.uuid4().hex[:8]
        try:
            os.rename(path, trash)
        except OSError:
            continue                  # lost the eviction race — re-validate
        shutil.rmtree(trash, ignore_errors=True)


def q_ann_ivf_materialized(spark, sf_dir):
    """IVF top-k via the CELL-PARTITIONED materialized layout
    (olkg.simsearch.ivf_materialize): the corpus is written partitioned by
    its IVF cell; the probe read prunes to the probed cells' partition
    directories and the query-vector lookup prunes to the queried ids'
    home cells via the _ids index (the at-scale I/O shape — no corpus
    scan anywhere).  Results are identical to the in-memory ivf_topk on
    the same committed codebook, so it shares that query's oracle SQL."""
    from olkg.simsearch import ivf_topk_materialized
    path = ensure_ivf_materialized(spark, sf_dir)
    corpus, ids, cents = _ivf_handles(spark, path)
    return ivf_topk_materialized(corpus, ids, cents,
                                 query_ids=list(range(10)), k=5, nprobe=4)


def q_doc_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: LSH-bucket candidates (committed shared
    hyperplane table → identical buckets in both engines) verified with the
    exact cosine — the oracle reproduces the same candidate set + filter."""
    from olkg.simsearch import embedding_near_dup_pairs
    planes = spark.read.parquet(PLANES)
    return embedding_near_dup_pairs(_emb(spark, sf_dir), planes,
                                    threshold=0.4)


def q_multimodal_features(spark, sf_dir):
    from olkg.multimodal import documents_as_binary, extract_features
    return extract_features(documents_as_binary(_docs(spark, sf_dir)))


def q_events_sessions(spark, sf_dir):
    """Gap-based sessionization (batch twin of streaming.stream_sessionize):
    lag + cumulative-sum session ids, 30-minute gap."""
    from olkg.textops import sessionize_events
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return sessionize_events(ev, gap_minutes=30)


def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (ev.groupBy("user_id",
                       F.date_format(F.date_trunc("hour", "ts"),
                                     "yyyy-MM-dd HH:00:00").alias("hour"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("sum_value")))


def q_agg_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    dec = lambda c: F.col(c).cast("decimal(18,4)")
    # decimal-exact aggregation (order-independent across partitions), then a
    # final cast to double so both engines render the identical value
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(dec("l_extendedprice")).cast("double")
                 .alias("sum_base_price"),
                 F.sum((dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)")
                        - dec("l_discount"))).cast("decimal(28,8)"))
                 .cast("double").alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order")))


def q_join_revenue_by_nation(spark, sf_dir):
    cu = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    na = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return (od.join(cu, od.o_custkey == cu.c_custkey)
            .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
            .groupBy("n_name")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                 .cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # KG construction (SURVEY.md §2)
        "kg_edges": q_kg_edges,
        "kg_pred_counts": q_kg_pred_counts,
        "kg_typed_nodes": q_kg_typed_nodes,
        "kg_author_links": q_kg_author_links,
        "kg_lcsh_subjects": q_kg_lcsh_subjects,
        "kg_blocking_keys": q_kg_blocking_keys,
        "kg_works_bidirectional": q_kg_works_bidirectional,
        "kg_datetime_literals": q_kg_datetime_literals,
        "kg_text_identity": q_kg_text_identity,
        # training-data corpus ops
        "doc_dedup_exact": q_doc_dedup_exact,
        "doc_fingerprints": q_doc_fingerprints,
        "doc_token_counts": q_doc_token_counts,
        "doc_quality": q_doc_quality,
        "doc_lang_id": q_doc_lang_id,
        "doc_ngram_jaccard": q_doc_ngram_jaccard,
        "doc_minhash_lsh": q_doc_minhash_lsh,
        "doc_simhash_pairs": q_doc_simhash_pairs,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_materialized": q_ann_ivf_materialized,
        "doc_embedding_neardup": q_doc_embedding_neardup,
        "multimodal_features": q_multimodal_features,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "agg_pricing_summary": q_agg_pricing_summary,
        "join_revenue_by_nation": q_join_revenue_by_nation,
    }


_G = f"read_parquet('{GOLDEN}')"
_P = f"read_parquet('{PAGES}')"

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_OL_AUTHOR = "http://api.talis.com/stores/openlibrary/terms#author"
_DC_SUBJECT = "http://purl.org/dc/terms/subject"
_XSD_DT = "http://www.w3.org/2001/XMLSchema#dateTime"
_BIBO = "http://purl.org/ontology/bibo/"


def oracle_sql() -> dict[str, str]:
    sql = {
        "kg_edges":
            f"SELECT subj, pred, obj, obj_kind, obj_datatype FROM {_G}",
        "kg_pred_counts":
            f"SELECT pred, count(*) AS n FROM {_G} GROUP BY pred",
        "kg_typed_nodes":
            f"SELECT subj AS id, min(obj) AS node_type FROM {_G} "
            f"WHERE pred = '{_RDF_TYPE}' GROUP BY subj",
        "kg_author_links":
            f"SELECT DISTINCT subj AS creation_uri, obj AS author_name "
            f"FROM {_G} WHERE pred = '{_OL_AUTHOR}'",
        "kg_lcsh_subjects":
            f"SELECT subj AS entity, obj AS lcsh_uri FROM {_G} "
            f"WHERE pred = '{_DC_SUBJECT}' AND obj LIKE 'http://id.loc.gov/%'",
        "kg_blocking_keys":
            f"SELECT DISTINCT subj AS entity, "
            f"CASE pred WHEN '{_BIBO}isbn13' THEN 'isbn13:' || obj "
            f"WHEN '{_BIBO}lccn' THEN 'lccn:' || obj "
            f"WHEN '{_BIBO}oclcnum' THEN 'oclc:' || obj END AS block_key "
            f"FROM {_G} WHERE pred IN ('{_BIBO}isbn13', '{_BIBO}lccn', "
            f"'{_BIBO}oclcnum')",
        "kg_works_bidirectional":
            f"SELECT subj, pred, obj FROM {_G} WHERE pred IN "
            f"('http://purl.org/dc/terms/isVersionOf', "
            f"'http://purl.org/dc/terms/hasVersion')",
        "kg_datetime_literals":
            f"SELECT subj, pred, obj FROM {_G} WHERE obj_datatype = '{_XSD_DT}'",
        "kg_text_identity":
            f"SELECT count(*) AS pages, count(*) AS pages_ok FROM {_P}",
        # corpus ops
        "doc_dedup_exact":
            "SELECT md5(text) AS text_hash, count(*) AS dup_count, "
            "min(doc_id) AS keeper_id FROM documents GROUP BY md5(text) "
            "HAVING count(*) > 1",
        "doc_fingerprints":
            "SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))"
            " AS fingerprint FROM documents",
        "doc_token_counts":
            "SELECT doc_id, "
            "len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens, "
            "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"
            " AS bpe_tokens FROM documents",
        "doc_quality":
            "SELECT doc_id, length(text) AS n_chars, "
            "len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens, "
            "round(len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / "
            "greatest(length(text), 1), 4) AS punct_ratio, "
            "round(len(regexp_extract_all(text, "
            "'\\b(the|a|an|and|or|of|to|in|is)\\b')) * 1.0 / "
            "greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4) "
            "AS stop_ratio, "
            "(len(regexp_split_to_array(trim(text), '\\s+')) >= 10 "
            "AND length(text) >= 50) AS keep FROM documents",
        "doc_lang_id":
            "SELECT doc_id, "
            "len(regexp_extract_all(text, '\\b(the|and|of|with)\\b')) AS n_en, "
            "len(regexp_extract_all(text, '\\b(el|la|los|las|con)\\b')) AS n_es, "
            "len(regexp_extract_all(text, '\\b(der|die|das|und|mit)\\b')) AS n_de, "
            "len(regexp_extract_all(text, '\\b(le|les|des|avec|est)\\b')) AS n_fr, "
            "CASE WHEN greatest(len(regexp_extract_all(text, '\\b(the|and|of|with)\\b')), len(regexp_extract_all(text, '\\b(el|la|los|las|con)\\b')), len(regexp_extract_all(text, '\\b(der|die|das|und|mit)\\b')), len(regexp_extract_all(text, '\\b(le|les|des|avec|est)\\b'))) = 0 THEN 'und' "
            "WHEN len(regexp_extract_all(text, '\\b(the|and|of|with)\\b')) = greatest(len(regexp_extract_all(text, '\\b(the|and|of|with)\\b')), len(regexp_extract_all(text, '\\b(el|la|los|las|con)\\b')), len(regexp_extract_all(text, '\\b(der|die|das|und|mit)\\b')), len(regexp_extract_all(text, '\\b(le|les|des|avec|est)\\b'))) THEN 'en' "
            "WHEN len(regexp_extract_all(text, '\\b(el|la|los|las|con)\\b')) = greatest(len(regexp_extract_all(text, '\\b(el|la|los|las|con)\\b')), len(regexp_extract_all(text, '\\b(der|die|das|und|mit)\\b')), len(regexp_extract_all(text, '\\b(le|les|des|avec|est)\\b'))) THEN 'es' "
            "WHEN len(regexp_extract_all(text, '\\b(der|die|das|und|mit)\\b')) = greatest(len(regexp_extract_all(text, '\\b(der|die|das|und|mit)\\b')), len(regexp_extract_all(text, '\\b(le|les|des|avec|est)\\b'))) THEN 'de' "
            "ELSE 'fr' END AS lang_pred FROM documents",
        "doc_ngram_jaccard":
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t "
            "FROM documents), "
            "sh0 AS (SELECT DISTINCT doc_id, "
            "t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle "
            "FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)), "
            # mirror Spark's max_df=10000 stop-shingle guard exactly
            "sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN "
            "(SELECT shingle FROM sh0 GROUP BY shingle "
            "HAVING count(*) <= 10000) g USING (shingle)), "
            "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
            "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "count(*) AS inter_size FROM sh a JOIN sh b ON a.shingle = b.shingle "
            "AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT doc_a, doc_b, inter_size, "
            "round(inter_size * 1.0 / (sa.sz + sb.sz - inter_size), 4) AS jaccard "
            "FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id "
            "JOIN sizes sb ON inter.doc_b = sb.doc_id "
            "WHERE inter_size * 1.0 / (sa.sz + sb.sz - inter_size) >= 0.2",
        # LSH candidates verified with exact Jaccard (bands=16, 1 row/band:
        # P(miss | j >= 0.5) <= 1.6e-5) == the pair-exhaustive j >= 0.5 set
        "doc_minhash_lsh":
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t "
            "FROM documents), "
            "sh AS (SELECT DISTINCT doc_id, "
            "t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle "
            "FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)), "
            "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
            "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "count(*) AS inter_size FROM sh a JOIN sh b ON a.shingle = b.shingle "
            "AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT doc_a, doc_b, "
            "round(inter_size * 1.0 / (sa.sz + sb.sz - inter_size), 4) AS jaccard "
            "FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id "
            "JOIN sizes sb ON inter.doc_b = sb.doc_id "
            "WHERE inter_size * 1.0 / (sa.sz + sb.sz - inter_size) >= 0.5",
        # the 60-bit signature hash is ('0x'||substr(md5(tok),1,15))::UBIGINT
        # in BOTH engines; the oracle recomputes signatures and checks ALL
        # pairs, so it also proves the chunk blocking is radius-complete
        "doc_simhash_pairs":
            "WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok "
            "FROM documents), "
            "h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::UBIGINT AS h "
            "FROM toks WHERE tok != ''), "
            "bits AS (SELECT doc_id, b.bit, "
            "sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s "
            "FROM h CROSS JOIN (SELECT unnest(range(60)) AS bit) b "
            "GROUP BY doc_id, b.bit), "
            "sig AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN "
            "(1::UBIGINT << bit) ELSE 0::UBIGINT END)::UBIGINT AS simhash "
            "FROM bits GROUP BY doc_id) "
            "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "bit_count(xor(a.simhash, b.simhash)) AS hamming "
            "FROM sig a JOIN sig b ON a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3",
        # IVF: identical cell assignment + probing from the committed
        # codebook in both engines → identical candidates and top-k
        "ann_ivf_topk":
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
            f"cen AS (SELECT centroid_id, c FROM read_parquet('{CENTROIDS}')), "
            "ac AS (SELECT vec_id, centroid_id, "
            "-(list_dot_product(v, c) / (sqrt(list_dot_product(v, v)) * "
            "sqrt(list_dot_product(c, c)))) AS nd FROM e CROSS JOIN cen), "
            "cells AS (SELECT vec_id, centroid_id AS cell FROM ("
            "SELECT *, row_number() OVER (PARTITION BY vec_id "
            "ORDER BY nd, centroid_id) AS rn FROM ac) WHERE rn = 1), "
            "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10), "
            "probes AS (SELECT query_id, centroid_id AS cell FROM ("
            "SELECT q.query_id, cen.centroid_id, "
            "row_number() OVER (PARTITION BY q.query_id ORDER BY "
            "(list_dot_product(q.qv, cen.c) / (sqrt(list_dot_product(q.qv, q.qv)) "
            "* sqrt(list_dot_product(cen.c, cen.c)))) DESC, centroid_id) AS r "
            "FROM q CROSS JOIN cen) WHERE r <= 4), "
            "cand AS (SELECT DISTINCT p.query_id, cl.vec_id AS neighbor_id "
            "FROM probes p JOIN cells cl ON p.cell = cl.cell "
            "WHERE cl.vec_id != p.query_id), "
            "scored AS (SELECT c.query_id, c.neighbor_id, "
            "round(list_dot_product(q.qv, e.v) / "
            "(sqrt(list_dot_product(q.qv, q.qv)) * "
            "sqrt(list_dot_product(e.v, e.v))), 4) AS cos_sim "
            "FROM cand c JOIN q ON c.query_id = q.query_id "
            "JOIN e ON c.neighbor_id = e.vec_id) "
            "SELECT query_id, neighbor_id, cos_sim, rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) "
            "WHERE rank <= 5",
        # embedding-cosine near-dup: both engines derive identical LSH
        # buckets from the committed plane table; exact cosine verified
        "doc_embedding_neardup":
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
            f"pt AS (SELECT table_id, list(w ORDER BY plane_id) AS ws "
            f"FROM read_parquet('{PLANES}') GROUP BY table_id), "
            "sig AS (SELECT vec_id, 't' || table_id || ':' || "
            "array_to_string(list_transform(ws, w -> CASE WHEN "
            "list_dot_product(v, w) > 0 THEN '1' ELSE '0' END), '') AS bucket "
            "FROM e CROSS JOIN pt), "
            "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b "
            "FROM sig a JOIN sig b USING (bucket) WHERE a.vec_id < b.vec_id) "
            "SELECT id_a, id_b, round(list_dot_product(ea.v, eb.v) / "
            "(sqrt(list_dot_product(ea.v, ea.v)) * "
            "sqrt(list_dot_product(eb.v, eb.v))), 4) AS cos_sim "
            "FROM cand JOIN e ea ON cand.id_a = ea.vec_id "
            "JOIN e eb ON cand.id_b = eb.vec_id "
            "WHERE list_dot_product(ea.v, eb.v) / "
            "(sqrt(list_dot_product(ea.v, ea.v)) * "
            "sqrt(list_dot_product(eb.v, eb.v))) >= 0.4",
        # both engines read the SAME committed hyperplane table and derive
        # identical buckets → identical candidates → identical top-k
        "ann_lsh_topk":
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
            f"pt AS (SELECT table_id, list(w ORDER BY plane_id) AS ws "
            f"FROM read_parquet('{PLANES}') GROUP BY table_id), "
            "sig AS (SELECT vec_id, 't' || table_id || ':' || "
            "array_to_string(list_transform(ws, w -> CASE WHEN "
            "list_dot_product(v, w) > 0 THEN '1' ELSE '0' END), '') AS bucket "
            "FROM e CROSS JOIN pt), "
            "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10), "
            "qs AS (SELECT vec_id AS query_id, bucket FROM sig WHERE vec_id < 10), "
            "cand AS (SELECT DISTINCT qs.query_id, s.vec_id AS neighbor_id "
            "FROM qs JOIN sig s USING (bucket) WHERE s.vec_id != qs.query_id), "
            "scored AS (SELECT c.query_id, c.neighbor_id, "
            "round(list_dot_product(q.qv, e.v) / "
            "(sqrt(list_dot_product(q.qv, q.qv)) * "
            "sqrt(list_dot_product(e.v, e.v))), 4) AS cos_sim "
            "FROM cand c JOIN q ON c.query_id = q.query_id "
            "JOIN e ON c.neighbor_id = e.vec_id) "
            "SELECT query_id, neighbor_id, cos_sim, rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) "
            "WHERE rank <= 5",
        "ann_cosine_topk":
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
            "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10), "
            "scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
            "round(list_dot_product(q.qv, e.v) / "
            "(sqrt(list_dot_product(q.qv, q.qv)) * "
            "sqrt(list_dot_product(e.v, e.v))), 4) AS cos_sim "
            "FROM e CROSS JOIN q WHERE e.vec_id != q.query_id) "
            "SELECT query_id, neighbor_id, cos_sim, rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) "
            "WHERE rank <= 5",
        "multimodal_features":
            "SELECT doc_id, octet_length(encode(text)) AS byte_len, "
            "substr(md5(substr(text, 1, 16)), 1, 8) AS header_hash, "
            "'text/plain' AS modality FROM documents",
        "events_sessions":
            "WITH o AS (SELECT user_id, ts, value, "
            "CASE WHEN lag(ts) OVER w IS NULL OR "
            "epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)), "
            "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id "
            "ORDER BY ts, value ROWS UNBOUNDED PRECEDING) AS sid FROM o) "
            "SELECT user_id, "
            "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, "
            "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end, "
            "count(*) AS n_events, "
            "sum(value::DECIMAL(18,4))::DOUBLE AS sum_value "
            "FROM s GROUP BY user_id, sid",
        "events_hourly":
            "SELECT user_id, strftime(date_trunc('hour', ts), "
            "'%Y-%m-%d %H:00:00') AS hour, count(*) AS n_events, "
            "sum(value::DECIMAL(18,4))::DOUBLE AS sum_value FROM events "
            "GROUP BY 1, 2",
        "agg_pricing_summary":
            "SELECT l_returnflag, l_linestatus, "
            "sum(l_quantity::DECIMAL(18,4))::DOUBLE AS sum_qty, "
            "sum(l_extendedprice::DECIMAL(18,4))::DOUBLE AS sum_base_price, "
            "sum((l_extendedprice::DECIMAL(18,4) * "
            "(1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(28,8))"
            "::DOUBLE AS sum_disc_price, count(*) AS count_order "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus",
        "join_revenue_by_nation":
            "SELECT n_name, sum(o_totalprice::DECIMAL(18,4))::DOUBLE AS revenue, "
            "count(*) AS n_orders FROM orders "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
    }
    # the materialized-layout IVF provably returns the in-memory ivf_topk
    # result (tests/test_entry_oracle.py) — same oracle applies
    sql["ann_ivf_materialized"] = sql["ann_ivf_topk"]
    return sql
