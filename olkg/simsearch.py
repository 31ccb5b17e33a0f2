"""Similarity search over an embedding column (array<float|double>).

Brute-force cosine top-k is the verifiable baseline (dot products in native
``aggregate``/``zip_with`` expressions — JVM-side, no Python); the LSH-bucketed
variant is the scale path: random-hyperplane signatures shrink the candidate
set from N to a bucket, turning the O(N·Q) cross join into a bucket-partitioned
join.

Top-k is computed in TWO PHASES: a per-partition partial top-k (window over
(query_id, partition)) bounds every shuffle key's payload to |partitions|·k
rows before the global per-query rank — no single-reducer straggler when one
query scores the whole corpus.

The hyperplanes are a (table_id, plane_id, w: array<double>) table
(:func:`lsh_signatures_from_planes`; the queries pass the committed
``data/hyperplanes.parquet``), so an independent engine given the same table
computes the identical buckets.

Every function reads the embeddings as ``vec_id`` and ``embedding`` columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Two-phase deterministic top-k of ``scored(query_id, neighbor_id,
    cos_sim)``: phase 1 ranks within (query_id, input partition) — a shuffle
    whose keys are spread |partitions|-wide, never one reducer per query —
    and keeps k per partition; phase 2 ranks the surviving
    |partitions|·k rows per query.  Ties broken by neighbor_id, so the
    result equals a single global rank."""
    order = [F.col("cos_sim").desc(), F.col("neighbor_id")]
    w_local = Window.partitionBy("query_id", "_pid").orderBy(*order)
    w_global = Window.partitionBy("query_id").orderBy(*order)
    return (scored
            .withColumn("_pid", F.spark_partition_id())
            .withColumn("_lr", F.row_number().over(w_local))
            .filter(F.col("_lr") <= k)
            .withColumn("rank", F.row_number().over(w_global))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def cosine_topk_bruteforce(embeddings: DataFrame, query_ids: list[int],
                           k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query id against the full table.
    (query_id, neighbor_id, cos_sim rounded to 4dp, rank).  The query side is
    tiny → broadcast; the corpus side streams, so this scales with corpus
    size × |queries| and never shuffles the corpus (only the per-partition
    partial top-k survivors)."""
    # norms are per-VECTOR quantities: evaluate each once at the scan
    # (identical expression → identical double) instead of once per
    # (query, neighbor) pair — cuts the per-pair array passes 3× (guide
    # §1.2 "per-task work")
    q = (embeddings.filter(F.col("vec_id").isin(query_ids))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv"),
                 _norm(F.col("embedding")).alias("qn")))
    c = embeddings.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("embedding").alias("cv"),
                          _norm(F.col("embedding")).alias("cn"))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id"))
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = pairs.select("query_id", "neighbor_id",
                          F.round(sim, 4).alias("cos_sim"))
    return _topk_per_query(scored, k)


def _score_topk(embeddings: DataFrame, cand: DataFrame,
                query_ids: list[int], k: int) -> DataFrame:
    """Exact cosine over the candidate ``(query_id, neighbor_id)`` pairs,
    then :func:`_topk_per_query`.  The candidates attach the corpus vectors
    by a join and the (tiny) query vectors by a broadcast; both norms are
    evaluated once per vector row, not once per pair (identical expressions
    → identical doubles)."""
    q = (embeddings.filter(F.col("vec_id").isin(query_ids))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv"),
                 _norm(F.col("embedding")).alias("qn")))
    c = embeddings.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("embedding").alias("cv"),
                          _norm(F.col("embedding")).alias("cn"))
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (cand.join(c, "neighbor_id").join(F.broadcast(q), "query_id")
              .select("query_id", "neighbor_id",
                      F.round(sim, 4).alias("cos_sim")))
    return _topk_per_query(scored, k)


def lsh_signatures_from_planes(embeddings: DataFrame, planes: DataFrame,
                               with_vec: bool = False) -> DataFrame:
    """(id, bucket) from an explicit hyperplane table (table_id, plane_id,
    w: array<double>): multi-table random-hyperplane LSH (OR-construction),
    one bucket per table and vector.  The plane table is tiny (tables ×
    planes rows) → broadcast; bits are computed per row with nested array
    expressions, no extra shuffle.  Any engine reading the same table
    derives the identical buckets — the cross-engine-verifiable LSH path.

    ``with_vec=True`` additionally carries the vector (``v``) and its
    precomputed L2 norm (``vn``) on each signature row, so a downstream
    bucket self-join can score pairs inline without re-joining the
    embedding table (the norm is the identical ``_norm`` expression over
    the identical vector — same double, computed once per signature row
    instead of once per candidate pair)."""
    per_table = (planes
                 .groupBy("table_id")
                 .agg(F.array_sort(F.collect_list(F.struct("plane_id", "w")))
                      .alias("pw"))
                 .select("table_id",
                         F.transform("pw", lambda x: x["w"]).alias("ws")))
    bits = F.transform(
        "ws",
        lambda w: F.when(_dot(F.col("embedding"), w) > 0, F.lit("1"))
                   .otherwise(F.lit("0")))
    out = [F.col("vec_id").alias("id"),
           F.concat(F.lit("t"), F.col("table_id").cast("string"),
                    F.lit(":"), F.array_join(bits, "")).alias("bucket")]
    if with_vec:
        out += [F.col("embedding").alias("v"),
                _norm(F.col("embedding")).alias("vn")]
    return embeddings.crossJoin(F.broadcast(per_table)).select(*out)


def cosine_topk_lsh(embeddings: DataFrame, planes: DataFrame,
                    query_ids: list[int], k: int = 5) -> DataFrame:
    """ANN top-k: restrict the brute-force scoring to same-bucket candidates
    across the LSH tables of the ``planes`` table.  Same schema as the
    brute-force variant; recall < 1 by design."""
    sig = lsh_signatures_from_planes(embeddings, planes)
    # candidate (query, neighbor) pairs dedup as two LONGS; the previous
    # shape attached both vectors first and then ran distinct over rows
    # whose grouping keys included two 64-double arrays (an
    # ObjectHashAggregate over array keys), and recomputed both norms per
    # pair.  The candidate set is identical: (qv, cv) are functionally
    # determined by the ids, so distinct-on-ids ≡ distinct-on-ids+vectors.
    q_sig = (sig.filter(F.col("id").isin(query_ids))
             .select(F.col("id").alias("query_id"), "bucket"))
    cand = (sig.join(F.broadcast(q_sig), "bucket")
            .filter(F.col("id") != F.col("query_id"))
            .select("query_id", F.col("id").alias("neighbor_id"))
            .distinct())
    return _score_topk(embeddings, cand, query_ids, k)


def embedding_near_dup_pairs(embeddings: DataFrame, planes: DataFrame,
                             threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket candidate
    generation (shared hyperplane table → bucket set reproducible in any
    engine) + exact cosine verification — (id_a, id_b, cos_sim) for
    same-bucket pairs with cosine ≥ threshold.

    The threshold compares the unrounded cosine (rounding is display-only).
    Candidate cost is bucket-quadratic, not corpus-quadratic: the bucket
    join shuffles on the bucket key, so skewed buckets are the thing to
    watch — fewer planes per table widen buckets, more tables raise
    recall."""
    # signatures carry the vector + its precomputed norm through the ONE
    # bucket self-join, so pairs are scored inline as they stream out of
    # the join — no candidate-distinct over ~bucket-quadratic pair rows and
    # no re-attach joins against the embedding table; the only remaining
    # distinct runs over the threshold SURVIVORS (near-dup pairs, tiny).
    # A pair sharing several buckets is scored once per shared bucket, but
    # each scoring is the identical arithmetic on the identical vectors →
    # identical row, collapsed by the final distinct; sim per pair and the
    # surviving pair set are unchanged.
    sig = lsh_signatures_from_planes(embeddings, planes, with_vec=True)
    # materialize the signature relation ONCE per invocation: the self-join
    # references it on both sides and (collect_list in the per-table plane
    # aggregation being flagged nondeterministic) the planner never reuses
    # the subtree, so without this every query computed all hyperplane dots
    # and scanned the corpus twice.  localCheckpoint (MEMORY_AND_DISK,
    # lineage-truncating, released with the DataFrame) is write-once /
    # read-twice — measured ~40% off the query at bench sf1.0; at corpus
    # scale the same trade holds (two extra full scans + signature passes
    # cost more than one spill-safe materialization of id+bucket+vec rows).
    # Recomputed fresh on every call — nothing persists across invocations.
    sig = sig.localCheckpoint()
    a = sig.select(F.col("id").alias("id_a"), "bucket",
                   F.col("v").alias("va"), F.col("vn").alias("na"))
    b = sig.select(F.col("id").alias("id_b"), "bucket",
                   F.col("v").alias("vb"), F.col("vn").alias("nb"))
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (a.join(b, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(sim >= threshold)
            .select("id_a", "id_b", F.round(sim, 4).alias("cos_sim"))
            .distinct())


# --- IVF (coarse-quantizer) ANN -------------------------------------------

def ivf_assignments(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, cell): assign every vector to its max-cosine centroid from the
    committed codebook (ties → lowest centroid_id, deterministic).  The
    codebook is tiny → broadcast; assignment is one narrow pass + a groupBy
    argmin whose shuffle carries one row per vector."""
    # both norms are per-vector/per-centroid quantities: evaluate them once
    # per row (corpus side) / once per codebook row (broadcast side) instead
    # of once per (vector × centroid) combination — identical expressions on
    # identical inputs, so the cosine (and the argmin cell) are unchanged
    cj = (embeddings.withColumn("_vn", _norm(F.col("embedding")))
          .crossJoin(F.broadcast(
              centroids.select("centroid_id", "c",
                               _norm(F.col("c")).alias("_cn")))))
    neg = -(_dot(F.col("embedding"), F.col("c")) /
            (F.col("_vn") * F.col("_cn")))
    return (cj.groupBy(F.col("vec_id").alias("id"))
            .agg(F.min(F.struct(neg.alias("nd"),
                                F.col("centroid_id").alias("cid"))).alias("m"))
            .select("id", F.col("m.cid").alias("cell")))


def ivf_topk(embeddings: DataFrame, centroids: DataFrame,
             query_ids: list[int], k: int = 5, nprobe: int = 4) -> DataFrame:
    """IVF ANN top-k: score only vectors whose cell is among each query's
    ``nprobe`` nearest centroids.  Same output schema as the other top-k
    variants; recall < 1 by design (traded against scanning ~nprobe/k_cells
    of the corpus).  At scale the assignment is computed once offline and
    the corpus is laid out cell-partitioned, so a query touches only its
    probed cells' files."""
    cells = ivf_assignments(embeddings, centroids)

    q = (embeddings.filter(F.col("vec_id").isin(query_ids))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv")))
    qc = q.crossJoin(F.broadcast(centroids.select("centroid_id", "c")))
    qcos = (_dot(F.col("qv"), F.col("c")) /
            (_norm(F.col("qv")) * _norm(F.col("c"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("centroid_id"))
    probes = (qc.select("query_id", "centroid_id", qcos.alias("qcos"))
              .withColumn("r", F.row_number().over(w))
              .filter(F.col("r") <= nprobe)
              .select("query_id", F.col("centroid_id").alias("cell")))

    cand = (cells.join(F.broadcast(probes), "cell")
            .filter(F.col("id") != F.col("query_id"))
            .select("query_id", F.col("id").alias("neighbor_id")))
    return _score_topk(embeddings, cand, query_ids, k)


def ivf_materialize(embeddings: DataFrame, centroids: DataFrame,
                    path: str) -> None:
    """Materialize the corpus CELL-PARTITIONED: one parquet partition
    directory per IVF cell (``cell=<centroid_id>/``), so a probe read scans
    only the probed cells' files — the at-scale IVF layout the in-memory
    :func:`ivf_topk` docstring promises.  Assignment runs once here
    (offline, one shuffle); every later query pays I/O proportional to
    nprobe/k_cells of the corpus, enforced by parquet partition pruning
    (asserted in tests/test_entry_oracle.py).

    Both writes rebalance first, so a cell directory gets one file per
    ~advisory-partition-size of its rows instead of one per reduce
    partition that held any of its rows (16 cells x 32 partitions wrote
    538 files for 2,000 vectors, each listed and opened by every probe).
    A rebalance, not ``repartition("cell")``: AQE still splits a skewed
    cell across several files."""
    cells = ivf_assignments(embeddings, centroids).persist()
    (embeddings
     .join(cells, embeddings["vec_id"] == cells["id"])
     .drop("id")
     .hint("rebalance", "cell")
     .write.mode("overwrite").partitionBy("cell").parquet(path))
    # id→cell index (two longs per vector, ~1/1000th of the corpus bytes):
    # written under an underscore-prefixed subdirectory so the corpus
    # partition discovery ignores it.  It lets a query-BY-ID lookup read
    # only the queried ids' home cells instead of scanning every cell's
    # files for 10 rows — without it, the query fetch alone would touch
    # the whole corpus at 100 TB.
    cells.hint("rebalance").write.mode("overwrite").parquet(path + "/_ids")
    cells.unpersist()


def ivf_topk_materialized(corpus: DataFrame, ids_index: DataFrame,
                          centroids: DataFrame, query_ids: list[int],
                          k: int = 5, nprobe: int = 4) -> DataFrame:
    """IVF top-k against a cell-partitioned corpus written by
    :func:`ivf_materialize` — identical results to :func:`ivf_topk` on the
    same codebook (tested), and EVERY read of the corpus prunes to cell
    directories (partition pruning on the ``cell`` column):

    - candidate scoring reads only the probed cells' files;
    - the query vectors are fetched by ``query_ids`` via the tiny ``_ids``
      index ``ivf_materialize`` writes alongside, which maps each queried
      id to its home cell so the vector fetch reads ≤ |queries| cell
      directories — never a full scan.

    ``corpus`` and ``ids_index`` are the layout's two reads
    (``spark.read.parquet(path)`` and ``path + "/_ids"``), opened once by
    the caller and kept across queries (a serving layer persists the
    index): that skips the per-call parquet directory listing and schema
    inference, which otherwise dominate small-query latency.

    The probed-cell list (≤ |queries|·nprobe ints) is collected to the
    driver to become a partition-pruning predicate — that is the point of
    the layout, not a driver-side compute loop.  The query pays exactly TWO
    driver round-trips before the scoring job: the ``_ids`` lookup, then
    one combined job that reads the queries' home cells, selects each
    query's probed cells, and AGGREGATES to one row per query (vector +
    probed-cell list) before collecting — driver transfer is
    |queries|·dim + |queries|·nprobe ints, never the vector × nprobe.
    (A one-round-trip DPP variant measured slower; see the inline note.)"""
    from pyspark.sql import types as T
    spark = corpus.sparkSession
    qc_cols = F.broadcast(centroids.select("centroid_id", "c"))
    qcos = (_dot(F.col("qv"), F.col("c")) /
            (_norm(F.col("qv")) * _norm(F.col("c"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("centroid_id"))
    # Two driver round-trips before scoring: the tiny ``_ids`` lookup
    # (against the persisted index a serving layer keeps in memory), then
    # the combined fetch+probe job.  A single-round-trip variant —
    # broadcast-joining the filtered index against the corpus so dynamic
    # partition pruning carries the home-cell list — was built and
    # A/B-measured in round 7: DPP does fire, but the subquery
    # planning+broadcast costs MORE than the collect it replaces at every
    # tested scale (first call ~2.8× worse), so the explicit literal prune
    # stays (OPTIMIZATION_r07.md).
    qcells = [r.cell for r in (ids_index.filter(F.col("id").isin(query_ids))
                               .select("cell").distinct().collect())]
    qv_src = (corpus.filter(F.col("cell").isin(qcells))
              .filter(F.col("vec_id").isin(query_ids))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("qv")))
    picked = (qv_src.crossJoin(qc_cols)
              .select("query_id", "qv", "centroid_id", qcos.alias("qcos"))
              .withColumn("r", F.row_number().over(w))
              .filter(F.col("r") <= nprobe)
              .groupBy("query_id")
              .agg(F.first("qv").alias("qv"),
                   F.sort_array(F.collect_list("centroid_id")).alias("cells"))
              .collect())
    id_f = qv_src.schema["query_id"]
    vec_f = qv_src.schema["qv"]
    cell_t = centroids.schema["centroid_id"].dataType
    probe_cells = sorted({c for r in picked for c in r.cells})
    probes = spark.createDataFrame(
        [(r.query_id, c) for r in picked for c in r.cells],
        T.StructType([id_f, T.StructField("cell", cell_t)]))
    q = spark.createDataFrame([(r.query_id, r.qv) for r in picked],
                              T.StructType([id_f, vec_f]))

    # per-vector norms once at the scan / once per query row, not once per
    # candidate pair (identical expressions → identical doubles)
    pruned = (corpus.filter(F.col("cell").isin(probe_cells))
              .withColumn("_cn", _norm(F.col("embedding"))))
    cand = (pruned.join(F.broadcast(probes), "cell")
            .filter(F.col("vec_id") != F.col("query_id")))
    sim = (_dot(F.col("qv"), F.col("embedding")) /
           (F.col("_qn") * F.col("_cn")))
    scored = (cand.join(F.broadcast(
                  q.withColumn("_qn", _norm(F.col("qv")))), "query_id")
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.round(sim, 4).alias("cos_sim")))
    return _topk_per_query(scored, k)
