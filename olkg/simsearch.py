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

Hyperplanes come in two flavors:
- :func:`lsh_signatures` derives ±1 weights from xxhash64 — self-contained,
  reproducible, Spark-only;
- :func:`lsh_signatures_from_planes` reads the weights from a (table_id,
  plane_id, w: array<double>) table, so an independent engine given the same
  table computes the identical buckets — this is the oracle-checkable path.
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
                           k: int = 5, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query id against the full table.
    (query_id, neighbor_id, cos_sim rounded to 4dp, rank).  The query side is
    tiny → broadcast; the corpus side streams, so this scales with corpus
    size × |queries| and never shuffles the corpus (only the per-partition
    partial top-k survivors)."""
    # norms are per-VECTOR quantities: evaluate each once at the scan
    # (identical expression → identical double) instead of once per
    # (query, neighbor) pair — cuts the per-pair array passes 3× (guide
    # §1.2 "per-task work")
    q = (embeddings.filter(F.col(id_col).isin(query_ids))
         .select(F.col(id_col).alias("query_id"),
                 F.col(vec_col).alias("qv"),
                 _norm(F.col(vec_col)).alias("qn")))
    c = embeddings.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("cv"),
                          _norm(F.col(vec_col)).alias("cn"))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id"))
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = pairs.select("query_id", "neighbor_id",
                          F.round(sim, 4).alias("cos_sim"))
    return _topk_per_query(scored, k)


def _hyperplane_sign(vec_col, plane: int):
    """Deterministic pseudo-random hyperplane: component j's weight is ±1 by
    parity of xxhash64(plane, j); sign of <v, h> is the signature bit.
    The weight array is sized per row from the vector itself — no driver-side
    dimension sniff."""
    weights = F.transform(
        F.sequence(F.lit(0), F.size(vec_col) - 1),
        lambda j: F.when(
            F.pmod(F.xxhash64(F.concat(F.lit(f"p{plane}|"),
                                       j.cast("string"))), F.lit(2)) == 0,
            F.lit(1.0)).otherwise(F.lit(-1.0)))
    return (_dot(vec_col, weights) > 0).cast("int")


def lsh_signatures(embeddings: DataFrame, num_planes: int = 8,
                   num_tables: int = 4, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(id, bucket): multi-table random-hyperplane LSH (OR-construction).
    Each of ``num_tables`` tables hashes with its own ``num_planes``
    hyperplanes; a vector emits one bucket per table, and any shared bucket
    makes a candidate pair — the standard recall/selectivity trade."""
    buckets = []
    for t in range(num_tables):
        bits = [_hyperplane_sign(F.col(vec_col), t * 1000 + p)
                .cast("string") for p in range(num_planes)]
        buckets.append(F.concat_ws("", F.lit(f"t{t}:"), *bits))
    return embeddings.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(*buckets)).alias("bucket"))


def lsh_signatures_from_planes(embeddings: DataFrame, planes: DataFrame,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               with_vec: bool = False) -> DataFrame:
    """(id, bucket) from an explicit hyperplane table (table_id, plane_id,
    w: array<double>).  The plane table is tiny (tables × planes rows) →
    broadcast; bits are computed per row with nested array expressions, no
    extra shuffle.  Any engine reading the same table derives the identical
    buckets — the cross-engine-verifiable LSH path.

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
        lambda w: F.when(_dot(F.col(vec_col), w) > 0, F.lit("1"))
                   .otherwise(F.lit("0")))
    out = [F.col(id_col).alias("id"),
           F.concat(F.lit("t"), F.col("table_id").cast("string"),
                    F.lit(":"), F.array_join(bits, "")).alias("bucket")]
    if with_vec:
        out += [F.col(vec_col).alias("v"), _norm(F.col(vec_col)).alias("vn")]
    return embeddings.crossJoin(F.broadcast(per_table)).select(*out)


def _topk_from_signatures(embeddings: DataFrame, sig: DataFrame,
                          query_ids: list[int], k: int,
                          id_col: str, vec_col: str) -> DataFrame:
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
    q = (embeddings.filter(F.col(id_col).isin(query_ids))
         .select(F.col(id_col).alias("query_id"),
                 F.col(vec_col).alias("qv"),
                 _norm(F.col(vec_col)).alias("qn")))
    c = embeddings.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("cv"),
                          _norm(F.col(vec_col)).alias("cn"))
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (cand.join(c, "neighbor_id").join(F.broadcast(q), "query_id")
              .select("query_id", "neighbor_id",
                      F.round(sim, 4).alias("cos_sim")))
    return _topk_per_query(scored, k)


def cosine_topk_lsh(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                    num_planes: int = 8, num_tables: int = 4,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    planes: DataFrame | None = None) -> DataFrame:
    """ANN top-k: restrict the brute-force scoring to same-bucket candidates
    across the LSH tables.  Same schema as the brute-force variant;
    recall < 1 by design (tested against brute force).  Pass ``planes`` (a
    (table_id, plane_id, w) table) for the cross-engine-verifiable variant;
    otherwise hyperplanes derive from xxhash64."""
    if planes is not None:
        sig = lsh_signatures_from_planes(embeddings, planes, id_col, vec_col)
    else:
        sig = lsh_signatures(embeddings, num_planes, num_tables, id_col,
                             vec_col)
    return _topk_from_signatures(embeddings, sig, query_ids, k, id_col,
                                 vec_col)


def embedding_near_dup_pairs(embeddings: DataFrame, planes: DataFrame,
                             threshold: float = 0.9,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket candidate
    generation (shared hyperplane table → bucket set reproducible in any
    engine) + exact cosine verification — (id_a, id_b, cos_sim) for
    same-bucket pairs with cosine ≥ threshold.

    The threshold compares the unrounded cosine (rounding is display-only).
    Candidate cost is bucket-quadratic, not corpus-quadratic: the bucket
    join shuffles on the bucket key, so skewed buckets are the thing to
    watch — lower num_planes widens buckets, more tables raises recall."""
    # signatures carry the vector + its precomputed norm through the ONE
    # bucket self-join, so pairs are scored inline as they stream out of
    # the join — no candidate-distinct over ~bucket-quadratic pair rows and
    # no re-attach joins against the embedding table; the only remaining
    # distinct runs over the threshold SURVIVORS (near-dup pairs, tiny).
    # A pair sharing several buckets is scored once per shared bucket, but
    # each scoring is the identical arithmetic on the identical vectors →
    # identical row, collapsed by the final distinct; sim per pair and the
    # surviving pair set are unchanged.
    sig = lsh_signatures_from_planes(embeddings, planes, id_col, vec_col,
                                     with_vec=True)
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

def ivf_assignments(embeddings: DataFrame, centroids: DataFrame,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """(id, cell): assign every vector to its max-cosine centroid from the
    committed codebook (ties → lowest centroid_id, deterministic).  The
    codebook is tiny → broadcast; assignment is one narrow pass + a groupBy
    argmin whose shuffle carries one row per vector."""
    # both norms are per-vector/per-centroid quantities: evaluate them once
    # per row (corpus side) / once per codebook row (broadcast side) instead
    # of once per (vector × centroid) combination — identical expressions on
    # identical inputs, so the cosine (and the argmin cell) are unchanged
    cj = (embeddings.withColumn("_vn", _norm(F.col(vec_col)))
          .crossJoin(F.broadcast(
              centroids.select("centroid_id", "c",
                               _norm(F.col("c")).alias("_cn")))))
    neg = -(_dot(F.col(vec_col), F.col("c")) /
            (F.col("_vn") * F.col("_cn")))
    return (cj.groupBy(F.col(id_col).alias("id"))
            .agg(F.min(F.struct(neg.alias("nd"),
                                F.col("centroid_id").alias("cid"))).alias("m"))
            .select("id", F.col("m.cid").alias("cell")))


def ivf_topk(embeddings: DataFrame, centroids: DataFrame,
             query_ids: list[int], k: int = 5, nprobe: int = 4,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF ANN top-k: score only vectors whose cell is among each query's
    ``nprobe`` nearest centroids.  Same output schema as the other top-k
    variants; recall < 1 by design (traded against scanning ~nprobe/k_cells
    of the corpus).  At scale the assignment is computed once offline and
    the corpus is laid out cell-partitioned, so a query touches only its
    probed cells' files."""
    cells = ivf_assignments(embeddings, centroids, id_col, vec_col)

    q = (embeddings.filter(F.col(id_col).isin(query_ids))
         .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")))
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
    # per-vector norms once at the scan, not once per candidate pair
    c = embeddings.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("cv"),
                          _norm(F.col(vec_col)).alias("cn"))
    qn = q.withColumn("qn", _norm(F.col("qv")))
    scored = (cand.join(c, "neighbor_id").join(F.broadcast(qn), "query_id"))
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    return _topk_per_query(
        scored.select("query_id", "neighbor_id",
                      F.round(sim, 4).alias("cos_sim")), k)


def ivf_materialize(embeddings: DataFrame, centroids: DataFrame, path: str,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
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
    cells = ivf_assignments(embeddings, centroids, id_col, vec_col).persist()
    (embeddings
     .join(cells, embeddings[id_col] == cells["id"])
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


def ivf_topk_materialized(spark, corpus_path: str, centroids: DataFrame,
                          query_ids: list[int] | None = None,
                          k: int = 5, nprobe: int = 4,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          queries: DataFrame | None = None,
                          corpus: DataFrame | None = None,
                          ids_index: DataFrame | None = None) -> DataFrame:
    """IVF top-k against a cell-partitioned corpus written by
    :func:`ivf_materialize` — identical results to :func:`ivf_topk` on the
    same codebook (tested), and EVERY read of the corpus prunes to cell
    directories (partition pruning on the ``cell`` column):

    - candidate scoring reads only the probed cells' files;
    - the query vectors come either from an explicit ``queries`` DataFrame
      (``id_col``, ``vec_col`` — the realistic serving API, queries are
      usually not corpus rows and the corpus is never touched for them), or
      by ``query_ids`` via the tiny ``_ids`` index ``ivf_materialize``
      writes alongside, which maps each queried id to its home cell so the
      vector fetch reads ≤ |queries| cell directories — never a full scan.

    The probed-cell list (≤ |queries|·nprobe ints) is collected to the
    driver to become a partition-pruning predicate — that is the point of
    the layout, not a driver-side compute loop.  The by-id path pays
    exactly TWO driver round-trips before the scoring job: the ``_ids``
    lookup, then one combined job that reads the queries' home cells,
    selects each query's probed cells, and AGGREGATES to one row per query
    (vector + probed-cell list) before collecting — driver transfer is
    |queries|·dim + |queries|·nprobe ints, never the vector × nprobe.
    (A one-round-trip DPP variant measured slower; see the inline note.)

    ``corpus`` / ``ids_index`` are optional pre-opened handles for the two
    layout reads (a serving layer keeps them persisted across queries):
    passing them skips the per-call parquet directory listing + schema
    inference, which otherwise dominates small-query latency.  Semantics
    are identical — they must simply be reads of ``corpus_path`` and
    ``corpus_path + "/_ids"``."""
    if queries is None and query_ids is None:
        raise ValueError(
            "ivf_topk_materialized: pass query_ids or a queries DataFrame")
    from pyspark.sql import types as T
    if corpus is None:
        corpus = spark.read.parquet(corpus_path)
    qc_cols = F.broadcast(centroids.select("centroid_id", "c"))
    qcos = (_dot(F.col("qv"), F.col("c")) /
            (_norm(F.col("qv")) * _norm(F.col("c"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("centroid_id"))
    if queries is not None:
        q = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("qv"))
        probes = (q.crossJoin(qc_cols)
                  .select("query_id", "centroid_id", qcos.alias("qcos"))
                  .withColumn("r", F.row_number().over(w))
                  .filter(F.col("r") <= nprobe)
                  .select("query_id", F.col("centroid_id").alias("cell")))
        probe_cells = [r.cell
                       for r in probes.select("cell").distinct().collect()]
    else:
        idx = (ids_index if ids_index is not None
               else spark.read.parquet(corpus_path + "/_ids"))
        # Two driver round-trips before scoring: the tiny ``_ids`` lookup
        # (against the persisted index a serving layer keeps in memory),
        # then the combined fetch+probe job.  A single-round-trip variant —
        # broadcast-joining the filtered index against the corpus so
        # dynamic partition pruning carries the home-cell list — was built
        # and A/B-measured in round 7: DPP does fire, but the subquery
        # planning+broadcast costs MORE than the collect it replaces at
        # every tested scale (first call ~2.8× worse), so the explicit
        # literal prune stays (OPTIMIZATION_r07.md).
        qcells = [r.cell for r in (idx.filter(F.col("id").isin(query_ids))
                                   .select("cell").distinct().collect())]
        qv_src = (corpus.filter(F.col("cell").isin(qcells))
                  .filter(F.col(id_col).isin(query_ids))
                  .select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("qv")))
        picked = (qv_src.crossJoin(qc_cols)
                  .select("query_id", "qv", "centroid_id",
                          qcos.alias("qcos"))
                  .withColumn("r", F.row_number().over(w))
                  .filter(F.col("r") <= nprobe)
                  .groupBy("query_id")
                  .agg(F.first("qv").alias("qv"),
                       F.sort_array(F.collect_list("centroid_id"))
                        .alias("cells"))
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
              .withColumn("_cn", _norm(F.col(vec_col))))
    cand = (pruned.join(F.broadcast(probes), "cell")
            .filter(F.col(id_col) != F.col("query_id")))
    sim = _dot(F.col("qv"), F.col(vec_col)) / (F.col("_qn") * F.col("_cn"))
    scored = (cand.join(F.broadcast(
                  q.withColumn("_qn", _norm(F.col("qv")))), "query_id")
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      F.round(sim, 4).alias("cos_sim")))
    return _topk_per_query(scored, k)
