"""End-to-end pipeline: extract → link → canonicalize → materialize.

Stage graph (each stage checkpointed, resumable — north_rule):

  pages ──extract(mapInPandas, narrow)──▶ extract/          [kind-partitioned]
        ──link(J1 salted shuffle + J2 broadcast)──▶ linked/
        ──canonicalize(A4 dedup + blocked CC)──▶ edges/ + canonical_map/
        ──materialize──▶ nodes/ + export.nt.gz + lineage/

Run:  python -m olkg.pipeline --pages <dir> --out <dir> [--lcsh-parquet <dir>]
      (spark-submit --py-files olkg.zip works the same way on a cluster)
"""

from __future__ import annotations

import argparse
import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio
from .canonicalize import (_EDGE_COLS, canonical_map, dedup_edges, plan_dedup,
                           release_checkpoint)
from .extract import extract_pages
from .fsio import pjoin
from .link import link_stage
from .materialize import (append_lineage, build_nodes, export_ntriples_gz,
                          read_stage, stage_complete, write_stage)


def run_pipeline(spark: SparkSession, pages_path: str, out_dir: str,
                 lcsh: DataFrame | None = None,
                 resume: bool = True,
                 hot_threshold: int = 100_000,
                 num_salts: int = 16,
                 repartition_by_url: int | None = None,
                 with_canonical_map: bool = True,
                 export_nt: bool = True) -> dict:
    """Returns a metrics dict (stage wall times, row counts, triples/sec)."""
    fsio.mkdirs(spark, out_dir)
    run_id = uuid.uuid4().hex[:12]
    metrics: dict = {"run_id": run_id, "stages": {}}
    t_total = time.time()

    # -- stage: extract ------------------------------------------------------
    if resume and stage_complete(out_dir, "extract"):
        metrics["stages"]["extract"] = {"skipped": True}
    else:
        t0 = time.time()
        pages = spark.read.parquet(pages_path)
        ext = extract_pages(pages, repartition_by_url=repartition_by_url)
        # kind-partitioned so downstream readers prune: the link stage reads
        # 'triple' + 3 small side kinds; audits read only 'page'
        write_stage(ext, out_dir, "extract", partition_by=["kind"])
        wall = int((time.time() - t0) * 1000)
        ext_ck = read_stage(spark, out_dir, "extract")
        append_lineage(spark, out_dir, run_id, "extract", ext_ck, wall)
        metrics["stages"]["extract"] = {"wall_ms": wall}

    extract_df = read_stage(spark, out_dir, "extract")

    # -- stage: link ---------------------------------------------------------
    if resume and stage_complete(out_dir, "linked"):
        metrics["stages"]["link"] = {"skipped": True}
    else:
        t0 = time.time()
        linked = link_stage(extract_df, lcsh, hot_threshold=hot_threshold,
                            num_salts=num_salts)
        write_stage(linked, out_dir, "linked")
        wall = int((time.time() - t0) * 1000)
        append_lineage(spark, out_dir, run_id, "linked",
                       read_stage(spark, out_dir, "linked"), wall)
        metrics["stages"]["link"] = {"wall_ms": wall}

    linked = read_stage(spark, out_dir, "linked")

    # -- stage: canonicalize (A4 dedup + entity resolution) -------------------
    if resume and stage_complete(out_dir, "edges"):
        metrics["stages"]["canonicalize"] = {"skipped": True}
    else:
        t0 = time.time()
        # the linked checkpoint is already materialized, so the dedup sizes
        # itself from EXACT numbers: a metadata-only parquet count and the
        # scan's task count (bytes / maxPartitionBytes)
        n_linked = linked.count()
        fs, p = fsio._hadoop_fs(spark, pjoin(out_dir, "linked"))
        linked_bytes = fs.getContentSummary(p).getLength()
        maxpb = _parse_size_bytes(spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"))
        n_tasks = max(1, -(-linked_bytes // maxpb))
        edges = dedup_edges(linked.select(*_EDGE_COLS),
                            est_total_rows=n_linked,
                            est_rows_per_task=n_linked / n_tasks)
        write_stage(edges, out_dir, "edges")
        wall = int((time.time() - t0) * 1000)
        append_lineage(spark, out_dir, run_id, "edges",
                       read_stage(spark, out_dir, "edges"), wall)
        metrics["stages"]["canonicalize"] = {"wall_ms": wall}

    edges = read_stage(spark, out_dir, "edges")

    if with_canonical_map and not (resume and stage_complete(out_dir, "canonical_map")):
        t0 = time.time()
        names = (extract_df.filter(F.col("kind") == "author_name")
                 .select(F.col("subj").alias("author_key"),
                         F.col("obj").alias("name")))
        # durable path: every CC step is one reliable checkpoint into the
        # stage directory (distributed storage on a cluster), so an executor
        # loss recovers from storage instead of recomputing the loop
        dropped: dict = {}
        cc_stats: dict = {}
        cmap = canonical_map(edges, names,
                             reliable_dir=pjoin(out_dir, "_cc_checkpoints"),
                             dropped_stats=dropped, cc_stats=cc_stats)
        write_stage(cmap, out_dir, "canonical_map")
        release_checkpoint(cmap)
        append_lineage(spark, out_dir, run_id, "canonical_map",
                       read_stage(spark, out_dir, "canonical_map"),
                       int((time.time() - t0) * 1000))
        # no silent caps: what the super-block guard removed is on record,
        # as are the CC loop's iteration count and jump engagement
        metrics["stages"]["canonical_map"] = {
            "wall_ms": int((time.time() - t0) * 1000), **dropped, **cc_stats}

    # -- stage: materialize ---------------------------------------------------
    if resume and stage_complete(out_dir, "nodes"):
        metrics["stages"]["materialize"] = {"skipped": True}
    else:
        t0 = time.time()
        nodes = build_nodes(edges)
        write_stage(nodes, out_dir, "nodes")
        if export_nt:
            export_ntriples_gz(edges, pjoin(out_dir, "export_nt"))
        wall = int((time.time() - t0) * 1000)
        append_lineage(spark, out_dir, run_id, "nodes",
                       read_stage(spark, out_dir, "nodes"), wall)
        metrics["stages"]["materialize"] = {"wall_ms": wall}

    n_triples = edges.count()
    # byte-identity audit: one aggregate job over the pruned 'page' partition
    audit = (extract_df.filter(F.col("kind") == "page")
             .agg(F.count(F.lit(1)).alias("pages"),
                  F.sum(F.when(F.col("obj") != "ok", 1).otherwise(0))
                  .alias("mismatches")).first())
    total_s = time.time() - t_total
    metrics["triples"] = n_triples
    metrics["wall_s"] = round(total_s, 3)
    metrics["triples_per_sec"] = round(n_triples / total_s, 1) if total_s else None
    metrics["pages"] = audit["pages"]
    metrics["text_mismatches"] = audit["mismatches"] or 0
    return metrics


def _parse_size_bytes(s: str) -> int:
    """Spark size-string → bytes ('16m', '128MB', '134217728', '1g')."""
    import re as _re
    m = _re.match(r"^\s*(\d+)\s*([kmgt]?)b?\s*$", s.lower())
    if not m:
        raise ValueError(f"unparseable size: {s!r}")
    return int(m.group(1)) * {"": 1, "k": 2**10, "m": 2**20,
                              "g": 2**30, "t": 2**40}[m.group(2)]


def estimate_extract_size(spark: SparkSession, pages_path: str,
                          sample_pages: int = 256,
                          repartition_by_url: int | None = None
                          ) -> tuple[int, float]:
    """(est_total_triples, est_rows_per_map_task) for the extract stream —
    the inputs dedup_edges sizes its plan from.

    Cost: one metadata-only parquet count, one Hadoop-FS content summary,
    and ~``sample_pages`` rows extracted DRIVER-side through the pure-Python
    semantics (~milliseconds) to estimate triples/page.  Map-task count is
    input_bytes / spark.sql.files.maxPartitionBytes — unless the stream is
    explicitly repartitioned (``repartition_by_url``), which then fixes the
    task count."""
    from .pagesgen import html_to_text
    from .triples import extract_line

    pages = spark.read.parquet(pages_path)
    n_pages = pages.count()
    if n_pages == 0:
        return 0, 0.0
    cols = [c for c in ("html", "text") if c in pages.columns]
    sample = pages.select(*cols).limit(min(sample_pages, n_pages)).collect()
    tri = 0
    for r in sample:
        html = r["html"] if "html" in cols else None
        recovered = html_to_text(bytes(html)) if html is not None else None
        line = recovered if recovered is not None else (
            r["text"] if "text" in cols else None)
        res = extract_line(line) if line else None
        tri += len(res.triples) if res else 0
    est_total = int(n_pages * (tri / len(sample)))
    if repartition_by_url:
        n_tasks = repartition_by_url
    else:
        fs, p = fsio._hadoop_fs(spark, pages_path)
        total_bytes = fs.getContentSummary(p).getLength()
        maxpb = _parse_size_bytes(spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"))
        n_tasks = max(1, -(-total_bytes // maxpb))
    return est_total, est_total / n_tasks


def dedup_pages_df(pages: DataFrame) -> DataFrame:
    """Exact page dedup, one survivor per distinct content.

    Keyed on the content digest itself — NOT a url round-trip, which loses
    content when one url carries two distinct texts (min(url) can elect the
    same url for two digests; a url-keyed dropDuplicates then discards one
    of them nondeterministically).  Null text falls back to md5(html), then
    to a per-url sentinel so null pages never collapse together.  Keeper
    election shuffles only (digest, url); the semi-join keeps exactly the
    keeper rows, and the final (digest, url) dropDuplicates collapses
    identical-content recrawls of the keeper url while reusing the join's
    partitioning (no extra exchange)."""
    digest = F.coalesce(F.md5("text"),
                        F.md5("html") if "html" in pages.columns else F.lit(None),
                        F.concat(F.lit("null:"), F.col("url")))
    hashed = pages.withColumn("_d", digest)
    keep = (hashed.select("_d", "url")
            .groupBy("_d").agg(F.min("url").alias("url")))
    return (hashed.join(keep, ["_d", "url"], "left_semi")
            .dropDuplicates(["_d", "url"])
            .drop("_d"))


def run_pipeline_fast(spark: SparkSession, pages_path: str, out_dir: str,
                      lcsh: DataFrame | None = None,
                      hot_threshold: int = 100_000,
                      num_salts: int = 16,
                      repartition_by_url: int | None = None,
                      with_canonical_map: bool = True,
                      dedup_pages: bool = False) -> dict:
    """Single-materialization, SINGLE-EXTRACTION variant.

    The expensive Python extraction UDF runs exactly once per page: the big
    triple stream flows from the UDF straight into the dedup shuffle and out
    to the edges table, while the tiny side rows (author names, creation
    refs, LCSH probes, page audits — a few rows per page) plus the
    collision-class triples (ol:author / dc:subject-URI, the only predicates
    a join can also produce) are written to a parquet side sink from inside
    the task.  A second, small job derives the join-born triples from the
    sink, dedups them together with the collision class, and appends — the
    two edge sets are disjoint by construction (tested), so the two local
    dedups compose to the global A4 dedup.

    The direct-triple dedup is sized from :func:`estimate_extract_size` (a
    driver-side sample, milliseconds): map-side partial aggregation for
    small per-task row counts, prepartition then aggregate beyond
    ~1.5M rows per map task (see olkg.canonicalize.dedup_edges).  The
    estimate and the chosen plan are on record in
    ``metrics['stages']['dedup_plan']``.

    ``run_pipeline`` is the durable, resumable path; this one is for
    throughput/scaling measurement (and for clusters where recompute beats
    intermediate durability).

    ``dedup_pages``: web crawls are duplicate-heavy — when set, pages are
    exact-deduplicated by content hash (url-min survivor) BEFORE extraction
    so duplicate pages never pay the Python extraction cost.  Output triples
    are unchanged whenever duplicate pages carry identical text (same
    (s,p,o) net effect); page/audit counts then refer to distinct pages."""
    from pyspark.sql import Observation

    from .extract import (audit_pages, extract_triples_with_side_sink,
                          read_side_rows)
    from .link import join_born_triples

    fsio.mkdirs(spark, out_dir)
    run_id = uuid.uuid4().hex[:12]
    metrics: dict = {"run_id": run_id, "stages": {}, "mode": "fast"}
    t_total = time.time()

    pages = spark.read.parquet(pages_path)
    if dedup_pages:
        pages = dedup_pages_df(pages)

    sides_sink = pjoin(out_dir, "sides")
    fsio.delete(spark, sides_sink)
    fsio.delete(spark, pjoin(out_dir, "edges"))

    # -- job 1: extract (once) → dedup direct triples → edges/d=0 ------------
    # edges is a two-partition table (d=0 direct, d=1 join-born): the link
    # stage appends d=1 WITHOUT touching d=0, so entity resolution (which
    # only ever reads blocking-key predicates — all direct) runs concurrently
    t0 = time.time()
    side_acc = spark.sparkContext.accumulator(0)
    stream = extract_triples_with_side_sink(
        pages, sides_sink, repartition_by_url=repartition_by_url,
        side_count_acc=side_acc)
    est_total, est_per_task = estimate_extract_size(
        spark, pages_path, repartition_by_url=repartition_by_url)
    metrics["stages"]["dedup_plan"] = {
        "est_total_rows": est_total,
        "est_rows_per_task": int(est_per_task),
        "chosen": plan_dedup(est_total, est_per_task)[0]}
    obs_direct = Observation("direct_edges")
    direct_edges = dedup_edges(stream, est_total_rows=est_total,
                               est_rows_per_task=est_per_task).observe(
        obs_direct, F.count(F.lit(1)).alias("n"))
    write_stage(direct_edges, out_dir, "edges/d=0")
    n_direct = obs_direct.get["n"]
    metrics["stages"]["extract_dedup_direct"] = {
        "wall_ms": int((time.time() - t0) * 1000), "rows": n_direct}

    # fail loudly if executors wrote side rows the driver cannot see
    # (non-shared sink storage) instead of silently emitting no join-born
    # edges / block_ids / canonical map
    sides = read_side_rows(spark, sides_sink, expected_rows=side_acc.value)

    # -- tail: link(+nodes) ∥ canonical_map ∥ audit ---------------------------
    # all three chains read only already-materialized inputs (the sink, the
    # d=0 parquet, the pages parquet); Spark schedules concurrent jobs from
    # threads, overlapping their fixed costs and filling idle cores
    import threading
    t_tail = time.time()
    results: dict = {}

    def _run_link_then_nodes():
        t = time.time()
        collision = (sides.filter(F.col("kind") == "triple")
                     .select("subj", "pred", "obj", "obj_kind",
                             "obj_datatype"))
        joinborn = join_born_triples(
            sides, lcsh, hot_threshold=hot_threshold,
            num_salts=num_salts).unionByName(collision)
        obs_join = Observation("join_edges")
        write_stage(dedup_edges(joinborn).observe(
            obs_join, F.count(F.lit(1)).alias("n")),
            out_dir, "edges/d=1")
        results["n_join"] = obs_join.get["n"]
        results["link_ms"] = int((time.time() - t) * 1000)
        # nodes needs the full edge set (join-born objects mint node ids)
        t = time.time()
        edges_all = read_stage(spark, out_dir, "edges")
        write_stage(build_nodes(edges_all), out_dir, "nodes")
        results["nodes_ms"] = int((time.time() - t) * 1000)

    def _run_cmap():
        t = time.time()
        from .canonicalize import canonical_map_from_blocks
        block_ids = (sides.filter(F.col("kind") == "block_id")
                     .select(F.col("subj").alias("entity"),
                             F.col("obj").alias("block_key")))
        names = (sides.filter(F.col("kind") == "author_name")
                 .select(F.col("subj").alias("author_key"),
                         F.col("obj").alias("name")))
        dropped: dict = {}
        cc_stats: dict = {}
        cmap = canonical_map_from_blocks(block_ids, names,
                                         dropped_stats=dropped,
                                         cc_stats=cc_stats)
        write_stage(cmap, out_dir, "canonical_map")
        release_checkpoint(cmap)
        results["cmap_ms"] = int((time.time() - t) * 1000)
        results["cmap_dropped"] = {**dropped, **cc_stats}

    def _run_audit():
        results["audit"] = audit_pages(pages)

    errs: list = []

    def _guard(fn):
        def inner():
            try:
                fn()
            except BaseException as e:  # propagate to the main thread
                errs.append(e)
        return inner

    threads = [threading.Thread(target=_guard(_run_link_then_nodes)),
               threading.Thread(target=_guard(_run_audit))]
    if with_canonical_map:
        threads.append(threading.Thread(target=_guard(_run_cmap)))
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errs:
        raise errs[0]
    # parent-level completion marker for readers of <out>/edges
    fsio.touch(spark, pjoin(out_dir, "edges", "_SUCCESS"))
    n_join = results["n_join"]
    metrics["stages"]["link_dedup"] = {"wall_ms": results["link_ms"],
                                       "rows": n_join}
    if with_canonical_map:
        # no silent caps: super-block-guard drops are on record per run
        metrics["stages"]["canonical_map"] = {
            "wall_ms": results["cmap_ms"], **results["cmap_dropped"]}
    metrics["stages"]["tail"] = {
        "wall_ms": int((time.time() - t_tail) * 1000),
        "nodes_ms": results["nodes_ms"]}

    edges = read_stage(spark, out_dir, "edges")
    append_lineage(spark, out_dir, run_id, "edges", edges,
                   metrics["stages"]["link_dedup"]["wall_ms"])
    # full per-stage lineage (north_rule): nodes + canonical_map read their
    # own checkpoints, so each census is one pruned column scan; the side
    # sink census (written during the extract stage) is a lineage row too,
    # completing the per-stage account
    append_lineage(spark, out_dir, run_id, "sides", sides,
                   metrics["stages"]["extract_dedup_direct"]["wall_ms"])
    append_lineage(spark, out_dir, run_id, "nodes",
                   read_stage(spark, out_dir, "nodes"), results["nodes_ms"])
    if with_canonical_map:
        append_lineage(spark, out_dir, run_id, "canonical_map",
                       read_stage(spark, out_dir, "canonical_map"),
                       results["cmap_ms"])

    audit = results["audit"]
    n_triples = n_direct + n_join
    total_s = time.time() - t_total
    metrics.update(triples=n_triples, wall_s=round(total_s, 3),
                   triples_per_sec=round(n_triples / total_s, 1),
                   pages=audit["pages"],
                   text_mismatches=audit["mismatches"] or 0)
    return metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description="olkg KG-construction pipeline")
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--lcsh-parquet", help="LCSH dimension parquet (label,uri)")
    ap.add_argument("--lcsh-nt", help="LCSH N-Triples dump to load (S2)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--fast", action="store_true",
                    help="single-materialization mode (no intermediate "
                         "checkpoints); for throughput measurement")
    ap.add_argument("--hot-threshold", type=int, default=100_000)
    ap.add_argument("--num-salts", type=int, default=16)
    ap.add_argument("--repartition-by-url", type=int, default=None)
    ap.add_argument("--dedup-pages", action="store_true",
                    help="exact-dedup pages by content hash before extract "
                         "(fast mode only)")
    args = ap.parse_args(argv)

    from .session import build_session
    spark = build_session(app_name="olkg-pipeline", master=args.master,
                          shuffle_partitions=args.shuffle_partitions)
    lcsh = None
    if args.lcsh_parquet:
        lcsh = spark.read.parquet(args.lcsh_parquet)
    elif args.lcsh_nt:
        from .link import load_lcsh_ntriples
        lcsh = load_lcsh_ntriples(spark, args.lcsh_nt)
    if args.fast:
        metrics = run_pipeline_fast(spark, args.pages, args.out, lcsh=lcsh,
                                    hot_threshold=args.hot_threshold,
                                    num_salts=args.num_salts,
                                    repartition_by_url=args.repartition_by_url,
                                    dedup_pages=args.dedup_pages)
    else:
        metrics = run_pipeline(spark, args.pages, args.out, lcsh=lcsh,
                               resume=not args.no_resume,
                               hot_threshold=args.hot_threshold,
                               num_salts=args.num_salts,
                               repartition_by_url=args.repartition_by_url)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
