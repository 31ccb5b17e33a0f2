"""End-to-end pipeline: one stage graph, scan → parse → dispatch → emit.

The Python extraction UDF runs exactly once per page.  Its big triple
stream flows straight into the dedup shuffle; the small side rows land in a
parquet side sink written from inside the tasks.  Everything after that
reads only materialized inputs, as three concurrent chains::

  pages ──extract UDF──┬─▶ edges/d=0     direct triples, deduped
                       └─▶ sides/        names, refs, probes, block ids
                                         (identifiers + name band keys),
                                         collision-class triples
  sides ──link (J1 salted ⋈, J2 broadcast ⋈) + dedup──▶ edges/d=1
        ──▶ nodes/ [──▶ export_nt/]
  sides ──blocked CC over the block ids (reliable checkpoints; small
        graphs finish on the driver)──▶ canonical_map/
  pages ──native byte-identity audit
  then  ──▶ lineage/ (one row per written file of each stage the run
                      wrote, edges per partition, from the parquet footers)

Only the extract and the tail chains run Spark jobs.  The pages are read
with the declared ``PAGES_SCHEMA`` after their footers are checked for its
url, html and text columns; that check, the dedup sampler, the sink
validation, the lineage and the stage reads are metadata I/O (parquet
footers, known schemas) on the driver.

Resume: every output above is a stage with a ``_SUCCESS`` marker.  With
``resume`` on, a stage is skipped when its marker exists and every stage it
reads was reused too.  The side sink gets its marker only after it has been
validated against the executors' row census.

Run:  python -m olkg.pipeline --pages <dir> --out <dir> [--lcsh-parquet <dir>]
  or  spark-submit [--master ...] [--conf key=value ...] \
          --py-files dist/olkg.zip olkg/pipeline.py --pages ... --out ...
The session takes the launcher's master and confs (olkg.session); this
module imports its package by absolute name, so spark-submit can run it as
a script.
"""

from __future__ import annotations

import argparse
import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olkg import fsio
from olkg.canonicalize import dedup_edges, plan_dedup
from olkg.fsio import pjoin
from olkg.materialize import (append_lineage, build_nodes, export_ntriples_gz,
                              read_edges, stage_complete, stage_rows,
                              write_stage)
from olkg.schema import PAGES_SCHEMA

# dump lines the dedup-sizing sampler extracts on the driver
SAMPLE_PAGES = 256


def read_pages(spark: SparkSession, pages_path: str):
    """(pages, (fs, parts)): the pages table read with the declared
    ``PAGES_SCHEMA``, and its :func:`olkg.fsio.parquet_parts`, no Spark
    job.  A file without url, html or text, which the read would turn into
    nulls, raises ``ValueError``; extra columns and partition directories
    are ignored."""
    fs, parts = fsio.parquet_parts(spark, pages_path)
    for part in parts:
        names = part.footer.schema.to_arrow_schema().names
        for col in ("url", "html", "text"):
            if col not in names:
                raise ValueError(
                    f"pages file {part.path!r} has no {col!r} column")
    return spark.read.schema(PAGES_SCHEMA).parquet(pages_path), (fs, parts)


def _sample_lines(fs, parts: list, n: int) -> list:
    """The ``text`` of the first ``n`` pages, the rows a Spark ``limit``
    over the scan returns first (files by size, largest first).  On a page
    that passes the byte-identity audit the extract UDF's line equals its
    text; every other page is counted in ``text_mismatches``."""
    import pyarrow.parquet as pq

    lines: list = []
    for part in sorted(parts, key=lambda p: -p.size):
        pf = pq.ParquetFile(part.path, filesystem=fs)
        for batch in pf.iter_batches(batch_size=n, columns=["text"]):
            lines.extend(batch[0].to_pylist()[:n - len(lines)])
            if len(lines) == n:
                return lines
    return lines


def estimate_extract_size(spark: SparkSession, pages_path: str,
                          repartition_by_url: int | None = None,
                          parts: tuple | None = None) -> tuple[int, float]:
    """(est_total_triples, est_rows_per_map_task) for the extract stream —
    the inputs dedup_edges sizes its plan from.

    Metadata and driver-side Python only, no Spark job: the page count is
    the sum of the pages files' parquet footer row counts, and
    ~``SAMPLE_PAGES`` dump lines (the pages' ``text``, read with pyarrow
    by :func:`_sample_lines`) go through the pure-Python semantics
    (~milliseconds) to estimate triples/page.  Map-task count is the
    listed pages files' bytes / spark.sql.files.maxPartitionBytes — unless
    the stream is explicitly repartitioned (``repartition_by_url``), which
    then fixes the task count.  ``parts``: the pages table's
    :func:`olkg.fsio.parquet_parts`, when the caller has listed it
    already."""
    from olkg.triples import extract_line

    fs, parts = parts or fsio.parquet_parts(spark, pages_path)
    if not parts:
        raise FileNotFoundError(f"no parquet files under {pages_path!r}")
    n_pages = sum(p.rows for p in parts)
    if n_pages == 0:
        return 0, 0.0
    sample = _sample_lines(fs, parts, min(SAMPLE_PAGES, n_pages))
    tri = 0
    for line in sample:
        res = extract_line(line) if line else None
        tri += len(res.triples) if res else 0
    est_total = int(n_pages * (tri / len(sample)))
    if repartition_by_url:
        n_tasks = repartition_by_url
    else:
        total_bytes = sum(p.size for p in parts)
        maxpb = spark._jsparkSession.sessionState().conf() \
            .filesMaxPartitionBytes()
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
    digest = F.coalesce(F.md5("text"), F.md5("html"),
                        F.concat(F.lit("null:"), F.col("url")))
    hashed = pages.withColumn("_d", digest)
    keep = (hashed.select("_d", "url")
            .groupBy("_d").agg(F.min("url").alias("url")))
    return (hashed.join(keep, ["_d", "url"], "left_semi")
            .dropDuplicates(["_d", "url"])
            .drop("_d"))


def run_pipeline(spark: SparkSession, pages_path: str, out_dir: str,
                 lcsh: DataFrame | None = None,
                 resume: bool = True,
                 repartition_by_url: int | None = None,
                 dedup_pages: bool = False,
                 export_nt: bool = False) -> dict:
    """Build the graph; returns a metrics dict (stage walls, row counts,
    triples/sec, page audit).

    Extract job: the UDF's triple stream is deduped into ``edges/d=0``
    while the side rows (author names, creation refs, LCSH probes, block
    ids: identifier keys and the author-name band keys) plus the
    collision-class triples (ol:author / dc:subject-URI, the only
    predicates a join can also produce) go to the ``sides/`` sink.
    The tail derives the join-born triples from the sink, dedups them
    together with the collision class and writes ``edges/d=1``.  The two
    edge sets are disjoint by construction (tested), so the two local
    dedups compose to the global A4 dedup.

    The direct-triple dedup is sized from :func:`estimate_extract_size`
    (parquet footers and a driver-side sample, no Spark job): map-side
    partial aggregation for small per-task row counts, prepartition then
    aggregate beyond ~1.5M rows per map task (see olkg.canonicalize.dedup_edges).  The
    estimate and the chosen plan are on record in
    ``metrics['stages']['dedup_plan']``.

    ``resume``: skip every stage whose ``_SUCCESS`` marker exists and whose
    inputs were reused (see the module docstring).  A reused extract job
    never runs the UDF: it reads the validated sink and takes the
    ``edges/d=0`` row count from its parquet footers.  A sink without its
    marker (a crash before validation) is deleted and extracted again.

    ``dedup_pages``: web crawls are duplicate-heavy — when set, pages are
    exact-deduplicated by content hash (url-min survivor) BEFORE extraction
    so duplicate pages never pay the Python extraction cost.  Output triples
    are unchanged whenever duplicate pages carry identical text (same
    (s,p,o) net effect); page/audit counts then refer to distinct pages.

    ``export_nt``: also write the gzipped N-Triples export to
    ``export_nt/``."""
    import threading

    from pyspark.sql import Observation

    from olkg.extract import (audit_pages, extract_triples_with_side_sink,
                              read_side_rows)
    from olkg.link import join_born_triples

    fsio.mkdirs(spark, out_dir)
    run_id = uuid.uuid4().hex[:12]
    stages: dict = {}
    metrics: dict = {"run_id": run_id, "stages": stages}
    t_total = time.time()

    pages, pages_parts = read_pages(spark, pages_path)
    if dedup_pages:
        pages = dedup_pages_df(pages)

    # a marker counts only when every stage the output was built from was
    # reused: re-extracted sides invalidate the whole tail, and a rewritten
    # edges/d=1 invalidates what is built from the full edge set
    sides_sink = pjoin(out_dir, "sides")
    extract_reused = (resume and stage_complete(spark, out_dir, "sides")
                      and stage_complete(spark, out_dir, "edges/d=0"))
    d1_reused = extract_reused and stage_complete(spark, out_dir, "edges/d=1")
    nodes_reused = d1_reused and stage_complete(spark, out_dir, "nodes")
    nt_reused = d1_reused and stage_complete(spark, out_dir, "export_nt")
    cmap_reused = (extract_reused
                   and stage_complete(spark, out_dir, "canonical_map"))
    cc_ckpt = pjoin(out_dir, "_cc_checkpoints")

    # -- job 1: extract (once) → dedup direct triples → edges/d=0 ------------
    # edges is a two-partition table (d=0 direct, d=1 join-born): the link
    # stage writes d=1 WITHOUT touching d=0, so entity resolution (which
    # only ever reads blocking-key predicates — all direct) runs concurrently
    if extract_reused:
        sides = read_side_rows(spark, sides_sink)
        n_direct = stage_rows(spark, out_dir, "edges/d=0")
        stages["extract"] = {"skipped": True}
    else:
        fsio.delete(spark, sides_sink)
        fsio.delete(spark, pjoin(out_dir, "edges"))
        t0 = time.time()
        side_acc = spark.sparkContext.accumulator(0)
        stream = extract_triples_with_side_sink(
            pages, sides_sink, repartition_by_url=repartition_by_url,
            side_count_acc=side_acc)
        est_total, est_per_task = estimate_extract_size(
            spark, pages_path, repartition_by_url=repartition_by_url,
            parts=pages_parts)
        strategy, n_parts = plan_dedup(est_total, est_per_task)
        stages["dedup_plan"] = {
            "est_total_rows": est_total,
            "est_rows_per_task": int(est_per_task),
            "chosen": strategy}
        obs_direct = Observation("direct_edges")
        direct_edges = dedup_edges(stream, n_parts).observe(
            obs_direct, F.count(F.lit(1)).alias("n"))
        write_stage(direct_edges, out_dir, "edges/d=0")
        n_direct = obs_direct.get["n"]
        stages["extract"] = {"wall_ms": int((time.time() - t0) * 1000),
                             "rows": n_direct, "side_rows": side_acc.value}
        # fail loudly if executors wrote side rows the driver cannot see
        # (non-shared sink storage) instead of silently emitting no
        # join-born edges / block_ids / canonical map; only a validated
        # sink gets the marker a resumed run trusts
        sides = read_side_rows(spark, sides_sink,
                               expected_rows=side_acc.value)
        fsio.touch(spark, pjoin(sides_sink, "_SUCCESS"))

    # -- tail: link(+nodes) ∥ canonical_map ∥ audit ---------------------------
    # all three chains read only already-materialized inputs (the sink, the
    # d=0 parquet, the pages parquet); Spark schedules concurrent jobs from
    # threads, overlapping their fixed costs and filling idle cores
    t_tail = time.time()
    results: dict = {}

    def _run_link_then_nodes():
        if d1_reused:
            stages["link_dedup"] = {
                "skipped": True,
                "rows": stage_rows(spark, out_dir, "edges/d=1")}
        else:
            t = time.time()
            collision = (sides.filter(F.col("kind") == "triple")
                         .select("subj", "pred", "obj", "obj_kind",
                                 "obj_datatype"))
            joinborn = join_born_triples(sides, lcsh).unionByName(collision)
            obs_join = Observation("join_edges")
            write_stage(dedup_edges(joinborn).observe(
                obs_join, F.count(F.lit(1)).alias("n")),
                out_dir, "edges/d=1")
            stages["link_dedup"] = {"wall_ms": int((time.time() - t) * 1000),
                                    "rows": obs_join.get["n"]}
        # nodes and the export need the full edge set (join-born objects
        # mint node ids)
        if nodes_reused:
            stages["nodes"] = {"skipped": True}
        else:
            t = time.time()
            write_stage(build_nodes(read_edges(spark, out_dir)),
                        out_dir, "nodes")
            stages["nodes"] = {"wall_ms": int((time.time() - t) * 1000)}
        if export_nt and not nt_reused:
            export_ntriples_gz(read_edges(spark, out_dir),
                               pjoin(out_dir, "export_nt"))

    def _run_cmap():
        if cmap_reused:
            stages["canonical_map"] = {"skipped": True}
            fsio.delete(spark, cc_ckpt)
            return
        t = time.time()
        from olkg.canonicalize import canonical_map_from_blocks
        # identifier keys and the author-name band keys the UDF computed
        block_ids = (sides.filter(F.col("kind") == "block_id")
                     .select(F.col("subj").alias("entity"),
                             F.col("obj").alias("block_key")))
        # every CC step is one reliable checkpoint into the output directory
        # (distributed storage on a cluster), so an executor loss recovers
        # from storage instead of recomputing the loop
        cc_stats: dict = {}
        cmap = canonical_map_from_blocks(block_ids, cc_ckpt, cc_stats)
        write_stage(cmap, out_dir, "canonical_map")
        # the map's marker now stands for the whole stage: a resumed run
        # never reads the checkpoints again
        fsio.delete(spark, cc_ckpt)
        # no silent caps: super-block-guard drops are on record per run, as
        # are the CC loop's iteration count and jump engagement
        stages["canonical_map"] = {"wall_ms": int((time.time() - t) * 1000),
                                   **cc_stats}

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

    threads = [threading.Thread(target=_guard(fn))
               for fn in (_run_link_then_nodes, _run_audit, _run_cmap)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errs:
        raise errs[0]
    # parent-level completion marker for readers of <out>/edges
    fsio.touch(spark, pjoin(out_dir, "edges", "_SUCCESS"))
    stages["tail"] = {"wall_ms": int((time.time() - t_tail) * 1000)}

    # per-stage lineage (north_rule) for every stage this run wrote: one
    # row per written file, from its parquet footer (no Spark job); the
    # edges per partition, since a resumed run may rebuild d=1 alone; a
    # sink no task wrote a side row to has no file, so no lineage row
    if not extract_reused:
        append_lineage(spark, out_dir, run_id, "edges/d=0",
                       stages["extract"]["wall_ms"])
    if not d1_reused:
        append_lineage(spark, out_dir, run_id, "edges/d=1",
                       stages["link_dedup"]["wall_ms"])
    if not extract_reused and stages["extract"]["side_rows"]:
        append_lineage(spark, out_dir, run_id, "sides",
                       stages["extract"]["wall_ms"])
    if not nodes_reused:
        append_lineage(spark, out_dir, run_id, "nodes",
                       stages["nodes"]["wall_ms"])
    if not cmap_reused:
        append_lineage(spark, out_dir, run_id, "canonical_map",
                       stages["canonical_map"]["wall_ms"])

    audit = results["audit"]
    n_triples = n_direct + stages["link_dedup"]["rows"]
    total_s = time.time() - t_total
    metrics.update(triples=n_triples, wall_s=round(total_s, 3),
                   triples_per_sec=round(n_triples / total_s, 1),
                   pages=audit["pages"],
                   text_mismatches=audit["mismatches"] or 0)
    return metrics


# the benchmark imports the pipeline under this name
run_pipeline_fast = run_pipeline


def main(argv=None):
    ap = argparse.ArgumentParser(description="olkg KG-construction pipeline")
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--lcsh-parquet", help="LCSH dimension parquet (label,uri)")
    ap.add_argument("--lcsh-nt", help="LCSH N-Triples dump to load (S2)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--repartition-by-url", type=int, default=None)
    ap.add_argument("--dedup-pages", action="store_true",
                    help="exact-dedup pages by content hash before extract")
    args = ap.parse_args(argv)

    from olkg.session import build_session
    spark = build_session(app_name="olkg-pipeline", master=args.master,
                          shuffle_partitions=args.shuffle_partitions)
    lcsh = None
    if args.lcsh_parquet:
        lcsh = spark.read.parquet(args.lcsh_parquet)
    elif args.lcsh_nt:
        from olkg.link import load_lcsh_ntriples
        lcsh = load_lcsh_ntriples(spark, args.lcsh_nt)
    metrics = run_pipeline(spark, args.pages, args.out, lcsh=lcsh,
                           resume=not args.no_resume,
                           repartition_by_url=args.repartition_by_url,
                           dedup_pages=args.dedup_pages,
                           export_nt=True)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
