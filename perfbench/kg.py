"""Knowledge-graph workload: ``run_pipeline_fast`` on a seeded crawl.

The crawl mixes mirrored copies of the 30 base records (identifier stars, one
hot author for the link join), near-duplicate clusters of 2-10 members and
ISBN chains of 2-4 editions (entity-resolution work for the CC loop).  Every
call's output is checked against the single-process golden edge set and a
single-process union-find over the same blocking keys.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

import inputs
import spans
from harness import SETUP_REPS, PeakRss, dir_mb

NAME = "crawl_clusters"
PARAMS = {"mirror_copies": 200, "hot_fraction": 0.1, "clusters": 400,
          "cluster_sizes": [2, 10], "chains": 150, "chain_lengths": [2, 4]}
# the CC guard in olkg.canonicalize: keys shared by more entities are dropped
MAX_BLOCK_DF = 100_000


def setup(run) -> tuple[list[str], str, list[float]]:
    base = inputs.base_lines(run.root)
    fp = inputs.fingerprint(NAME, run.seed, PARAMS,
                            hashlib.sha256("\n".join(base).encode()).hexdigest())
    times, digests = [], []
    for k in range(SETUP_REPS):
        t0 = time.perf_counter()
        rows = inputs.kg_rows(base, run.seed, **PARAMS)
        pages = run.path("inputs", f"{NAME}-s{run.seed}-{fp}-r{k}")
        digests.append(inputs.file_digest(inputs.write_pages(rows, pages)))
        times.append(time.perf_counter() - t0)
        if k:
            shutil.rmtree(pages)
    run.check("inputs_identical", differing_digests=len(set(digests)) - 1)
    lines = [r[3] for r in rows]
    run.detail.update(pages=len(lines), input_digest=digests[0])
    return lines, run.path("inputs", f"{NAME}-s{run.seed}-{fp}-r0"), times


def golden(run, lines: list[str]) -> tuple[set, float]:
    """The single-threaded baseline: olkg.golden over the same lines."""
    from olkg.golden import golden_triples
    tbl = pq.read_table(os.path.join(run.root, "data", "lcsh.parquet"))
    lcsh = dict(zip(tbl.column("label").to_pylist(), tbl.column("uri").to_pylist()))
    t0 = time.perf_counter()
    gold = golden_triples(lines, lcsh)
    return gold, time.perf_counter() - t0


def union_find_map(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """(entity -> min entity of its component) over blocking keys shared by
    2..MAX_BLOCK_DF entities, the rule olkg.canonicalize applies."""
    by_key: dict[str, set] = {}
    for ent, key in pairs:
        by_key.setdefault(key, set()).add(ent)
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ents in by_key.values():
        if not 2 <= len(ents) <= MAX_BLOCK_DF:
            continue
        ents = sorted(ents)
        for e in ents:
            parent.setdefault(e, e)
        r0 = find(ents[0])
        for e in ents[1:]:
            r = find(e)
            if r != r0:
                lo, hi = min(r, r0), max(r, r0)
                parent[hi] = lo
                r0 = lo
    return {e: find(e) for e in parent}


def check_output(run, out: str, m: dict, gold: set, n_pages: int) -> None:
    from pyspark.sql import functions as F

    from olkg.canonicalize import blocking_keys
    from olkg.extract import read_side_rows

    cols = ["subj", "pred", "obj", "obj_kind", "obj_datatype"]
    edges = pq.read_table(os.path.join(out, "edges"), columns=cols)
    rows = list(zip(*[edges.column(c).to_pylist() for c in cols]))
    got = set(rows)
    spark = run.spark
    names = (read_side_rows(spark, os.path.join(out, "sides"))
             .filter(F.col("kind") == "author_name")
             .select(F.col("subj").alias("author_key"), F.col("obj").alias("name")))
    pairs = [tuple(r) for r in blocking_keys(
        spark.read.parquet(os.path.join(out, "edges")), names).collect()]
    expect = union_find_map(pairs)
    cmap = pq.read_table(os.path.join(out, "canonical_map"))
    actual = dict(zip(cmap.column("entity").to_pylist(),
                      cmap.column("canonical_id").to_pylist()))
    run.check("kg_call",
              edge_diff=len(got ^ gold) + (len(rows) - len(got)),
              cmap_diff=len(set(expect.items()) ^ set(actual.items())),
              text_mismatches=m["text_mismatches"],
              page_diff=abs(m["pages"] - n_pages),
              triple_count_diff=abs(m["triples"] - len(rows)))


def layer_metrics(run, log: dict, call: dict) -> None:
    """Per-layer metrics of one traced call from its spans and the event log."""
    L = run.layers
    recs, m = call["spans"], call["metrics"]

    def named(name):
        return [s for s in recs if s["name"] == name]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def fold(ss):
        return spans.Fold(log, [j for s in ss for j in s["jobs"]])

    d0 = named("write:edges/d=0")
    f0 = fold(d0)
    udf = [st for st in f0.stages if st["python"]]
    udf_tasks = [t for st in udf for t in st["tasks"]]
    reduce_side = [st for st in f0.stages if not st["python"]]
    L["extract.wall_s"] = dur(d0)
    L["extract.udf_task_s"] = sum(t["run_ms"] for t in udf_tasks) / 1000
    L["extract.task_skew"] = spans.Fold.skew(udf_tasks)
    L["extract.audit_s"] = dur(named("audit_pages"))
    L["canonicalize.dedup_s"] = sum(st["end"] - st["submit"] for st in reduce_side)
    L["canonicalize.dedup_shuffle_mb"] = sum(
        t["shuffle_read"] for st in reduce_side for t in st["tasks"]) / 2**20

    cc = named("canonical_map_from_blocks") + named("write:canonical_map")
    if cc:
        L["canonicalize.cc_s"] = max(s["end"] for s in cc) - min(s["start"] for s in cc)
        fcc = fold(cc)
        L["canonicalize.cc_jobs"] = fcc.jobs
        L["canonicalize.cc_stages"] = len(fcc.stages)
    cst = m["stages"].get("canonical_map", {})
    walls = cst.get("iter_walls") or [0.0]
    L["canonicalize.cc_loop_s"] = sum(walls)
    L["canonicalize.cc_iter_max_s"] = max(walls)
    L["canonicalize.cc_iterations"] = cst.get("iterations", 0)

    d1 = named("write:edges/d=1")
    f1 = fold(d1)
    L["link.s"] = dur(d1)
    L["link.shuffle_mb"] = f1.mb("shuffle_write")
    if f1.stages:
        top = max(f1.stages, key=lambda st: sum(t["run_ms"] for t in st["tasks"]))
        L["link.task_skew"] = spans.Fold.skew(top["tasks"])
    L["link.join_rows"] = m["stages"]["link_dedup"]["rows"]

    nodes = named("write:nodes")
    L["materialize.nodes_s"] = dur(nodes)
    L["materialize.lineage_s"] = dur(named("append_lineage"))
    L["materialize.write_mb"] = call["out_mb"]

    whole = spans.Fold(log, spans.jobs_in_window(log, call["start"], call["end"]))
    L["pipeline.jobs"] = whole.jobs
    L["pipeline.stages"] = len(whole.stages)
    L["pipeline.tasks"] = len(whole.tasks)
    L["pipeline.failed_tasks"] = sum(t["failed"] for t in whole.tasks)
    L["pipeline.shuffle_mb"] = whole.mb("shuffle_write")
    L["pipeline.spill_mb"] = whole.mb("spill")
    # the tail starts when the side sink is read and ends when its threads
    # have joined, just before the first lineage row of the run
    sides = named("read_side_rows")
    lineage = named("append_lineage")
    if sides and lineage:
        t0 = sides[0]["end"]
        t1 = min(s["start"] for s in lineage if s["start"] >= t0)
        L["pipeline.tail_s"] = t1 - t0
        branches = [nodes[0]["end"] - d1[0]["start"] if nodes and d1 else 0.0,
                    L["canonicalize.cc_s"], L["extract.audit_s"]]
        L["pipeline.tail_overlap"] = sum(branches) / (t1 - t0)
    L["pipeline.untraced_s"] = (call["end"] - call["start"]) - spans.covered(
        [(max(s["start"], call["start"]), min(s["end"], call["end"]))
         for s in recs if s["name"] != "run_pipeline_fast"])


def triples_layer(run, lines: list[str]) -> tuple[int, int]:
    """µs per record for parsing and for the record semantics, timed in this
    process over the workload's own lines.  Returns (emitted, distinct)
    triples for the dedup drop ratio."""
    from olkg.triples import extract_record, parse_dump_line
    t0 = time.perf_counter()
    recs = [parse_dump_line(line) for line in lines]
    t1 = time.perf_counter()
    results = [extract_record(r[0], r[4]) for r in recs if r is not None]
    t2 = time.perf_counter()
    triples = [t.as_tuple() for res in results if res for t in res.triples]
    run.layers["triples.parse_us"] = (t1 - t0) / len(lines) * 1e6
    run.layers["triples.semantics_us"] = (t2 - t1) / len(lines) * 1e6
    run.layers["triples.per_record"] = len(triples) / len(lines)
    return len(triples), len(set(triples))


def run_workload(run) -> dict:
    with run.phase("setup"):
        lines, pages, gen_times = setup(run)
        gold, golden_s = golden(run, lines)
        session_s = run.start_session()
    from olkg.pipeline import run_pipeline_fast
    spark = run.spark
    lcsh = spark.read.parquet(os.path.join(run.root, "data", "lcsh.parquet"))
    tracer = spans.Tracer(spark.sparkContext) if run.trace else None
    if tracer:
        spans.install_pipeline_spans(tracer)
    calls: list[dict] = []

    def one_call():
        rec = {"out": run.path("out", f"call-{len(calls)}")}
        calls.append(rec)
        traced = tracer is not None and len(calls) == 1

        def body():
            t0 = time.perf_counter()
            rec["start"] = time.time()
            with tracer.span("run_pipeline_fast", root=True) if traced \
                    else contextlib.nullcontext():
                rec["metrics"] = run_pipeline_fast(spark, pages, rec["out"], lcsh=lcsh)
            rec["end"] = time.time()
            return time.perf_counter() - t0

        if tracer:
            tracer.enabled = traced
        rec["wall"] = run.attempt("run_pipeline_fast", body)
        if tracer:
            tracer.enabled = False
        return rec["wall"]

    with PeakRss(run.jvm_pid()) if tracer else contextlib.nullcontext() as rss, \
            run.phase("timed"):
        walls = run.timed_loop(one_call)
    with run.phase("check"):
        for rec in calls:
            if rec.get("metrics"):
                rec["out_mb"] = dir_mb(rec["out"])
                run.attempt("check", check_output, run, rec["out"], rec["metrics"],
                            gold, len(lines))
        if tracer and calls[0].get("metrics"):
            sides = os.path.join(calls[0]["out"], "sides")
            run.layers["extract.side_rows"] = sum(
                pq.read_metadata(os.path.join(sides, f)).num_rows
                for f in os.listdir(sides) if f.endswith(".parquet"))
        for rec in calls:
            shutil.rmtree(rec["out"], ignore_errors=True)
        run.stop_session()
    first = calls[0]
    triples = first["metrics"]["triples"] if first.get("metrics") else 0
    setup_s = session_s + statistics.median(gen_times) + golden_s
    run.detail.update(setup_parts_s={"session": session_s, "generate": gen_times,
                                     "golden": golden_s},
                      golden_triples=len(gold), triples=triples,
                      out_mb=first.get("out_mb"),
                      stages=first["metrics"]["stages"] if first.get("metrics") else None)
    if tracer and first.get("metrics"):
        emitted, distinct = triples_layer(run, lines)
        first["spans"] = spans.with_self_time(tracer.spans)
        log = spans.read_event_log(run.path("eventlog"))
        layer_metrics(run, log, first)
        run.layers.update({
            "canonicalize.dedup_drop_ratio": 1 - distinct / emitted,
            "triples.golden_s": golden_s,
            "pipeline.session_start_s": session_s,
            "pipeline.peak_rss_mb": rss.peak_bytes / 2**20,
            "trace.overhead": run.trace_overhead(walls[0], tracer.bookkeeping_s)})
        run.detail["spans"] = first["spans"]
    return run.result(setup_s, walls, triples)
