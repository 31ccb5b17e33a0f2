"""Corpus workload: the eight heavy corpus queries of ``__spark_entry__`` on
seeded documents and embeddings with planted near-duplicates and shared
boilerplate.  Every sweep collects each query's rows to the driver with
``toPandas()``, inside the timed region; after the timed loop the rows of
every sweep are checked against DuckDB running ``oracle_sql()`` on the same
generated tables."""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time
from decimal import Decimal

import inputs
import spans
from harness import SETUP_REPS, PeakRss

NAME = "corpus_neardup"
PARAMS = {"docs": 3000, "vectors": 2000, "vocab": 4000, "dup_fraction": 0.1,
          "boilerplate_fraction": 0.2}
QUERIES = ["doc_ngram_jaccard", "doc_minhash_lsh", "doc_simhash_pairs",
           "doc_embedding_neardup", "ann_cosine_topk", "ann_lsh_topk",
           "ann_ivf_topk", "ann_ivf_materialized"]
LAYER_OF = {"doc_ngram_jaccard": "textops.ngram_jaccard_s",
            "doc_minhash_lsh": "textops.minhash_lsh_s",
            "doc_simhash_pairs": "textops.simhash_s",
            "doc_embedding_neardup": "simsearch.embedding_neardup_s",
            "ann_cosine_topk": "simsearch.cosine_topk_s",
            "ann_lsh_topk": "simsearch.lsh_topk_s",
            "ann_ivf_topk": "simsearch.ivf_topk_s",
            "ann_ivf_materialized": "simsearch.ivf_materialized_s"}


def _norm(v) -> str:
    """Cell normalization of scripts/check_oracle.py, so both engines'
    results compare as strings."""
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        return f"{v.normalize():f}" if v != 0 else "0"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    return str(v)


def _rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(_norm(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))


def setup(run, entry) -> tuple[str, list[float], float]:
    """Generate the tables (repeated, for a median) and build the IVF layout
    that the materialized query reads, the program's offline step.  The
    corpus directory is named by seed and content hash, and the layout cache
    is keyed by that name."""
    fp = inputs.fingerprint(NAME, run.seed, PARAMS)
    times, digests = [], []
    for k in range(SETUP_REPS):
        t0 = time.perf_counter()
        docs, emb = inputs.corpus_tables(run.seed, **PARAMS)
        sf_dir = run.path("inputs", f"{NAME}-s{run.seed}-{fp}-r{k}")
        digests.append(inputs.file_digest(inputs.write_corpus(docs, emb, sf_dir)))
        times.append(time.perf_counter() - t0)
        if k:
            shutil.rmtree(sf_dir)
    run.check("inputs_identical", differing_digests=len(set(digests)) - 1)
    sf_dir = run.path("inputs", f"{NAME}-s{run.seed}-{fp}-r0")
    t0 = time.perf_counter()
    entry.ensure_ivf_materialized(run.spark, sf_dir)
    ivf_s = time.perf_counter() - t0
    run.detail.update(docs=PARAMS["docs"], vectors=PARAMS["vectors"],
                      input_digest=digests[0])
    return sf_dir, times, ivf_s


def oracle_rows(sf_dir: str, entry) -> dict[str, list[tuple]]:
    import duckdb
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
        sql = entry.oracle_sql()
        return {q: _rows(con.execute(sql[q]).fetchdf()) for q in QUERIES}
    finally:
        con.close()


def run_workload(run) -> dict:
    import __spark_entry__ as entry
    with run.phase("setup"):
        session_s = run.start_session()
        sf_dir, gen_times, ivf_s = setup(run, entry)
    spark = run.spark
    qmap = entry.queries()
    tracer = spans.Tracer(spark.sparkContext) if run.trace else None
    sweeps: list[dict] = []

    def sweep():
        """The eight queries in turn, each collected to the driver."""
        rec = {"frames": {}, "query_s": {}}
        sweeps.append(rec)
        traced = tracer is not None and len(sweeps) == 1

        def body():
            t0 = time.perf_counter()
            rec["start"] = time.time()
            with tracer.span("sweep", root=True) if traced else contextlib.nullcontext():
                for q in QUERIES:
                    tq = time.perf_counter()
                    with tracer.span(q) if traced else contextlib.nullcontext():
                        rec["frames"][q] = qmap[q](spark, sf_dir).toPandas()
                    rec["query_s"][q] = time.perf_counter() - tq
            rec["end"] = time.time()
            return time.perf_counter() - t0

        if tracer:
            tracer.enabled = traced
        wall = run.attempt("sweep", body)
        if tracer:
            tracer.enabled = False
        return wall

    with PeakRss(run.jvm_pid()) if tracer else contextlib.nullcontext() as rss, \
            run.phase("timed"):
        walls = run.timed_loop(sweep)
    with run.phase("check"):
        run.stop_session()
        want = run.attempt("oracle", oracle_rows, sf_dir, entry) or {}
        for rec in sweeps:
            if len(rec["frames"]) == len(QUERIES):
                got = {q: _rows(df) for q, df in rec["frames"].items()}
                # oracle_diff per query: rows in one result and not the other
                run.check("oracle_diff", **{
                    q: len(set(got[q]) ^ set(want.get(q, [])))
                    + abs(len(got[q]) - len(want.get(q, []))) for q in QUERIES})
    # result-row counts swing with the seed's chance near-duplicates, so the
    # throughput is counted in input rows
    rows = PARAMS["docs"] + PARAMS["vectors"]
    setup_s = session_s + statistics.median(gen_times) + ivf_s
    run.detail.update(setup_parts_s={"session": session_s, "generate": gen_times,
                                     "ivf_layout": ivf_s},
                      result_rows={q: len(df) for q, df in sweeps[0]["frames"].items()},
                      query_s=[s["query_s"] for s in sweeps])
    if tracer and walls:
        recs = spans.with_self_time(tracer.spans)
        log = spans.read_event_log(run.path("eventlog"))
        layer_metrics(run, log, sweeps[0], recs)
        run.layers.update({
            "pipeline.session_start_s": session_s,
            "pipeline.peak_rss_mb": rss.peak_bytes / 2**20,
            "trace.overhead": run.trace_overhead(walls[0], tracer.bookkeeping_s)})
        run.detail["spans"] = recs
    return run.result(setup_s, walls, rows)


def layer_metrics(run, log: dict, sweep: dict, recs: list[dict]) -> None:
    """Per-layer metrics of one traced sweep from its spans and the event log."""
    L = run.layers
    by_name = {s["name"]: s for s in recs}
    for q, metric in LAYER_OF.items():
        if q in by_name:
            L[metric] = by_name[q]["end"] - by_name[q]["start"]
    text_spans = [by_name[q] for q in QUERIES[:3] if q in by_name]
    L["textops.shuffle_mb"] = spans.Fold(
        log, [j for s in text_spans for j in s["jobs"]]).mb("shuffle_write")
    if "doc_ngram_jaccard" in by_name:
        f = spans.Fold(log, by_name["doc_ngram_jaccard"]["jobs"])
        if f.stages:
            top = max(f.stages, key=lambda st: sum(t["run_ms"] for t in st["tasks"]))
            L["textops.ngram_task_skew"] = spans.Fold.skew(top["tasks"])
    whole = spans.Fold(log, spans.jobs_in_window(log, sweep["start"], sweep["end"]))
    L["pipeline.jobs"] = whole.jobs
    L["pipeline.stages"] = len(whole.stages)
    L["pipeline.tasks"] = len(whole.tasks)
    L["pipeline.failed_tasks"] = sum(t["failed"] for t in whole.tasks)
    L["pipeline.shuffle_mb"] = whole.mb("shuffle_write")
    L["pipeline.spill_mb"] = whole.mb("spill")
    queries = [by_name[q] for q in QUERIES if q in by_name]
    L["pipeline.untraced_s"] = (sweep["end"] - sweep["start"]) - spans.covered(
        [(s["start"], s["end"]) for s in queries])
