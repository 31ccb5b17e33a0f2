"""Benchmark harness.

Headline: the end-to-end KG pipeline (extract → link → canonicalize →
materialize) on a bench-scale synthetic pages corpus derived from the fixture
records (clone-scaled to the sf), reported as triples/sec.  Secondary: wall
time per corpus-ops query on the sf tables.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>, ...extra kg stats}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), OLKG_BENCH_CLONES (override corpus scale).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# pages-per-sf: 30 fixture records cloned to ~sf*600k pages
_SF_CLONES = {"0.001": 20, "0.01": 200, "0.1": 2000}


def _sf_name() -> str:
    base = os.path.basename(SF_DIR.rstrip("/"))
    return base[2:] if base.startswith("sf") else base


def bench_session(app_name: str):
    """The session the benchmark runs in; ``scripts/check_oracle.py`` and
    ``scripts/dump_plans.py`` build the same one, so their plans match the
    benchmark's: ``local[SPARK_GRAFT_CPUS]``, ``max(2·cpus, 16)`` shuffle
    partitions, tmpfs shuffle scratch."""
    # tmpfs scratch is opt-in (session.py); the bench opts in so shuffle I/O
    # models per-node local SSD instead of the sandbox's one shared disk
    os.environ.setdefault("OLKG_TMPFS_SCRATCH", "1")
    from olkg.session import build_session
    # UDF task slots run a JVM thread + a Python worker (2 runnable threads);
    # at high core counts task.cpus=2 sizes slots to that reality instead of
    # oversubscribing the box (measured ~35% faster at local[32] on sf0.1)
    extra = {"spark.task.cpus": "2"} if CPUS >= 16 else {}
    spark = build_session(
        app_name=app_name,
        master=f"local[{CPUS}]",
        shuffle_partitions=max(2 * CPUS, 16),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_bench_pages(spark, sf: str) -> str:
    """Build (once) the clone-scaled pages parquet for this sf, with a
    hot-author skew.  The skew does not reach the salted join path: at sf0.1
    (60,000 pages) ``/authors/HOT1A`` gets 4,778 of the 48,000 creation refs,
    far below ``olkg.link.HOT_KEY_REFS``; the skew tests cover that path.
    The cache dir is keyed on a hash of the corpus lines, so a changed
    corpus rebuilds it."""
    from olkg.fixtures import corpus_lines
    from olkg.pagesgen import build_pages_df_distributed
    clones = int(os.environ.get("OLKG_BENCH_CLONES",
                                _SF_CLONES.get(sf, 200)))
    lines = corpus_lines(include_reference=True)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(),
                        f"olkg_bench_pages_{sf}_{clones}_{digest}")
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return path
    df = build_pages_df_distributed(
        spark, lines, clones=clones, rewrite_refs=True,
        skew_hot_author="/authors/HOT1A", skew_fraction=0.1,
        partitions=max(CPUS * 2, 16))
    df.write.mode("overwrite").parquet(path)
    return path


def main() -> None:
    sf = _sf_name()
    spark = bench_session("olkg-bench")

    queries: dict[str, float] = {}
    t_total = time.time()

    # --- headline: end-to-end KG pipeline ---------------------------------
    pages_path = ensure_bench_pages(spark, sf)
    from olkg.pipeline import run_pipeline
    lcsh = spark.read.parquet(os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "data", "lcsh.parquet"))
    # untimed warmup: JIT the extraction path and spin up the Python workers
    # so the first timed pipeline doesn't carry one-time costs
    from olkg.extract import extract_triples_with_side_sink
    from olkg.fixtures import corpus_lines
    from olkg.pagesgen import build_pages_df
    warm_sink = tempfile.mkdtemp(prefix="olkg_bench_warmup_")
    extract_triples_with_side_sink(build_pages_df(spark, corpus_lines()),
                                   warm_sink).count()
    shutil.rmtree(warm_sink, ignore_errors=True)

    # headline: the pipeline.  The host is shared and single-shot wall times
    # swing ±30% on identical work (BASELINE.md §protocol), so it runs
    # N_TRIALS times and the reported number is the MEDIAN, with every
    # trial on record.  Each trial runs the dedup-sizing sampler, as a
    # user's run does.
    import statistics

    n_trials = int(os.environ.get("OLKG_BENCH_TRIALS", "3"))
    trials: dict[str, list[float]] = {"kg_pipeline": []}
    m = None
    for _ in range(n_trials):
        out_dir = tempfile.mkdtemp(prefix="olkg_bench_out_")
        t0 = time.time()
        m = run_pipeline(spark, pages_path, out_dir, lcsh=lcsh, resume=False)
        trials["kg_pipeline"].append(round(time.time() - t0, 3))
        shutil.rmtree(out_dir, ignore_errors=True)
    for name, ts in trials.items():
        queries[name] = round(statistics.median(ts), 3)

    # --- corpus ops on the sf tables ---------------------------------------
    import __spark_entry__ as entry

    # cheap queries (sub-second, job-overhead-dominated): single shot.
    # HEAVY queries (the ≥2 s ones — where round-over-round drift was
    # undecidable between host noise and real regression on single shots)
    # run n_trials times INTERLEAVED across query names, median reported,
    # every trial on record — the same protocol as the pipelines.
    light_queries = [
        "doc_dedup_exact", "doc_fingerprints", "doc_token_counts",
        "doc_quality", "doc_lang_id", "multimodal_features", "events_hourly",
        "events_sessions", "agg_pricing_summary", "join_revenue_by_nation",
    ]
    heavy_queries = [
        "doc_ngram_jaccard", "doc_minhash_lsh", "doc_simhash_pairs",
        "doc_embedding_neardup", "ann_cosine_topk", "ann_lsh_topk",
        "ann_ivf_topk", "ann_ivf_materialized",
    ]
    # the IVF layout build is the OFFLINE step — materialize untimed so the
    # timed ann_ivf_materialized entry measures the query read path (the
    # cost a serving query actually pays), comparable to ann_ivf_topk
    entry.ensure_ivf_materialized(spark, SF_DIR)
    qmap = entry.queries()
    for name in light_queries:
        t0 = time.time()
        qmap[name](spark, SF_DIR).count()
        queries[name] = round(time.time() - t0, 3)
    corpus_trials: dict[str, list[float]] = {n: [] for n in heavy_queries}
    for _ in range(n_trials):
        for name in heavy_queries:   # interleaved: drift hits all equally
            t0 = time.time()
            qmap[name](spark, SF_DIR).count()
            corpus_trials[name].append(round(time.time() - t0, 3))
    for name, ts in corpus_trials.items():
        queries[name] = round(statistics.median(ts), 3)

    total = round(time.time() - t_total, 3)
    result = {
        "metric": "e2e_sec (kg pipeline + corpus ops)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "pipeline_trials": trials,   # per-trial record behind the medians
        "corpus_trials": corpus_trials,
        "sf": sf,
        "kg_pages": m["pages"],
        "kg_triples": m["triples"],
        "kg_triples_per_sec": round(m["triples"] / queries["kg_pipeline"], 1),
        "kg_text_mismatches": m["text_mismatches"],
        "cpus": CPUS,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
