"""Reproducer for the ISBN-chain boundary of the CC loop.

    python3 perfbench/chains.py --length 6

Builds a crawl of 150 edition chains, each ``--length`` editions long
with consecutive editions sharing one ISBN (the same generator as the
crawl_clusters workload, with no mirrors and no clusters), runs
``run_pipeline_fast`` once and prints the outcome and the CC loop's census.
Exits 0 when the call succeeds, 1 when it raises.  See README.md for the
lengths that pass and fail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHAINS = 150
SEED = 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--length", type=int, required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    import inputs
    from harness import Run

    run = Run(ROOT, "chains", SEED, 0, False)
    os.makedirs(run.path("tmp"), exist_ok=True)
    os.environ.update(TMPDIR=run.path("tmp"), OLKG_LOCAL_DIR=run.path("spark-local"),
                      PYTHONPATH=ROOT)
    try:
        rows = inputs.kg_rows(inputs.base_lines(ROOT), SEED, mirror_copies=1,
                              hot_fraction=0.0, clusters=0, cluster_sizes=(2, 2),
                              chains=CHAINS, chain_lengths=(args.length, args.length))
        pages = run.path("pages")
        inputs.write_pages(rows, pages)
        run.start_session()
        from olkg.pipeline import run_pipeline_fast
        lcsh = run.spark.read.parquet(os.path.join(ROOT, "data", "lcsh.parquet"))
        t0 = time.perf_counter()
        try:
            m = run_pipeline_fast(run.spark, pages, run.path("out"), lcsh=lcsh)
        except Exception:
            print(json.dumps({"length": args.length, "ok": False,
                              "wall_s": time.perf_counter() - t0,
                              "error": traceback.format_exc(limit=2)}))
            return 1
        print(json.dumps({"length": args.length, "ok": True,
                          "wall_s": time.perf_counter() - t0,
                          "cc": m["stages"]["canonical_map"]}))
        return 0
    finally:
        run.stop_session()
        shutil.rmtree(run.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
