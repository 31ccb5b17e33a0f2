"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's inputs from the seed,
times calls into the program's public entry points in a closed loop with one
caller for ``--seconds`` seconds, checks every output, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer ones).  The line
before it carries the details: samples, checks, failures, and with tracing
the spans.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the program under test; without it the benchmark must fail, not measure
REQUIRED = ["olkg/pipeline.py", "__spark_entry__.py", "data/pages.parquet",
            "data/lcsh.parquet", "data/hyperplanes.parquet",
            "data/ivf_centroids.parquet"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_clusters", "corpus_neardup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2

    from harness import Run
    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    # all scratch stays inside the checkout and is removed at exit: Python
    # and JVM temp files, Spark's shuffle dirs, inputs and outputs
    os.makedirs(run.path("tmp"), exist_ok=True)
    os.environ["TMPDIR"] = run.path("tmp")
    tempfile.tempdir = None
    os.environ["OLKG_LOCAL_DIR"] = run.path("spark-local")
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    try:
        if args.workload == "crawl_clusters":
            import kg
            result = kg.run_workload(run)
        else:
            import corpus
            result = corpus.run_workload(run)
    finally:
        run.cleanup()
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      **run.detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
