"""Write the physical plan of every corpus query, masked so that two
checkouts' dumps compare with one ``diff -r``.

Each non-KG query in ``__spark_entry__.queries()`` is built on the given
scale factor and its ``explain("formatted")`` is written to
``<out>/<query>.txt``.  Masked: expression ids (``#123``), lambda variable
numbers (``x_27``), RDD and plan ids (``RDD[12]``, ``plan_id=45``) and the
checkout's own path.  The session is ``bench.bench_session``, the one
``bench.py`` and ``scripts/check_oracle.py`` run in, so the partition counts
in the plans match theirs.

Usage: python scripts/dump_plans.py --sf-dir <sf_dir> --out plans_a
       (the same in the other checkout, with --out plans_b)
       diff -r plans_a plans_b
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
]


def mask(plan: str) -> str:
    plan = plan.replace(REPO, "<repo>")
    for pat, rep in _MASKS:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from bench import bench_session
    spark = bench_session("olkg-dump-plans")
    import __spark_entry__ as entry
    entry.ensure_ivf_materialized(spark, args.sf_dir)

    os.makedirs(args.out, exist_ok=True)
    for name, q in sorted(entry.queries().items()):
        if name.startswith("kg_"):
            continue
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q(spark, args.sf_dir).explain(mode="formatted")
        with open(os.path.join(args.out, name + ".txt"), "w") as f:
            f.write(mask(buf.getvalue()))
        print(name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
