"""Oracle equivalence check at an arbitrary scale factor: runs selected
declared queries through Spark AND the DuckDB oracle SQL and compares
column names, row counts and normalized row sets — the same comparison the
driver performs, runnable at sf0.1/sf1.0 where hash-collision or FP-boundary
risks of a restructured query would actually show up.

Usage: python scripts/check_oracle.py --sf-dir /root/testdata/sf1.0 \
           [--queries doc_minhash_lsh,doc_ngram_jaccard]
(default: every query in ``__spark_entry__.queries()``)
"""

from __future__ import annotations

import argparse
import math
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        return f"{v.normalize():f}" if v != 0 else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--queries", help="comma-separated; default: all")
    args = ap.parse_args()

    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # the session bench.py builds (same confs → same plans)
    from bench import bench_session
    spark = bench_session("olkg-check-oracle")
    import __spark_entry__ as entry
    qmap, omap = entry.queries(), entry.oracle_sql()
    names = ([n.strip() for n in args.queries.split(",") if n.strip()]
             if args.queries else list(qmap))
    if any(n.startswith("ann_ivf") for n in names):
        entry.ensure_ivf_materialized(spark, args.sf_dir)

    failed = []
    for name in names:
        sdf = qmap[name](spark, args.sf_dir).toPandas()
        ddf = con.execute(omap[name]).fetchdf()
        s_cols, d_cols = sorted(sdf.columns), sorted(ddf.columns)
        ok = s_cols == d_cols and len(sdf) == len(ddf)
        if ok:
            s_rows = sorted(tuple(_norm_cell(r[c]) for c in s_cols)
                            for _, r in sdf.iterrows())
            d_rows = sorted(tuple(_norm_cell(r[c]) for c in d_cols)
                            for _, r in ddf.iterrows())
            ok = s_rows == d_rows
            detail = "" if ok else f"first diff: {next((a, b) for a, b in zip(s_rows, d_rows) if a != b)}"
        else:
            detail = f"cols {s_cols} vs {d_cols}, rows {len(sdf)} vs {len(ddf)}"
        print(f"{name}: {'PASS' if ok else 'FAIL'} "
              f"(spark={len(sdf)} oracle={len(ddf)}) {detail}", flush=True)
        if not ok:
            failed.append(name)
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
