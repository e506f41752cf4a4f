"""Robustness audit: run EVERY declared query against a degenerate
mini-fixture (singleton strata, missing ANN seed ids, single-part
customers, 3 users) and report crashes.  Queries may legitimately
return empty/NULL rows on such data — they must never throw.

Found real bugs: covisit_holdout_eval hit-rate /0 (no multi-part
customers), sample_neyman_allocation sd /0 (singleton stratum).

Usage:
    python tools/degenerate_sweep.py            # build fixture + sweep
    python tools/degenerate_sweep.py <dir>      # sweep an existing dir
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SRC = "/root/testdata/sf0.001"
DST = "/tmp/sfmini"

RULES = {
    "region": "SELECT * FROM T",
    "nation": "SELECT * FROM T",
    "customer": "SELECT * FROM T WHERE c_custkey <= 130",
    "supplier": "SELECT * FROM T WHERE s_suppkey <= 12",
    "orders": "SELECT * FROM T WHERE o_custkey <= 130 "
              "USING SAMPLE 60 ROWS (reservoir, 7)",
    "events": "SELECT * FROM T WHERE user_id <= 3",
    "documents": "SELECT * FROM T WHERE doc_id < 30",
    "embeddings": "SELECT * FROM T WHERE vec_id < 60",
}


def build(dst: str = DST) -> str:
    import duckdb

    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    con = duckdb.connect()
    for t, q in RULES.items():
        con.execute(f"CREATE OR REPLACE VIEW T AS SELECT * FROM '{SRC}/{t}.parquet'")
        con.execute(f"COPY ({q}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
    con.execute(f"CREATE OR REPLACE VIEW T AS SELECT * FROM '{SRC}/lineitem.parquet'")
    con.execute(
        f"COPY (SELECT * FROM T WHERE l_orderkey IN "
        f"(SELECT o_orderkey FROM '{dst}/orders.parquet')) "
        f"TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE OR REPLACE VIEW T AS SELECT * FROM '{SRC}/part.parquet'")
    con.execute(f"COPY (SELECT * FROM T) TO '{dst}/part.parquet' (FORMAT PARQUET)")
    return dst


def main() -> int:
    from simple_vector_spark.registry import queries
    from simple_vector_spark.session import get_spark

    dst = sys.argv[1] if len(sys.argv) > 1 else build()
    spark = get_spark("degenerate-sweep")
    crashes = []
    for name, fn in queries().items():
        try:
            fn(spark, dst).count()
        except Exception as e:  # noqa: BLE001 - report, keep sweeping
            crashes.append((name, type(e).__name__, str(e).split("\n")[0][:160]))
            print("CRASH", *crashes[-1], flush=True)
    print("total crashes:", len(crashes))
    return 1 if crashes else 0


if __name__ == "__main__":
    raise SystemExit(main())
