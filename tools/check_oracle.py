"""Local replica of the driver's correctness gate.

Runs every declared query at the given sf dir on Spark AND its DuckDB
oracle SQL, then compares row count, sorted column names, and the
order-insensitive multiset of row values (floats canonicalized).  Use
while iterating so oracle mismatches surface before the round gate.

Usage: python tools/check_oracle.py [--json PATH] [sf_dir] [query ...]

With ``--json PATH`` the per-query results and the summary are also
written as a machine-readable artifact (VERDICT r03 item 4 — durable
evidence for the round's TESTS artifact).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from decimal import Decimal

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        return f"{v:.6f}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def df_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from simple_vector_spark.session import get_spark

    args = sys.argv[1:]
    json_path = None
    if args and args[0] == "--json":
        json_path = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    t_start = time.time()
    results: dict[str, dict] = {}

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = queries(), oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            results[name] = {"status": "fail", "err": f"spark: {e}"[:300]}
            continue
        if name not in oracles:
            print(f"okro {name}: rows-only ({len(srows)} rows)")
            results[name] = {"status": "rows_only", "rows": len(srows)}
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [c for c in res.columns]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            results[name] = {"status": "fail", "err": f"duckdb: {e}"[:300]}
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: cols spark={sorted(scols)} duck={sorted(dcols)}")
            failed.append(name)
            results[name] = {"status": "fail", "err": "schema mismatch"}
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            failed.append(name)
            results[name] = {
                "status": "fail",
                "err": f"rowcount {len(srows)} vs {len(drows)}",
            }
            continue
        sk, dk = df_key(srows, scols), df_key(drows, dcols)
        if sk != dk:
            bad = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            failed.append(name)
            results[name] = {"status": "fail", "err": "value mismatch"}
            continue
        print(f"ok   {name}: {len(srows)} rows hash-match")
        results[name] = {"status": "hash_match", "rows": len(srows)}
    print("=" * 50)
    print("FAILED:" if failed else "ALL GREEN", ",".join(failed))
    if json_path:
        statuses = [r["status"] for r in results.values()]
        with open(json_path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_checked": len(results),
                    "n_hash_match": statuses.count("hash_match"),
                    "n_rows_only": statuses.count("rows_only"),
                    "n_failed": statuses.count("fail"),
                    "failed": failed,
                    "wall_sec": round(time.time() - t_start, 1),
                    "results": results,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
        print(f"wrote {json_path}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
