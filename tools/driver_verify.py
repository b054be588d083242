"""Drive the external-driver contract end-to-end, the way the harness does.

Fresh-process consumption of ``__spark_entry__`` (entry / queries /
oracle_sql) against the DuckDB oracle at the driver's correctness scale
(sf0.01 by default), replicating the per-round external gate so
mismatches surface before a round ends rather than after.

Usage: python tools/driver_verify.py [--head N] [--sf DIR] [--names a,b,c]
Exit nonzero on any mismatch; prints one JSON line per query + a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--head", type=int, default=50, help="check the first N entries in declaration order")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--names", default=None, help="comma-separated subset instead of --head")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as mod
    from pyspark.sql import SparkSession
    from tests.oracle_compare import assert_results_match

    spark = (
        SparkSession.builder.master(f"local[{min(16, os.cpu_count() or 8)}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    assert mod.entry(spark).count() >= 0, "entry() smoke failed"

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    qs, oracles = mod.queries(), mod.oracle_sql()
    names = (
        args.names.split(",") if args.names else list(qs)[: args.head]
    )
    failed: list[str] = []
    for name in names:
        t0 = time.monotonic()
        try:
            sdf = qs[name](spark, args.sf)
            if name in oracles:
                duck = con.execute(oracles[name]).fetchdf()
                assert_results_match(sdf, duck, name)
                mode = "hash"
            else:
                assert sdf.count() >= 0
                mode = "rows"
            print(json.dumps({
                "q": name, "ok": True, "mode": mode,
                "sec": round(time.monotonic() - t0, 2),
            }), flush=True)
        except Exception as e:  # noqa: BLE001 — record and continue
            failed.append(name)
            print(json.dumps({
                "q": name, "ok": False,
                "err": f"{type(e).__name__}: {e}"[:300],
                "sec": round(time.monotonic() - t0, 2),
            }), flush=True)
            if os.environ.get("VERIFY_TRACE"):
                traceback.print_exc()
    print(json.dumps({
        "checked": len(names), "failed": failed, "sf": args.sf,
    }), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
