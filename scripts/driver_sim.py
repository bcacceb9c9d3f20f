#!/usr/bin/env python
"""Driver simulation: runs the __spark_entry__ contract exactly as the
harness does — entry() smoke, then every queries() entry vs its
oracle_sql() twin on duckdb, sorted-column order-insensitive compare.

Usage:
    python scripts/driver_sim.py [--sf DIR] [--only NAME[,NAME...]]
Exit code 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stream_processing_platform_spark.oracle import duck_views, mismatches  # noqa: E402

# perfbench/worker.py::compare reads these as driver_sim attributes.
from stream_processing_platform_spark.oracle import (  # noqa: E402, F401
    canon_duck_type,
    canon_rows,
    canon_spark_type,
    duck_type_ok,
    types_agree,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import __spark_entry__ as E
    from stream_processing_platform_spark.session import get_spark

    spark = get_spark(app_name="driver-sim")

    t0 = time.time()
    entry_rows = E.entry(spark).collect()
    print(f"entry(): {len(entry_rows)} rows in {time.time() - t0:.1f}s")
    assert len(entry_rows) > 0

    con = duck_views(args.sf)

    qs, oracles = E.queries(), E.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    failures = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = qs[name](spark, args.sf)
        srows = sdf.collect()
        if name in oracles:
            errs = mismatches(sdf.schema, srows, con.sql(oracles[name]))
            status = "MISMATCH" if errs else "MATCH"
            if errs:
                failures.append(name)
                for e in errs:
                    print(f"  {e}")
        else:
            status = "rows-only"
        print(f"{name}: {len(srows)} rows {status} ({time.time() - t0:.1f}s)", flush=True)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
