#!/usr/bin/env python
"""Official-ledger freshness check (r10 verdict ask #8).

The driver verifies only the first ~WINDOW queries of ``queries()`` per
round, so with N registered queries the registry order IS the coverage
policy (``registry._ensure_loaded`` sorts it stalest-first from the
ledger). This script takes the ``queries()`` order (i.e. the window about
to be submitted) and the CORRECTNESS_r*.json history as parsed by
``registry.ledger_rounds``, works out what every query's staleness will
be after this round's window lands, and exits nonzero if any query would
exceed the freshness bound. A never-ledgered query counts from r0.

Bound: ceil(N / WINDOW) rounds. A perfect rotation over N queries at
WINDOW per round revisits each query every N/WINDOW rounds, so some query
necessarily waits ceil(N/WINDOW) rounds between official rows the moment
WINDOW does not divide N (236/50 -> 5: four 50-rows rounds + one 36-row
remainder). That staleness is achievable by perfect rotation and nothing
tighter is, so the bound is exactly ceil(N/WINDOW) — the r10-era
``ceil - 1`` became unsatisfiable when the registry passed 200. The bound
recomputes from the live registry size: every query registration raises
worst-case staleness, so a new operator must be worth a ledger slot.

Usage:
    python scripts/ledger_check.py [--round N] [--window 50]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=None, help="current round (default: max ledgered + 1)")
    ap.add_argument("--window", type=int, default=50, help="driver verification window size")
    args = ap.parse_args()

    from stream_processing_platform_spark.registry import ledger_rounds, queries

    order = list(queries())
    last = ledger_rounds()

    cur = args.round if args.round is not None else (max(last.values(), default=0) + 1)
    n = len(order)
    bound = math.ceil(n / args.window)
    window = set(order[: args.window])

    post = {q: cur if q in window else last.get(q, 0) for q in order}
    worst = sorted(((cur - r, q) for q, r in post.items()), reverse=True)
    failures = [
        f"stale {staleness} > bound {bound}: {q} (last r{post[q]})"
        for staleness, q in worst
        if staleness > bound
    ]

    # Sanity: the window should be spent on the stalest queries — warn if a
    # window slot goes to a query strictly fresher than one left outside.
    outside_oldest = min((post[q] for q in order if q not in window), default=cur)
    wasted = [q for q in window if last.get(q, 0) > outside_oldest]
    print(
        f"registered={n} window={args.window} round=r{cur} bound={bound} "
        f"ledgered={sum(q in last for q in order)} worst_post={worst[0][0]} ({worst[0][1]})"
    )
    if wasted:
        print(f"note: {len(wasted)} window slots fresher than the oldest outside row: {sorted(wasted)[:5]}...")
    if failures:
        for f in failures:
            print(f"FAIL: {f}")
        return 1
    print("OK: no query exceeds the freshness bound after this window")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
