"""Normalized plan-hash pins for the headline bench queries.

The shape asserts in test_plan_quality.py gate individual properties
(pushdown, broadcast sides, shuffle counts); these pins gate the WHOLE
physical plan: any change to a headline query's plan — intended or not —
flips its hash. The near-dup plan comparison caught round 5's phantom
perf regression (plan hash-identical r4↔r6 → the slowdown was harness
variance, not a plan change); this makes that comparison a standing
pytest for the ten most expensive registered queries.

Update workflow (INTENTIONAL plan changes):

    SPP_UPDATE_PLAN_PINS=1 python -m pytest tests/test_plan_pins.py -q

rewrites ``tests/plan_pins.json``; review the diff (which queries
changed), re-run `bench.py` to confirm the new plan is a win or a wash,
and commit the json together with the plan change.

Normalization strips run-varying tokens (expression ids, plan ids,
file paths, in-memory relation ids, codegen stage ids, the core count
of a round-robin repartition) so the hash is stable across sessions,
scale factors and core counts while still covering operator choice,
ordering, join strategies, and partitioning.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from pathlib import Path

import pytest

from stream_processing_platform_spark.registry import queries
from stream_processing_platform_spark.session import scoped_conf

_PINS_PATH = Path(__file__).parent / "plan_pins.json"

# The ten most expensive / most load-bearing registered queries (bench
# headliners + the LLM-pipeline flagships the VERDICT tracks).
PINNED = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q08_market_share",
    "q_bm25_rank",
    "q_semdedup",
    "q_winnow_dup_pairs",
    "q_minhash_lsh_pairs",
    "q_contamination",
    "q_embedding_near_dup",
    # the most expensive extended query, with a hand-pinned sort-merge
    # join AQE actively wants to invert (broadcasting the corpus-scaled
    # dup-hash set) — pinned so the merge hint can't silently regress
    "q_substring_dup_spans",
    # count-before-collect_list de-skew shape (r9) — shares the pinned
    # merge-hint rationale
    "q_containment_pairs",
    # frontier anti-join (r14): hand-pinned sort-merge on the canonical
    # URL key — the seen side scales with the corpus, AQE's small-SF
    # broadcast would invert at 10^10 frontier URLs
    "q_outlink_frontier",
    # ANN tiers whose broadcast sides + rounded-distance stages are now
    # oracle-critical (r9): probes/codebooks broadcast, corpus streams
    "q_ann_ivf",
    "q_ann_pq",
    # sketch-then-verify exact quantiles (r10): the bounds/nb broadcasts
    # and the candidate-sliver-only window sort are the whole point —
    # pinned so AQE can't silently invert a broadcast or a full-corpus
    # sort can't creep back in
    "q_approx_percentile",
]


def _normalized_plan(df) -> str:
    spark = df.sparkSession
    # toString truncates metadata lists (DataFilters, ReadSchema, …) at a
    # byte width, so the truncation point SHIFTS as global expression-id
    # lengths grow across a long session (#12 vs #1234) — the full suite
    # flipped 8 pins on exactly that artifact. Render untruncated, then
    # normalize the ids away.
    with scoped_conf(spark, {"spark.sql.maxMetadataStringLength": "100000"}):
        s = df._jdf.queryExecution().executedPlan().toString()
    s = re.sub(r"#\d+[A-Z]*", "#", s)  # expression ids
    # HOF lambda variables are numbered by a session-global counter
    # (lambda x_2 / y_2 in a fresh session, x_16 / y_17 after other HOF
    # plans compiled); every reference prints with the "lambda " prefix
    s = re.sub(r"\blambda ([a-z]+)_\d+", r"lambda \1_", s)
    s = re.sub(r"\[plan_id=\d+\]", "[plan_id=]", s)
    s = re.sub(r"\[id=#?\d*\]", "[id=]", s)
    s = re.sub(r"file:[^\s,\]\)]+", "PATH", s)
    s = re.sub(r"/[\w./-]*testdata[\w./-]*", "PATH", s)
    s = re.sub(r"InMemoryFileIndex\[[^\]]*\]", "InMemoryFileIndex[]", s)
    s = re.sub(r"Statistics\([^)]*\)", "Statistics()", s)
    s = re.sub(r"WholeStageCodegen \(\d+\)", "WholeStageCodegen", s)
    # partitioning.ensure_min_parallelism round-robins to the session's
    # defaultParallelism, i.e. the core count: pin that the exchange is
    # there, not how many cores recorded it. Every other count stays.
    parallelism = spark.sparkContext.defaultParallelism
    s = s.replace(
        f"RoundRobinPartitioning({parallelism})", "RoundRobinPartitioning(cores)"
    )
    return s


def _hash(df) -> str:
    return hashlib.sha256(_normalized_plan(df).encode()).hexdigest()[:16]


def test_headline_plan_hashes_pinned(spark, sf_dir):
    qs = queries()
    got = {name: _hash(qs[name](spark, sf_dir)) for name in PINNED}
    if os.environ.get("SPP_UPDATE_PLAN_PINS"):
        _PINS_PATH.write_text(json.dumps(got, indent=2) + "\n")
        pytest.fail(
            f"plan pins rewritten to {_PINS_PATH} — review the diff, re-run "
            "bench.py on the changed queries, and commit (this failure is "
            "the update workflow, not a regression)"
        )
    assert _PINS_PATH.exists(), (
        "tests/plan_pins.json missing — generate with "
        "SPP_UPDATE_PLAN_PINS=1 python -m pytest tests/test_plan_pins.py"
    )
    want = json.loads(_PINS_PATH.read_text())
    changed = {n: (want.get(n), got[n]) for n in PINNED if want.get(n) != got[n]}
    assert not changed, (
        f"physical plan changed for {sorted(changed)} — if intentional, "
        "re-pin via SPP_UPDATE_PLAN_PINS=1 pytest tests/test_plan_pins.py "
        "and re-run bench.py on those queries; if not, find the commit "
        "that moved the plan"
    )
