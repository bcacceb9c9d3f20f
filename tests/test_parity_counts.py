"""PARITY.md's count block must match the live registry (r11 verdict #2/#5).

scripts/parity_counts.py owns the numbers; this test runs its --check mode
so a query registration without a doc regeneration fails CI instead of
drifting silently for a round. The ledger tests check the verification
order: the driver runs ``queries()`` in order and verifies the first 50.
"""

import json
import os
import subprocess
import sys

from stream_processing_platform_spark.registry import ledger_rounds, queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_parity_counts_current():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "parity_counts.py"), "--check"],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_ledger_freshness():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "ledger_check.py")],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_ledger_rounds_keeps_last_round_per_name(tmp_path):
    assert ledger_rounds(str(tmp_path)) == {}
    for fn, names in [
        ("CORRECTNESS_r9.json", ["a", "b"]),
        ("CORRECTNESS_r10.json", ["b"]),
        ("CORRECTNESS_r11.json.bak", ["a"]),
        ("CORRECTNESS_latest.json", ["a"]),
    ]:
        (tmp_path / fn).write_text(json.dumps({n: {} for n in names}))
    assert ledger_rounds(str(tmp_path)) == {"a": 9, "b": 10}


def test_verification_window_is_stalest_first():
    rounds = ledger_rounds()
    stalest = sorted(queries(), key=lambda name: (rounds.get(name, 0), name))
    assert list(queries())[:50] == stalest[:50]
