"""Negative control for the benchmark's correctness checks: a tampered
table row and a tampered query result must each fail the run.

Each case runs the real command (one short run, about a minute) with
``--tamper``, which corrupts one lake-table row through the package's
own UPDATE, or one cell of one query result, after the workload and
before its check. Run with:

    python3 -m pytest perfbench/test_negative_control.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _run(workload: str, tamper: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "0", "--tamper", tamper],
        capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.mark.parametrize(
    "workload, tamper, finding",
    [
        ("replay_bulk", "table", "table state != fold oracle"),
        ("trickle_cdc", "table", "final table state != fold oracle"),
        ("catalog", "query", "catalog q1_pricing_summary"),
    ],
)
def test_tampered_output_fails_the_run(workload, tamper, finding):
    code, lines = _run(workload, tamper)
    assert code != 0
    result = json.loads(lines[-1])
    assert result["correct"] is False
    assert result["failed"] == 0  # the check failed, not an operation
    assert any(line.startswith("CHECK FAILED") and finding in line for line in lines)
