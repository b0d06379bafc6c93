"""The benchmark's own test: every workload, untraced and traced, at tiny
size; every named metric must print with its unit and every output check
must pass. Takes a few minutes.

    python3 -m pytest fplbench/test_smoke.py -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def test_smoke_every_workload_reports_every_metric():
    assert run.smoke() == 0
