"""The two bench entry points parse and validate their arguments before any
Spark session starts: these run in seconds and need no JVM."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCENARIOS = ["scaling", "skew", "phases", "incremental", "churn", "kernel"]


def _run(*argv):
    return subprocess.run([sys.executable, *argv], cwd=ROOT, capture_output=True, text=True,
                          timeout=60)


@pytest.mark.parametrize("argv", [
    ["bench_extra.py", "--help"],
    ["scripts/bench_scaling.py", "--help"],
    *(["scripts/bench_scaling.py", s, "--help"] for s in SCENARIOS),
])
def test_help(argv):
    proc = _run(*argv)
    assert proc.returncode == 0, proc.stderr
    assert "usage:" in proc.stdout


@pytest.mark.parametrize("extra", [["--folds", "4", "--compact-at", "4"], ["--compact-at", "0"]])
def test_churn_rejects_compaction_outside_the_fold_sequence(extra):
    proc = _run("scripts/bench_scaling.py", "churn", *extra)
    assert proc.returncode != 0
    assert "--compact-at must satisfy 0 < compact-at < folds" in proc.stderr
    assert "Traceback" not in proc.stderr  # rejected by argparse, before any session
