"""The benchmark's stored oracle fingerprints agree with the query oracles.

``perfbench/oracle.py`` recomputes the batch_builders fingerprints from each
query's DuckDB oracle over ``perfbench/data`` and exits non-zero on any
mismatch with the stored file, so an oracle rewrite that drifts a result
fails here rather than first in a benchmark run.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_oracle_fingerprints_verify():
    res = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "oracle.py")],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stdout + res.stderr
