"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Run from the root of a checkout; the Spark tests start one small local
session with an uncompressed event log.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
os.environ["PYTHONPATH"] = os.pathsep.join(
    x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
