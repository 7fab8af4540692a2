import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
# Spark's Python workers import the engine from the repository root
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


@pytest.fixture(scope="session")
def spark():
    from library_beam_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]")
    yield s
    s.stop()
