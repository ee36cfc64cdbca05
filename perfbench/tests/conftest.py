import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]
# Spark's Python workers import the package through PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from dedupe_spark.session import get_spark

    s = get_spark("perfbench-test", cores=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()
