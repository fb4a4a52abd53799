import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from spatialjoincountovershells_spark import get_spark

    base = tmp_path_factory.mktemp("spark")
    os.environ["SJCS_CHECKPOINT_DIR"] = str(base / "ckpt")
    s = get_spark(app="perfbench-tests", master="local[2]", driver_memory="1g",
                  extra={"spark.local.dir": str(base / "local"),
                         "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()
