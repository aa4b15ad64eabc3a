import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A small local[2] session whose Python workers can import the
    engine from this checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from aarhus_spark.session import get_spark
    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4,
                  extra={"spark.local.dir": str(local), "spark.driver.memory": "1g",
                         "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
