import os
import re

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # fast session for unit tests

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def spark():
    from betl_spark.session import build_spark

    s = build_spark("betl_spark_tests", shuffle_partitions=4)
    yield s


@pytest.fixture()
def dfl(spark, tmp_path):
    from betl_spark.config import Conf
    from betl_spark.dataflow.core import DataFlow

    conf = Conf(app_root=str(tmp_path))
    return DataFlow(conf, "test dataflow", spark=spark)


def rows(df, *order_cols):
    """Collect to a sorted list of tuples for exact comparison."""
    out = [tuple(r) for r in df.collect()]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


def engine_lines_matching(pattern: str, owner: str) -> list[str]:
    """``path:line`` of every line of ``betl_spark/`` that matches
    ``pattern``, outside the one module ``owner`` (relative to
    ``betl_spark/``) allowed to hold it."""
    call = re.compile(pattern)
    owner = os.path.join(REPO, "betl_spark", owner)
    found = []
    for root, _, files in os.walk(os.path.join(REPO, "betl_spark")):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == owner:
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if call.search(line):
                        found.append(f"{os.path.relpath(path, REPO)}:{i}")
    return found
