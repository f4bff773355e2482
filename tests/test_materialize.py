"""One materialization helper (``operators.util.materialize``): every
checkpoint in the engine goes through it, driver-built operator frames
are local relations, and with ``spark.checkpoint.dir`` set a query over
eager checkpoints survives the loss of every executor."""

import os

from tests.conftest import REPO, engine_lines_matching


def test_checkpoints_only_in_the_helper():
    found = engine_lines_matching(r"\.(localCheckpoint|checkpoint)\(", "operators/util.py")
    assert not found, found


def test_small_graph_clusters_are_a_local_relation(spark):
    from betl_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4), (7, 7)], "id_a long, id_b long"
    )
    out = duplicate_clusters(pairs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert dict(out.collect()) == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    assert [f.dataType.simpleString() for f in out.schema] == ["bigint", "bigint"]


EXECUTOR_LOSS_SCRIPT = """
import sys
import time

import duckdb

from betl_spark.contract import ORACLES, QUERIES
from betl_spark.contract.common import TABLES
from betl_spark.session import build_spark
from tests.test_oracle_parity import SMALL_DIR, normalize

NAME = "er_3day_chain"
spark = build_spark(
    "executor_loss",
    master="local-cluster[2,1,1024]",
    shuffle_partitions=2,
    extra_conf={"spark.checkpoint.dir": sys.argv[1]},
)
spark.sparkContext.setLogLevel("OFF")
sc = spark.sparkContext._jsc.sc()


def executor_ids():
    it = sc.getExecutorIds().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


deadline = time.time() + 120
while len(executor_ids()) < 2 and time.time() < deadline:
    time.sleep(0.5)
old = executor_ids()
assert len(old) == 2, old

df = QUERIES[NAME](spark, SMALL_DIR)
for e in old:
    sc.killExecutor(e)
sc.requestExecutors(len(old))
deadline = time.time() + 120
while time.time() < deadline:
    now = executor_ids()
    if len(now) == len(old) and not now & old:
        break
    time.sleep(0.5)
now = executor_ids()
assert len(now) == len(old) and not now & old, (old, now)

try:
    got = [tuple(r) for r in df.collect()]
except Exception as e:  # the Java error's first lines name its class
    sys.exit("action failed: " + " ".join(str(e).splitlines()[:2])[:1000])
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SMALL_DIR}/{t}.parquet'")
res = con.execute(ORACLES[NAME])
want = normalize([d[0] for d in res.description], res.fetchall())
assert len(want[1]) >= 3, want
assert normalize(df.columns, got) == want, (len(got), len(want[1]))
spark.stop()
"""


def test_query_over_checkpoints_survives_executor_loss(tmp_path):
    """er_3day_chain's plan reads its eager day-0 and day-1 label maps.
    Every executor is killed after the plan is built and replaced; with
    ``spark.checkpoint.dir`` set the action still equals the oracle."""
    import subprocess
    import sys

    from pyspark.find_spark_home import _find_spark_home

    # local-cluster workers write under $SPARK_HOME/work: point them at a
    # copy of the installation, made of links, inside tmp_path
    real_home = _find_spark_home()
    home = tmp_path / "spark_home"
    home.mkdir()
    for name in os.listdir(real_home):
        if name != "work":
            (home / name).symlink_to(os.path.join(real_home, name))
    env = {
        **os.environ,
        "PYTHONPATH": REPO,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_HOME": str(home),
    }
    proc = subprocess.run(
        [sys.executable, "-c", EXECUTOR_LOSS_SCRIPT, str(tmp_path / "ckpt")],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
