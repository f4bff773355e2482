"""IO round-trip + load-engine tests: the golden star-schema pipeline
(SURVEY.md §5 test-plan item 3) — extract → LOD → dim load with SK
assignment and default rows → fact load with SK lookup and −1 fallback."""

import datetime
import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row, functions as F, types as T

from betl_spark.config import Conf
from betl_spark.dataflow.core import DataFlow
from betl_spark.defaults.dm_date import date_dimension
from betl_spark.defaults.dm_audit import audit_dimension
from betl_spark.defaults.load import (
    assign_surrogate_keys,
    bulk_load_dimension,
    default_rows_df,
    resolve_fact_fks,
    sk_nk_map,
)
from betl_spark.contract.common import TABLES
from betl_spark.io.readers import footer_schema, local_rows, read_parquet, read_staged
from betl_spark.io.writers import write_staged
from betl_spark.schema.registry import SchemaRegistry, all_string_schema
from tests.conftest import engine_lines_matching, rows


def test_staged_write_read_round_trip_all_string(spark, tmp_path):
    conf = Conf(app_root=str(tmp_path))
    dfl = DataFlow(conf, "rt", spark=spark)
    dfl.createDataset("t", {"a": ["1", "", "3"], "b": ["x", "y", ""]})
    dfl.write("t", "t", "TRN", keepDataflowOpen=True)
    dfl2 = DataFlow(conf, "rt2", spark=spark)
    out = dfl2.read("t", "TRN")
    # staging keeps '' (not null) — reference fileIO.py:26-51 semantics
    assert rows(out) == [("", "y"), ("1", "x"), ("3", "")]


def test_warehouse_write_converts_empty_to_null(spark, tmp_path):
    conf = Conf(app_root=str(tmp_path))
    dfl = DataFlow(conf, "wh", spark=spark)
    dfl.createDataset("t", {"a": ["1", ""], "b": ["", "y"]})
    dfl.write("t", "t", "BSE", keepDataflowOpen=True)
    back = spark.read.parquet(conf.layer_path("BSE", "t"))
    assert rows(back) == [("1", None), (None, "y")]


def test_write_validates_and_reorders_against_schema(spark, tmp_path):
    conf = Conf(app_root=str(tmp_path))
    reg = SchemaRegistry()
    reg.define(
        "BSE",
        "dm_thing",
        [
            ("sk_thing", "SERIAL", "Surrogate key"),
            ("nk_thing", "TEXT", "Natural key"),
            ("attr", "TEXT", "Attribute"),
        ],
    )
    dfl = DataFlow(conf, "v", spark=spark, registry=reg)
    # wrong order + missing sk/audit is fine; unknown col is not
    dfl.createDataset("d", {"attr": ["x"], "nk_thing": ["k1"]})
    dfl.write("d", "dm_thing", "BSE", keepDataflowOpen=True)
    back = spark.read.parquet(conf.layer_path("BSE", "dm_thing"))
    assert back.columns == ["nk_thing", "attr"]  # schema order
    dfl.createDataset("bad", {"nk_thing": ["k"], "attr": ["x"], "rogue": ["!"]})
    with pytest.raises(ValueError, match="rogue"):
        dfl.write("bad", "dm_thing", "BSE", keepDataflowOpen=True)


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


TYPED_SCHEMA = T.StructType([
    T.StructField("amount", T.DecimalType(12, 2), True, {"comment": "money"}),
    T.StructField("day", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("ts_ntz", T.TimestampNTZType()),
    T.StructField("tags", T.ArrayType(T.LongType())),
    T.StructField("pair", T.StructType([
        T.StructField("a", T.IntegerType(), False), T.StructField("b", T.StringType()),
    ])),
    T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType())),
    T.StructField("n", T.LongType(), False),
])
TYPED_ROW = (
    decimal.Decimal("1.25"), datetime.date(2020, 1, 2),
    datetime.datetime(2020, 1, 2, 3, 4, 5), datetime.datetime(2020, 1, 2, 3, 4, 5),
    [1, 2], (1, "x"), {"k": 1.5}, 7,
)


@pytest.mark.parametrize("kind", ["typed", "empty", "all_string"])
def test_read_staged_schema_equals_spark_inference(spark, tmp_path, kind):
    if kind == "all_string":
        df = spark.createDataFrame([("1", ""), ("", "y")], schema=all_string_schema(["a", "b"]))
    else:
        df = spark.createDataFrame([TYPED_ROW] * 2, TYPED_SCHEMA)
        df = df.limit(0) if kind == "empty" else df
    path = str(tmp_path / kind)
    write_staged(df, path)
    got = read_staged(spark, path, all_string=False)
    assert got.schema.json() == spark.read.parquet(path).schema.json()
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, spark.read.parquet(path).collect())
    )


def test_read_staged_flat_dir_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "flat")
    write_staged(spark.createDataFrame([TYPED_ROW], TYPED_SCHEMA).repartition(3), path)
    # a file from another writer carries no Spark row metadata in its footer
    arrow = tmp_path / "arrow"
    arrow.mkdir()
    pq.write_table(
        pa.table({
            "k": pa.array([1, 2]),
            "s": pa.array(["a", None]),
            "ts": pa.array([datetime.datetime(2020, 1, 2), None], pa.timestamp("us")),
        }),
        arrow / "part-0.parquet",
    )
    before = _jobs(spark)
    read_staged(spark, path, all_string=False)
    read_staged(spark, path, all_string=True, limit=1)
    got = read_staged(spark, str(arrow), all_string=False)
    assert _jobs(spark) == before
    assert got.schema == spark.read.parquet(str(arrow)).schema
    assert [f.dataType.simpleString() for f in got.schema] == ["bigint", "string", "timestamp_ntz"]


def test_footer_schema_takes_the_first_file_in_path_order(spark, tmp_path):
    """Spark's non-merging inference reads the first data file in path
    order, not in listing order."""
    for name in ("c", "d", "e", "b"):
        pq.write_table(pa.table({name: [1]}), tmp_path / f"part-{name}.parquet")
    got = read_parquet(spark, str(tmp_path))
    assert got.schema == spark.read.parquet(str(tmp_path)).schema
    assert got.columns == ["b"]


@pytest.mark.parametrize("nanos_as_long", ["false", "true"])
@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_read_parquet_schema_equals_spark_inference(spark, sf, nanos_as_long):
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, "false")
    spark.conf.set(key, nanos_as_long)
    try:
        for name in TABLES:
            path = f"/root/testdata/{sf}/{name}.parquet"
            assert footer_schema(spark, path) is not None, name
            assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, name
    finally:
        spark.conf.set(key, prior)


def test_parquet_reads_only_in_the_reader():
    """Every batch parquet read in the engine goes through
    ``io.readers.read_parquet``."""
    found = engine_lines_matching(
        r"\.read\b.*(\.parquet\(|format\([\"']parquet)", "io/readers.py"
    )
    assert not found, found


def test_read_staged_falls_back_for_partitions_and_merge_schema(spark, tmp_path):
    part = str(tmp_path / "part")
    write_staged(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"), part, partition_by=["k"]
    )
    assert footer_schema(spark, part) is None
    got = read_staged(spark, part, all_string=False)
    assert got.schema.json() == spark.read.parquet(part).schema.json()
    assert sorted(got.columns) == ["k", "v"]

    merged = str(tmp_path / "merged")
    write_staged(spark.createDataFrame([(1,)], "a long"), merged)
    write_staged(spark.createDataFrame([(2, "x")], "a long, b string"), merged, mode="append")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert footer_schema(spark, merged) is None
        got = read_staged(spark, merged, all_string=False)
        assert got.schema.json() == spark.read.parquet(merged).schema.json()
        assert sorted(got.columns) == ["a", "b"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_local_rows_keep_exact_schema_without_python_rdd(spark):
    df = local_rows(spark, [TYPED_ROW], TYPED_SCHEMA)
    assert df.schema == TYPED_SCHEMA
    assert [tuple(r) for r in df.drop("ts").collect()] == [
        (*TYPED_ROW[:2], *TYPED_ROW[3:5], Row(a=1, b="x"), *TYPED_ROW[6:])
    ]
    # a naive TimestampType value is taken as UTC
    assert df.select(F.unix_seconds("ts")).first()[0] == 1577934245
    empty = local_rows(spark, [], TYPED_SCHEMA)
    assert empty.schema == TYPED_SCHEMA and empty.count() == 0
    assert "ExistingRDD" not in _executed_plan(df) + _executed_plan(empty)


def test_load_path_runs_no_python_rdd(spark, tmp_path, monkeypatch):
    """The −1/−2 default rows, the bulk-loaded BSE dimension and the
    missing-dimension key map are JVM-side local relations, never a
    Python RDD scan."""
    import betl_spark.defaults.load as load
    from betl_spark.pipeline import Pipeline

    schema = T.StructType([
        T.StructField("sk_x", T.LongType(), False),
        T.StructField("nk_x", T.StringType(), True),
        T.StructField("price", T.DecimalType(10, 2), True),
    ])
    defaults = default_rows_df(
        spark, schema, "sk_x",
        [{"sk_x": -1, "_label": "MISSING"}, {"sk_x": -2, "_label": "UNRECOGNISED"}],
    )
    assert defaults.schema == schema
    assert rows(defaults) == [(-1, "MISSING", None), (-2, "UNRECOGNISED", None)]
    assert "ExistingRDD" not in _executed_plan(defaults)

    written = {}

    def capture(df, path, *a, **kw):
        written[path.rstrip("/").rsplit("/", 1)[-1]] = df
        write_staged(df, path, *a, **kw)

    monkeypatch.setattr(load, "write_staged", capture)
    conf = Conf(app_root=str(tmp_path))
    reg = SchemaRegistry()
    reg.define("BSE", "dm_x", [
        ("sk_x", "SERIAL", "Surrogate key"), ("nk_x", "TEXT", "Natural key"),
        ("price", "NUMERIC", "Attribute"),
    ])
    reg.define("BSE", "ft_y", [
        ("fk_x", "BIGINT", "Foreign key", "dm_x"),
        ("fk_ghost", "BIGINT", "Foreign key", "dm_ghost"),
        ("qty", "INTEGER", "Attribute"),
    ])
    p = Pipeline(conf, registry=reg, spark=spark)
    dfl = p.dataflow("stage")
    dfl.createDataset("dm_x", {"nk_x": ["b", "a"], "price": ["1.50", ""]})
    dfl.prepForLoad("dm_x")
    dfl.createDataset("ft_y", {"nk_x": ["a", "z"], "nk_ghost": ["g", "g"], "qty": ["1", "2"]})
    dfl.prepForLoad("ft_y")
    load.bulk_load_dimension(p, reg.get_table("BSE", "dm_x"))
    load.bulk_load_fact(p, reg.get_table("BSE", "ft_y"))

    for name in ("dm_x", "sk_dm_x", "ft_y"):
        assert "ExistingRDD" not in _executed_plan(written[name]), name
    dim = written["dm_x"]
    typed = {f.name: f.dataType for f in dim.schema.fields}
    assert isinstance(typed["sk_x"], T.LongType)
    assert isinstance(typed["price"], T.DecimalType)
    got = {r.sk_x: (r.nk_x, r.price) for r in dim.collect()}
    assert got[-1] == ("MISSING", None) and got[-2] == ("UNRECOGNISED", None)
    assert got[1] == ("a", None) and got[2] == ("b", decimal.Decimal("1.50"))
    fks = {r.qty: (r.fk_x, r.fk_ghost) for r in written["ft_y"].collect()}
    assert fks == {1: (1, -1), 2: (-1, -1)}


def test_star_schema_pipeline_plan_build_job_bound(spark):
    """Building star_schema_pipeline at sf0.001 launches at most 11
    Spark jobs, the count measured with every parquet read taking its
    schema from the footer. A schema-inference job for a source-table or
    staged read, or a job at SK plan build, pushes it over."""
    from betl_spark.contract.pipeline_e2e import q_star_schema_pipeline
    from tests.test_oracle_parity import SMALL_DIR

    before = _jobs(spark)
    q_star_schema_pipeline(spark, SMALL_DIR)
    assert _jobs(spark) - before <= 11


def test_assign_surrogate_keys_dense_in_nk_order(spark):
    df = spark.createDataFrame(
        [("c",), ("a",), ("b",), ("d",)], schema=all_string_schema(["nk"])
    ).repartition(3)
    out = assign_surrogate_keys(df, "sk", ["nk"])
    assert rows(out.select("nk", "sk")) == [("a", 1), ("b", 2), ("c", 3), ("d", 4)]
    # offset continues numbering past existing max (append semantics)
    out2 = assign_surrogate_keys(df, "sk", ["nk"], offset=100)
    assert [r.sk for r in out2.orderBy("nk").collect()] == [101, 102, 103, 104]


def test_sk_and_delta_loads_launch_no_job_at_plan_build(spark):
    from betl_spark.defaults.delta import delta_load_dimension, scd2_apply

    schema = all_string_schema(["nk", "attr"])
    prev_src = local_rows(spark, [("a", "x"), ("c", "y")], schema)
    incoming = local_rows(spark, [("a", "X"), ("b", "z")], schema)
    before = _jobs(spark)
    prev = assign_surrogate_keys(prev_src, "sk", ["nk"], offset=10)
    delta = delta_load_dimension(prev, incoming, "sk", ["nk"])
    scd2_prev = (
        prev.withColumn("valid_from", F.lit(1).cast("long"))
        .withColumn("valid_to", F.lit(None).cast("long"))
        .withColumn("is_current", F.lit(True))
    )
    scd2 = scd2_apply(scd2_prev, incoming, "sk", ["nk"], batch_id=2)
    assert _jobs(spark) == before
    assert rows(delta) == [(11, "a", "X"), (12, "c", "y"), (13, "b", "z")]
    assert rows(scd2.select("sk", "nk", "attr", "is_current")) == [
        (11, "a", "x", False), (12, "c", "y", False), (13, "a", "X", True), (14, "b", "z", True),
    ]


def test_sk_queries_leave_no_persisted_rdd(spark):
    """The SK engine's numbering pass caches nothing past its query."""
    import gc

    from betl_spark.contract.operators import q_sk_dimension
    from betl_spark.contract.pipeline_e2e import q_star_schema_pipeline
    from betl_spark.contract.streaming_delta import q_scd2_dimension
    from betl_spark.operators.util import persistent_rdd_ids
    from tests.test_oracle_parity import SMALL_DIR

    def persisted() -> set:
        gc.collect()
        spark._jvm.System.gc()
        return persistent_rdd_ids(spark)

    # ids, not a count: RDDs earlier tests left may be collected meanwhile
    start = persisted()
    for q in (q_sk_dimension, q_scd2_dimension, q_star_schema_pipeline):
        q(spark, SMALL_DIR).write.format("noop").mode("overwrite").save()
        assert persisted() <= start, q.__name__


def test_bulk_load_dimension_key_map_matches_loaded_table(spark, tmp_path):
    from betl_spark.pipeline import Pipeline

    conf = Conf(app_root=str(tmp_path))
    reg = SchemaRegistry()
    reg.define("BSE", "dm_x", [
        ("sk_x", "SERIAL", "Surrogate key"), ("nk_x", "TEXT", "Natural key"),
        ("attr", "TEXT", "Attribute"),
    ])
    p = Pipeline(conf, registry=reg, spark=spark)
    dfl = p.dataflow("stage")
    nks = [f"k{i:03d}" for i in range(60, 0, -1)]
    dfl.createDataset("dm_x", {"nk_x": nks, "attr": nks})
    dfl.prepForLoad("dm_x")
    bulk_load_dimension(p, reg.get_table("BSE", "dm_x"))
    bse = read_staged(spark, conf.layer_path("BSE", "dm_x"), all_string=False)
    key_map = read_staged(spark, conf.layer_path("LOD", "sk_dm_x"), all_string=False)
    loaded = rows(bse.select(F.col("sk_x").alias("sk"), F.col("nk_x").alias("nk")))
    assert loaded == rows(key_map)
    assert sorted(loaded)[2:] == [(i + 1, nk) for i, nk in enumerate(sorted(nks))]


RETRY_SCRIPT = """
import sys
from pyspark import TaskContext
from pyspark.sql import Window, functions as F, types as T
from betl_spark.defaults.load import assign_surrogate_keys
from betl_spark.io.readers import local_rows
from betl_spark.session import build_spark

marker = sys.argv[1]
spark = build_spark("sk_retry", master="local[2,2]", shuffle_partitions=3)
schema = T.StructType([T.StructField("nk", T.StringType())])
src = local_rows(spark, [(f"n{(i * 37) % 200:03d}",) for i in range(200)], schema).repartition(4)


@F.udf("long")
def fail_first_attempt(sk):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        open(marker, "w").close()
        raise RuntimeError("injected first-attempt failure")
    return sk


out = assign_surrogate_keys(src, "sk", ["nk"]).select("nk", fail_first_attempt("sk").alias("sk"))
want = src.select("nk", F.row_number().over(Window.orderBy("nk")).cast("long").alias("sk"))
got = sorted(map(tuple, out.collect()))
assert got == sorted(map(tuple, want.collect())), got[:5]
spark.stop()
"""


def test_sk_numbering_survives_a_task_retry(tmp_path):
    """A first-attempt task failure downstream of the SK engine is retried
    (``local[2,2]``) and the keys still equal row_number() in NK order."""
    import os
    import subprocess
    import sys

    marker = tmp_path / "failed_once"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", RETRY_SCRIPT, str(marker)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert marker.exists()


def test_sk_nk_map_and_fact_fk_resolution(spark):
    dim = spark.createDataFrame(
        [(1, "cust1"), (2, "cust2")], schema=["sk_customer", "nk_customer"]
    )
    m = sk_nk_map(dim, "sk_customer", ["nk_customer"])
    fact = spark.createDataFrame(
        [("cust1", 10.0), ("cust2", 20.0), ("ghost", 30.0)],
        schema=["nk_customer", "amount"],
    )
    out = resolve_fact_fks(fact, {"fk_customer": m})
    assert rows(out.select("fk_customer", "amount")) == [
        (-1, 30.0),
        (1, 10.0),
        (2, 20.0),
    ]
    assert "nk_customer" not in out.columns


def test_date_dimension_attributes(spark):
    dim = date_dimension(spark, "2020-02-28", "2020-03-02", include_default_rows=True)
    got = {r.date_id: r for r in dim.collect()}
    assert set(got) == {20200228, 20200229, 20200301, 20200302, -1, -2}
    leap = got[20200229]
    assert leap.cal_day == 29 and leap.cal_month == 2 and leap.cal_year == 2020
    assert leap.day_number == 60  # day-of-year on a leap year
    assert leap.cal_date == datetime.date(2020, 2, 29)
    sat = got[20200229]
    assert sat.day_of_week_sun_1 == 7 and sat.day_of_week_mon_1 == 6
    assert sat.day_of_week_sun_0 == 6 and sat.day_of_week_mon_0 == 5
    assert got[-1].cal_date is None


def test_audit_dimension_is_cartesian(spark):
    dim = audit_dimension(spark)
    assert dim.count() == 40  # 4 load ops × 10 DQ scores
    assert dim.select("load_operation").distinct().count() == 4


def test_golden_star_pipeline(spark, tmp_path):
    """End-to-end: source extract → LOD prep → dim load → fact load."""
    from betl_spark.config import ScheduleConfig
    from betl_spark.io.datastore import Datastore
    from betl_spark.pipeline import Pipeline

    conf = Conf(app_root=str(tmp_path))
    reg = SchemaRegistry()
    reg.define(
        "BSE",
        "dm_product",
        [
            ("sk_product", "SERIAL", "Surrogate key"),
            ("nk_product", "TEXT", "Natural key"),
            ("product_name", "TEXT", "Attribute"),
        ],
    )
    reg.define(
        "BSE",
        "ft_sales",
        [
            ("fk_product", "INTEGER", "Foreign key", "dm_product"),
            ("qty", "INTEGER", "Attribute"),
        ],
    )
    p = Pipeline(conf, registry=reg, spark=spark)

    # stage a dimension + a fact into LOD, as bespoke dataflows would
    dfl = p.dataflow("stage dim")
    dfl.createDataset(
        "dm_product", {"nk_product": ["p2", "p1"], "product_name": ["Beta", "Alpha"]}
    )
    dfl.prepForLoad("dm_product")
    dfl2 = p.dataflow("stage fact")
    dfl2.createDataset(
        "ft_sales",
        {
            "nk_product": ["p1", "p2", "p9"],
            "qty": ["5", "3", "1"],
            "audit_source_system": ["S", "S", "S"],
            "audit_bulk_load_date": ["2026-01-01"] * 3,
            "audit_latest_delta_load_date": [""] * 3,
            "audit_latest_load_operation": ["BULK"] * 3,
        },
    )
    dfl2.prepForLoad("ft_sales")

    from betl_spark.defaults import bulk_load_dimension, bulk_load_fact

    bulk_load_dimension(p, reg.get_table("BSE", "dm_product"))
    bulk_load_fact(p, reg.get_table("BSE", "ft_sales"))

    dim = spark.read.parquet(conf.layer_path("BSE", "dm_product"))
    got = {r.nk_product: r.sk_product for r in dim.collect()}
    assert got["p1"] == 1 and got["p2"] == 2  # NK-ordered dense SKs
    assert set(got.values()) == {1, 2, -1, -2}

    fact = spark.read.parquet(conf.layer_path("BSE", "ft_sales"))
    fk = {r.qty: r.fk_product for r in fact.collect()}
    assert fk[5] == 1 and fk[3] == 2 and fk[1] == -1  # unmatched NK → −1


def test_schedule_dataflows_topological(spark, tmp_path):
    from betl_spark.pipeline import Pipeline

    p = Pipeline(Conf(app_root=str(tmp_path)), registry=SchemaRegistry(), spark=spark)
    order = []

    def load_dim(pl):
        order.append("load_dim")

    def load_fact(pl):
        order.append("load_fact")

    def stage(pl):
        order.append("stage")

    ran = p.schedule_dataflows(
        [load_fact, load_dim, stage],
        upstream={"load_fact": ["load_dim"], "load_dim": ["stage"]},
    )
    assert order == ["stage", "load_dim", "load_fact"]
    assert ran == order
    assert p.run_log[-3:] == ["dataflow_stage", "dataflow_load_dim", "dataflow_load_fact"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="cycle"):
        p.schedule_dataflows(
            [load_dim, load_fact],
            upstream={"load_dim": ["load_fact"], "load_fact": ["load_dim"]},
        )
    with _pytest.raises(ValueError, match="unknown"):
        p.schedule_dataflows([load_dim], upstream={"load_dim": ["nope"]})


def test_jsonl_datastore_read_write_and_inference(spark, tmp_path):
    """JSONL source end-to-end: write_jsonl export, Datastore scan with
    inferred + explicit schema, and readsrc-style typed inference."""
    import json

    from betl_spark.admin import _infer_jsonl
    from betl_spark.io.datastore import Datastore
    from betl_spark.io.readers import read_source_table
    from betl_spark.io.writers import write_jsonl

    src = tmp_path / "jsonl_src"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "hello world", "score": 0.5},
        {"doc_id": 2, "text": "unicode ü", "score": 1.25},
        {"doc_id": 3, "text": None, "score": None},
    ]
    (src / "docs.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    store = Datastore("J", "JSONL", is_src_sys=True, path=str(src))
    assert store.file_ext == ".jsonl"
    df = read_source_table(spark, store, "docs")
    got = sorted(map(tuple, df.select("doc_id", "text", "score").collect()))
    assert got == [(1, "hello world", 0.5), (2, "unicode ü", 1.25), (3, None, None)]

    # explicit schema skips the inference pass and pins types
    typed = Datastore(
        "J2", "JSONL", is_src_sys=True, path=str(src),
        extra={"schema": "doc_id BIGINT, text STRING, score DOUBLE"},
    )
    df2 = read_source_table(spark, typed, "docs", cols=["doc_id", "score"])
    assert df2.columns == ["doc_id", "score"] and df2.count() == 3

    cols = {c.name: c.data_type for c in _infer_jsonl(spark, store, "docs")}
    assert cols == {"doc_id": "BIGINT", "text": "TEXT", "score": "DOUBLE"}

    # round-trip export
    out = tmp_path / "export"
    write_jsonl(df, str(out))
    back = spark.read.json(str(out))
    assert back.count() == 3


def test_pipeline_dag_spec_barriers_and_dims_before_facts(spark, tmp_path):
    """to_dag_spec exposes the stage plan without executing anything:
    per-source extracts are parallel, every next stage depends on ALL
    of the previous group, and bulk dim loads come strictly before
    fact loads."""
    from betl_spark.config import Conf, ScheduleConfig
    from betl_spark.pipeline import Pipeline
    from betl_spark.schema.registry import SchemaRegistry

    def t_stage(p):
        pass

    reg = SchemaRegistry()
    reg.define("BSE", "dm_x", [("sk_x", "SERIAL", "Surrogate key"),
                               ("nk_x", "TEXT", "Natural key")])
    reg.define("BSE", "ft_y", [("fk_x", "INTEGER", "Foreign key", "dm_x"),
                               ("v", "INTEGER", "Attribute")])
    conf = Conf(app_root=str(tmp_path))
    conf.schedule = ScheduleConfig(
        src_system_ids=["A", "B"],
        transform_dataflows=[t_stage],
    )
    spec = Pipeline(conf, registry=reg, spark=spark).to_dag_spec()
    up = {t["task_id"]: t["upstream"] for t in spec["tasks"]}
    # parallel extracts, no cross-deps
    assert up["bulkExtract_A"] == [] and up["bulkExtract_B"] == []
    # next stage barriers on BOTH extracts
    assert sorted(up["transformDMDate"]) == ["bulkExtract_A", "bulkExtract_B"]
    # bespoke transform waits for the date/audit dims
    assert sorted(up["transform_t_stage"]) == ["transformDMAudit", "transformDMDate"]
    # dims strictly before facts
    assert up["bulkLoad_ft_y"] == ["bulkLoad_dm_x"]
    assert up["bulkLoad_dm_x"] == ["transform_t_stage"]
    assert up["summarisePrep"] == ["bulkLoad_ft_y"]


def test_pipeline_run_executes_the_dag_spec_order(spark, tmp_path):
    """run() and to_dag_spec() derive from the same plan: the executed
    task log is exactly the spec's task ids in topological order."""
    from betl_spark.config import Conf, ScheduleConfig
    from betl_spark.pipeline import Pipeline
    from betl_spark.schema.registry import SchemaRegistry

    ran = []

    def ex_a(p):
        ran.append("ex_a")

    def tr_b(p):
        ran.append("tr_b")

    def ld_c(p):
        ran.append("ld_c")

    conf = Conf(app_root=str(tmp_path))
    conf.schedule = ScheduleConfig(
        default_extract=False, default_load=False, default_summarise=False,
        extract_dataflows=[ex_a],
        transform_dataflows=[tr_b],
        load_dim_dataflows=[ld_c],
    )
    p = Pipeline(conf, registry=SchemaRegistry(), spark=spark)
    spec_ids = [t["task_id"] for t in p.to_dag_spec()["tasks"]]
    log = p.run()
    assert log == spec_ids == ["extract_ex_a", "transform_tr_b", "loadDim_ld_c"]
    assert ran == ["ex_a", "tr_b", "ld_c"]


def test_pipeline_to_airflow_dag_raises_without_airflow(spark, tmp_path):
    from betl_spark.config import Conf
    from betl_spark.pipeline import Pipeline
    from betl_spark.schema.registry import SchemaRegistry

    p = Pipeline(Conf(app_root=str(tmp_path)), registry=SchemaRegistry(), spark=spark)
    try:
        import airflow  # noqa: F401
    except ImportError:
        import pytest as _pytest

        with _pytest.raises(ImportError, match="to_dag_spec"):
            p.to_airflow_dag(dag=None)


def test_dataflows_dag_spec_mirrors_scheduler_contract(spark, tmp_path):
    from betl_spark.config import Conf
    from betl_spark.pipeline import Pipeline
    from betl_spark.schema.registry import SchemaRegistry

    def extract(p):
        pass

    def load_dim(p):
        pass

    def load_fact(p):
        pass

    p = Pipeline(Conf(app_root=str(tmp_path)), registry=SchemaRegistry(), spark=spark)
    spec = p.dataflows_dag_spec(
        [extract, load_dim, load_fact],
        upstream={"load_dim": ["extract"], "load_fact": ["load_dim"]},
    )
    assert spec == {
        "tasks": [
            {"task_id": "dataflow_extract", "upstream": []},
            {"task_id": "dataflow_load_dim", "upstream": ["dataflow_extract"]},
            {"task_id": "dataflow_load_fact", "upstream": ["dataflow_load_dim"]},
        ]
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown dataflow"):
        p.dataflows_dag_spec([extract], upstream={"extract": ["missing"]})


def test_orc_roundtrip_via_datastore(spark, tmp_path):
    from betl_spark.io.datastore import Datastore
    from betl_spark.io.readers import read_source_table
    from betl_spark.io.writers import write_orc

    src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    write_orc(src, str(tmp_path / "nation.orc"))
    ds = Datastore("orc_src", "ORC", is_src_sys=True, path=str(tmp_path))
    back = read_source_table(spark, ds, "nation")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )
    # cols/limit flow through like any source
    two = read_source_table(spark, ds, "nation", cols=["n_name"], limit=2)
    assert two.columns == ["n_name"] and two.count() == 2


def test_fixed_width_roundtrip_via_datastore(spark, tmp_path):
    from pyspark.sql import functions as F

    from betl_spark.io.datastore import Datastore
    from betl_spark.io.readers import read_source_table
    from betl_spark.io.writers import write_fixed_width

    rows = [(1, "alice", "en"), (22, "bob", ""), (333, None, "fr")]
    df = spark.createDataFrame(rows, "id int, name string, lang string")
    specs = [("id", 0, 5), ("name", 5, 10), ("lang", 15, 2)]
    write_fixed_width(df, str(tmp_path / "people.txt"), specs)
    ds = Datastore(
        "fw_src", "FIXEDWIDTH", is_src_sys=True, path=str(tmp_path),
        extra={"colspecs": specs},
    )
    back = read_source_table(spark, ds, "people")
    got = sorted(tuple(r) for r in back.collect())
    # all-string staging semantics: values trimmed, NULL came back ''
    assert got == [("1", "alice", "en"), ("22", "bob", ""), ("333", "", "fr")]
    # every line is exactly the declared record length
    lens = {len(r["value"]) for r in spark.read.text(str(tmp_path / "people.txt")).collect()}
    assert lens == {17}
    # non-contiguous colspecs are refused at write time
    import pytest as _pytest

    with _pytest.raises(ValueError, match="contiguous"):
        write_fixed_width(df, str(tmp_path / "bad.txt"), [("id", 0, 5), ("name", 7, 4)])
