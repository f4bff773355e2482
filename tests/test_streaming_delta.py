"""Streaming surface + delta change-capture tests."""

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from betl_spark.defaults.delta import apply_delta, classify_changes
from betl_spark.streaming import (
    event_stream,
    run_stream_to_table,
    sessionize,
    sliding_window_agg,
    stateful_running_totals,
    tumbling_window_agg,
)
from betl_spark.streaming.events import EVENT_SCHEMA

SF = "/root/testdata/sf0.001"
EVENTS = f"{SF}/events.parquet"


def test_stream_tumbling_equals_batch(spark):
    from betl_spark.contract.common import ts_micros

    stream = event_stream(spark, EVENTS)
    out = run_stream_to_table(tumbling_window_agg(stream), output_mode="complete")
    ev = spark.read.parquet(EVENTS)
    batch = (
        ev.groupBy(
            ((ts_micros(ev) / F.lit(300_000_000)).cast("long") * 300).alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_event_stream_falls_back_only_for_an_empty_source(spark, tmp_path):
    """An empty directory streams with ``EVENT_SCHEMA``; a file that is
    not parquet fails the schema read at plan build."""
    empty = tmp_path / "empty"
    empty.mkdir()
    stream = event_stream(spark, str(empty))
    assert stream.isStreaming and stream.drop("event_time").schema == EVENT_SCHEMA
    out = run_stream_to_table(stream.select("event_id", "event_time"), output_mode="append")
    assert out.count() == 0

    junk = tmp_path / "junk"
    junk.mkdir()
    (junk / "notes.txt").write_text("not parquet")
    with pytest.raises(Py4JJavaError, match="not a Parquet file"):
        event_stream(spark, str(junk))


def test_sliding_windows_double_count(spark):
    stream = event_stream(spark, EVENTS)
    out = run_stream_to_table(
        sliding_window_agg(stream, "10 minutes", "5 minutes"), output_mode="complete"
    )
    n_events = spark.read.parquet(EVENTS).count()
    # every event lands in exactly window/slide = 2 windows
    assert out.agg(F.sum("n_events")).head()[0] == 2 * n_events


def test_sessionize_produces_user_sessions(spark):
    stream = event_stream(spark, EVENTS)
    out = run_stream_to_table(sessionize(stream, gap="30 minutes"), output_mode="complete")
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.session_end >= r.session_start for r in rows)
    assert all(r.n_events >= 1 for r in rows)


def test_stateful_running_totals(spark):
    stream = event_stream(spark, EVENTS)
    out = run_stream_to_table(
        stateful_running_totals(stream), output_mode="update", table_prefix="state_out"
    )
    batch = (
        spark.read.parquet(EVENTS)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )
    got = {r.user_id: (r.events_seen, r.running_value) for r in out.collect()}
    want = {r.user_id: (r.n, r.total) for r in batch.collect()}
    assert set(got) == set(want)
    for uid, (n, total) in want.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - total) < 1e-6


def test_delta_classify_and_apply_round_trip(spark):
    prev = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["nk", "v"]
    )
    inc = spark.createDataFrame(
        [(2, "b"), (3, "changed"), (4, "d")], ["nk", "v"]
    )
    changes = classify_changes(prev, inc, ["nk"], ["v"])
    ops = {r.nk: r.change_op for r in changes.collect()}
    assert ops == {1: "DELETE", 2: "UNCHANGED", 3: "UPDATE", 4: "INSERT"}
    new_snapshot = apply_delta(prev, changes, ["nk"])
    assert sorted(map(tuple, new_snapshot.collect())) == [
        (2, "b"),
        (3, "changed"),
        (4, "d"),
    ]


def test_delta_load_dimension_upsert_semantics(spark):
    from betl_spark.defaults.delta import delta_load_dimension

    prev = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")],
        ["sk", "nk", "attr"],
    )
    # b updated, c absent (retained), d + e new
    inc = spark.createDataFrame(
        [(("a"), "x"), ("b", "y2"), ("e", "v"), ("d", "w")], ["nk", "attr"]
    )
    out = {r.nk: (r.sk, r.attr) for r in
           delta_load_dimension(prev, inc, "sk", ["nk"]).collect()}
    assert out["a"] == (1, "x")          # unchanged keeps SK
    assert out["b"] == (2, "y2")         # type-1 update keeps SK
    assert out["c"] == (3, "z")          # retain-on-delete
    assert out["d"] == (4, "w")          # new SKs after max, NK order
    assert out["e"] == (5, "v")
    assert len(out) == 5


def test_delta_load_dimension_empty_previous(spark):
    import pyspark.sql.types as T
    from betl_spark.defaults.delta import delta_load_dimension

    schema = T.StructType(
        [
            T.StructField("sk", T.LongType()),
            T.StructField("nk", T.StringType()),
            T.StructField("attr", T.StringType()),
        ]
    )
    prev = spark.createDataFrame([], schema=schema)
    inc = spark.createDataFrame([("b", "y"), ("a", "x")], ["nk", "attr"])
    rows = sorted(
        map(tuple, delta_load_dimension(prev, inc, "sk", ["nk"]).collect())
    )
    assert rows == [(1, "a", "x"), (2, "b", "y")]


def test_delta_classify_null_overwrite_lands(spark):
    prev = spark.createDataFrame([(1, "a"), (2, "b")], "nk int, v string")
    inc = spark.createDataFrame([(1, None), (2, "b")], "nk int, v string")
    rows = {r.nk: (r.change_op, r.v) for r in classify_changes(prev, inc, ["nk"], ["v"]).collect()}
    assert rows[1] == ("UPDATE", None)  # value->NULL really overwrites
    assert rows[2] == ("UNCHANGED", "b")


def test_delta_load_fact_upsert_append_retain(spark):
    from betl_spark.defaults.delta import delta_load_fact

    prev = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (2, 1, 30.0)], "ok int, ln int, qty double"
    )
    inc = spark.createDataFrame(
        [(1, 2, 99.0), (3, 1, 5.0)], "ok int, ln int, qty double"
    )
    out = sorted(map(tuple, delta_load_fact(prev, inc, ["ok", "ln"]).collect()))
    assert out == [
        (1, 1, 10.0),   # retained (absent from batch != deleted)
        (1, 2, 99.0),   # restated measure
        (2, 1, 30.0),   # retained
        (3, 1, 5.0),    # appended
    ]


def test_stream_to_parquet_is_incremental_exactly_once(spark, tmp_path):
    """The production file-sink path: first run drains available input;
    re-running with the SAME checkpoint processes nothing new; copying
    more source files in and re-running appends exactly their rows."""
    import shutil

    from betl_spark.streaming import event_stream, run_stream_to_parquet
    from betl_spark.streaming import events as ev

    src = tmp_path / "events_src"
    src.mkdir()
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    n_total = events.count()
    half1 = events.filter("event_id % 2 = 0")
    half1.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "h1"))
    for f in (tmp_path / "h1").glob("*.parquet"):
        shutil.copy(f, src / "a.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    stream = event_stream(spark, str(src)).select("event_id", "event_time", "value")
    run_stream_to_parquet(stream, out, ckpt, state_partitions=4)
    n1 = spark.read.parquet(out).count()
    assert n1 == half1.count()
    # the file-sink path records its micro-batch progress too, as a
    # fresh list per run
    first = ev.LAST_RECENT_PROGRESS
    assert sum(p.numInputRows for p in first) == n1

    # same checkpoint, no new files -> nothing reprocessed
    run_stream_to_parquet(stream, out, ckpt, state_partitions=4)
    assert spark.read.parquet(out).count() == n1
    assert ev.LAST_RECENT_PROGRESS is not first

    events.filter("event_id % 2 = 1").coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "h2")
    )
    for f in (tmp_path / "h2").glob("*.parquet"):
        shutil.copy(f, src / "b.parquet")
    run_stream_to_parquet(stream, out, ckpt, state_partitions=4)
    # exact row-set equality, not just count: a reprocessed file plus a
    # skipped one could cancel out in a count but not in the id multiset
    got = sorted(r.event_id for r in spark.read.parquet(out).select("event_id").collect())
    want = sorted(r.event_id for r in events.select("event_id").collect())
    assert got == want
    assert len(got) == n_total


def test_scd2_chains_across_batches(spark):
    from pyspark.sql import functions as F

    from betl_spark.defaults.delta import scd2_apply
    from betl_spark.defaults.load import assign_surrogate_keys

    b1 = spark.createDataFrame([("a", "x"), ("b", "y")], "nk string, attr string")
    dim = (
        assign_surrogate_keys(b1, "sk", ["nk"])
        .withColumn("valid_from", F.lit(1).cast("long"))
        .withColumn("valid_to", F.lit(None).cast("long"))
        .withColumn("is_current", F.lit(True))
    )
    # batch 2: a changes, b retires, c arrives
    b2 = spark.createDataFrame([("a", "x2"), ("c", "z")], "nk string, attr string")
    dim = scd2_apply(dim, b2, "sk", ["nk"], batch_id=2)
    # batch 3: a changes again
    b3 = spark.createDataFrame([("a", "x3"), ("c", "z")], "nk string, attr string")
    dim = scd2_apply(dim, b3, "sk", ["nk"], batch_id=3)

    rows = sorted(map(tuple, dim.select(
        "sk", "nk", "attr", "valid_from", "valid_to", "is_current").collect()))
    assert rows == [
        (1, "a", "x", 1, 2, False),    # first version closed at batch 2
        (2, "b", "y", 1, 2, False),    # retired
        (3, "a", "x2", 2, 3, False),   # second version closed at batch 3
        (4, "c", "z", 2, None, True),  # still current, untouched by batch 3
        (5, "a", "x3", 3, None, True), # current version
    ]
    # exactly one current row per live NK; history never overlaps
    cur = [r for r in rows if r[5]]
    assert sorted(r[1] for r in cur) == ["a", "c"]


def test_stream_dedupe_suppresses_across_batches(spark, tmp_path):
    """Keys seen in an earlier micro-batch are NOT re-emitted when the
    same keys arrive in later files — the keyed state persists across
    batches via the checkpoint."""
    import shutil

    from betl_spark.streaming import event_stream, run_stream_to_parquet, stream_dedupe

    src = tmp_path / "src"
    src.mkdir()
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(2000)
    events.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
    for f in (tmp_path / "w").glob("*.parquet"):
        shutil.copy(f, src / "a.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = event_stream(spark, str(src))
    dd = stream_dedupe(stream, ["user_id", "event_type"], watermark="365 days")
    run_stream_to_parquet(dd, out, ckpt, output_mode="append", state_partitions=4)
    n1 = spark.read.parquet(out).count()
    n_distinct = events.select("user_id", "event_type").distinct().count()
    assert n1 == n_distinct
    # replay the SAME rows as a new file: all duplicates, nothing emitted
    for f in (tmp_path / "w").glob("*.parquet"):
        shutil.copy(f, src / "b.parquet")
    run_stream_to_parquet(dd, out, ckpt, output_mode="append", state_partitions=4)
    assert spark.read.parquet(out).count() == n_distinct


def test_stream_stream_join_equals_batch(spark):
    from betl_spark.contract.common import ts_micros
    from betl_spark.streaming import stream_stream_time_join

    clicks = event_stream(spark, EVENTS).filter(F.col("event_type") == "click")
    purchases = event_stream(spark, EVENTS).filter(F.col("event_type") == "purchase")
    out = run_stream_to_table(
        stream_stream_time_join(clicks, purchases, ["user_id"], within="30 minutes"),
        output_mode="append",
    ).select("user_id", "l_event_id", "r_event_id")

    ev = spark.read.parquet(EVENTS)
    ev = ev.withColumn("tus", ts_micros(ev))
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("cid"), F.col("tus").alias("ct")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("tus").alias("pt")
    )
    batch = c.join(
        p,
        (F.col("user_id") == F.col("pu"))
        & (F.col("pt") >= F.col("ct"))
        & (F.col("pt") <= F.col("ct") + 30 * 60 * 1_000_000),
    ).select("user_id", "cid", "pid")
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_run_stream_records_last_progress(spark):
    """The progress diagnostics hook: after a run the module holds the
    run's micro-batch progress list; its last entry carries the
    state-operator metrics."""
    import json

    from betl_spark.streaming import events as ev

    stream = event_stream(spark, EVENTS)
    run_stream_to_table(
        stateful_running_totals(stream),
        output_mode="update",
        table_prefix="prog_out",
    )
    assert ev.LAST_RECENT_PROGRESS
    prog = ev.LAST_RECENT_PROGRESS[-1]
    if not isinstance(prog, dict):
        prog = json.loads(prog.json)
    ops = prog.get("stateOperators")
    assert ops and ops[0].get("numRowsTotal", 0) > 0


def test_stateful_running_totals_cumulative_across_micro_batches(spark, tmp_path):
    """Both totals accumulate across micro-batches: with the events
    split over two files read one file per trigger, every user's
    largest emitted ``events_seen`` and ``running_value`` equal the
    batch count and sum over all files (a user seen in both files must
    not report only one batch's count)."""
    from betl_spark.streaming import events as ev

    events = spark.read.parquet(EVENTS)
    src = str(tmp_path / "events_src")
    for part in ("event_id % 2 = 0", "event_id % 2 = 1"):
        events.filter(part).coalesce(1).write.mode("append").parquet(src)
    stream = event_stream(spark, src, max_files_per_trigger=1)
    out = run_stream_to_table(
        stateful_running_totals(stream),
        output_mode="update",
        table_prefix="multi_out",
        state_partitions=4,
    )
    assert len(ev.LAST_RECENT_PROGRESS) >= 2  # really ran multi-batch
    got = {
        r.user_id: (r.n, r.total)
        for r in out.groupBy("user_id")
        .agg(F.max("events_seen").alias("n"), F.max("running_value").alias("total"))
        .collect()
    }
    want = {
        r.user_id: (r.n, r.total)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(got) == set(want)
    for uid, (n, total) in want.items():
        assert got[uid][0] == n, uid
        assert abs(got[uid][1] - total) < 1e-6, uid


def test_stateful_running_totals_rocksdb_provider_parity(spark):
    """The documented 100 TB recommendation (SCALE.md round-12):
    swapping the state store to RocksDB is behavior-neutral. Same
    stateful query, same answers, under the RocksDB provider."""
    conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, rocks)
    try:
        stream = event_stream(spark, EVENTS)
        out = run_stream_to_table(
            stateful_running_totals(stream),
            output_mode="update",
            table_prefix="rocks_out",
        )
        batch = (
            spark.read.parquet(EVENTS)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        )
        got = {r.user_id: (r.events_seen, r.running_value) for r in out.collect()}
        want = {r.user_id: (r.n, r.total) for r in batch.collect()}
        assert set(got) == set(want)
        for uid, (n, total) in want.items():
            assert got[uid][0] == n
            assert abs(got[uid][1] - total) < 1e-6
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def test_stream_kmv_final_state_equals_batch_sketch_any_slicing(spark, tmp_path):
    """The streaming KMV's defining property: the final generation is
    bit-identical to the batch bottom-k sketch of the same rows, for
    ANY micro-batch slicing — here forced to 6 micro-batches via a
    6-file shard with maxFilesPerTrigger=1 (and cross-checked with the
    single-batch whole-file run)."""
    from betl_spark.operators import sketches
    from betl_spark.streaming import stream_kmv_distinct

    shard_dir = str(tmp_path / "ev_shards")
    spark.read.parquet(EVENTS).repartition(6).write.parquet(shard_dir)

    ev = spark.read.parquet(shard_dir).select(
        F.col("event_type").cast("string").alias("group_key"),
        F.col("user_id").alias("u"),
    )
    batch = sketches.kmv_sketch(ev, ["group_key"], "u", 16)
    want = {tuple(r) for r in batch.collect()}

    for max_files in (1, None):
        stream = event_stream(spark, shard_dir, max_files_per_trigger=max_files)
        out = run_stream_to_table(
            stream_kmv_distinct(stream, "event_type", "user_id", k=16),
            output_mode="update",
            state_partitions=4,
        )
        gens = (
            out.groupBy("group_key")
            .agg(F.max("gen").alias("g"))
            .withColumnRenamed("group_key", "gk")
        )
        final = out.join(
            gens,
            (F.col("group_key") == F.col("gk")) & (F.col("gen") == F.col("g")),
        ).select("group_key", "item", "h")
        got = {tuple(r) for r in final.collect()}
        assert got == want, max_files
        if max_files == 1:
            n_gens = out.agg(F.max("gen")).collect()[0][0]
            assert n_gens >= 5  # really ran multi-batch
