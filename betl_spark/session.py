"""SparkSession factory.

One place to set the engine's execution defaults so every entry point
(tests, bench, driver contract, pipeline CLI) gets the same tuned
session. Defaults are chosen for correctness-at-scale first:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  selection) — on a 1000-executor cluster this is what rescues skewed
  shuffles without hand-tuned salting.
- shuffle partitions sized to the box (local) — on a real cluster AQE
  coalesces from an intentionally high initial number instead.
- Arrow on, so the few pandas-UDF operators move columns in batches.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_spark(
    app_name: str = "betl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so the same code path serves tests and the bench driver; on a
    real cluster, pass ``master=None`` with ``spark.master`` preset in
    spark-defaults and this is a no-op.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(cpus) if cpus.isdigit() else n

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # guide §3.1/§9: let the planner pick shuffled-hash over
        # sort-merge when a side's per-partition build fits (skips both
        # sorts), and let AQE rewrite SMJ->SHJ at runtime when every
        # post-shuffle partition is under the threshold. Bounded risk:
        # the 64m local-map cap keeps build sides well inside task
        # memory at any scale (the threshold is per-partition, not
        # per-table, so this is not a local[32]-only tune). Interleaved
        # min-of-4 A/B on a 16-query basket: -4.3% total, no query
        # slower beyond noise.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # reliable checkpoints (operators.util.materialize, when
        # spark.checkpoint.dir is set) delete their files once the
        # checkpointed frame is garbage-collected
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # parquet scans: prune + push down aggressively
        .config("spark.sql.parquet.filterPushdown", "true")
        # drift guard: if events.ts ever reverts to parquet
        # TIMESTAMP(NANOS) (it was through round 3), read it as long
        # nanos instead of erroring; harmless for the current
        # TIMESTAMP(MICROS) data. Call sites adapt via
        # contract.common.ts_micros / streaming.events._event_time_col.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # InferFiltersFromGenerate duplicates every explode's generator
        # expression into an inferred `size(..)>0 AND isnotnull(..)`
        # filter that predicate-pushdown then inlines BELOW the
        # parallelism guard at the scan: the engine's most expensive
        # map expressions (n-gram builds, shingle/window hashes) were
        # being evaluated twice, once single-partition. The filter
        # saves nothing in these shapes (explode drops empty arrays
        # anyway); excluding the rule is semantics-preserving by
        # definition. Interleaved min-of-3 A/B over a 20-query basket:
        # 48.8 -> 41.8s (-14%), decontamination family 3x, no
        # regression beyond noise.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
