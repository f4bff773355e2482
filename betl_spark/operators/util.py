"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to
    ``sparkContext.defaultParallelism`` partitions — but ONLY when the
    input has fewer.

    Input splits bound operator parallelism: a small parquet file is
    one row group = one partition, so a CPU-heavy per-row operator
    (n-gram construction, shingle/minhash folds) downstream of it runs
    on ONE core no matter how many the cluster has — file-split sizing
    (``spark.sql.files.maxPartitionBytes``) can't subdivide a row
    group. Over a scan at real scale the predicate is false (a 100 TB
    input has thousands of splits) and this is a plan NO-OP — big
    inputs never pay the exchange; small inputs trade one tiny shuffle
    for cluster-wide parallelism on the expensive map work.

    The partition-count probe is ``df.rdd``: free over a scan or a
    narrow plan, but over a post-shuffle input (a ``distinct``, a
    join, an aggregate) it runs the upstream shuffle as a hidden Spark
    job while the plan is built — at any scale — so it is not a plan
    no-op there.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once for reuse by several consumers or by the
    next round of a loop: the one place the engine decides how a frame
    is materialized and how its blocks are freed.

    - With ``sparkContext.getCheckpointDir()`` set (Spark's
      ``spark.checkpoint.dir``): ``df.checkpoint(eager=eager)``, a
      reliable checkpoint. Once a job has computed the frame (at once
      if eager) its rows are written to files and the lineage is cut,
      so a block lost with its executor is read back from them. The
      session sets ``spark.cleaner.referenceTracking.cleanCheckpoints``,
      so the files are deleted when the frame is garbage-collected.
    - Otherwise ``df.localCheckpoint(eager=eager)``: the rows live only
      in executor storage, and once a job has computed them the lineage
      is cut. Lazy sites are no exception, since jobs run while later
      plans are built: in ``er_3day_chain`` every lazy site was cut
      before the action. Losing an executor then fails every later
      query over the frame. In local mode the executor is the driver.

    A checkpoint, not ``persist()``: a persisted frame registers in the
    CacheManager and stays cached until someone unpersists it, while
    the blocks a local checkpoint pins are freed by the ContextCleaner
    once the frame is unreachable. A loop that must free them sooner
    uses :func:`materialize_tracked` and :func:`release`.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def persistent_rdd_ids(spark) -> set:
    """IDs of the RDDs currently persisted in this context's block
    manager (the Scala ``SparkContext.getPersistentRDDs`` map iterated
    via py4j — ``JavaSparkContext`` exposes no accessor)."""
    ids = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def materialize_tracked(df: DataFrame) -> tuple:
    """``materialize(df, eager=True)`` plus the ids of the RDD blocks
    it pinned, so the caller can later free EXACTLY those blocks with
    :func:`release`. A reliable checkpoint pins none.

    ``df.rdd.unpersist()`` cannot do this job: ``DataFrame.rdd``
    constructs a fresh Java→Python mapped RDD (storage level NONE)
    on every access, not the checkpointed RDD, so unpersisting it
    is a no-op."""
    spark = df.sparkSession
    before = persistent_rdd_ids(spark)
    out = materialize(df, eager=True)
    return out, persistent_rdd_ids(spark) - before


def release(spark, ids) -> None:
    """Drop exactly the tracked checkpoint blocks (non-blocking)."""
    if not ids:
        return
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        t = it.next()
        if t._1() in ids:
            t._2().unpersist(False)


def round6_nanos_ratio_expr(num_sql: str, den_sql: str = "1000000000"):
    """Exact half-away 6dp rounding of ``num/den`` where ``num`` is an
    integer nano-unit SUM (BIGINT or DECIMAL(38,0) fragment) and
    ``den`` a positive integral fragment (default 10^9: plain
    nanos → value). Entirely integral — num is widened to
    DECIMAL(38,0) so giant per-group sums can't overflow the 2·|num|·10^6
    intermediate — returning integer micros / 10^6 as double.

    This replaces ``F.round(sum_nanos / 1e9, 6)``: that shape is the
    bug-#4 class at the FINAL step — a sum ending in exactly ...500
    nanos is a true 6dp midpoint, double(k/1e9) lands a hair off it,
    and Spark (BigDecimal on the shortest repr) and DuckDB (binary
    value) round opposite ways. Found by the round-11 sf3 spot-check
    on dsir_scores (sum −64 757 500 nanos: Spark −0.064758, DuckDB
    −0.064757); the sf1 "52/52 midpoints agree" observation was luck
    of those magnitudes, not a rule. The DuckDB mirror is the same
    expression with ``//``. No signed-zero hazard: integer negation of
    0 is 0, so the result is always +0.0.
    """
    from pyspark.sql import functions as F

    n = f"CAST({num_sql} AS DECIMAL(38,0))"
    d = f"CAST({den_sql} AS DECIMAL(38,0))"
    mag = f"(2 * abs({n}) * 1000000 + ({d})) DIV (2 * ({d}))"
    return (
        F.expr(
            f"CASE WHEN ({num_sql}) < 0 THEN -({mag}) ELSE ({mag}) END"
        ).cast("double")
        / F.lit(1e6)
    )


def round_ratio_expr(num_sql: str, den_sql: str, decimals: int):
    """Half-away-from-zero rounding of an INTEGER ratio num/den
    (den > 0, both SQL fragments over the frame's columns) at
    ``decimals`` places, computed entirely in BIGINT and returned as a
    double:

        sign(num) · ((2·|num|·10^d + den) DIV (2·den)) / 10^d

    This is the cross-engine-safe form of ``F.round(num/den, d)`` for
    small-denominator integer rationals: the two engines round the
    SAME double differently near representation midpoints (Spark
    rounds the shortest decimal repr through BigDecimal, DuckDB rounds
    the scaled binary), and small denominators land on exact midpoints
    often — see the contract/__init__.py determinism rules and
    SCALE.md "bug #4". The DuckDB mirror is the same expression with
    ``//``. Operands must keep 2·|num|·10^d inside BIGINT — fine for
    counts at any realistic scale with d ≤ 6.
    """
    from pyspark.sql import functions as F

    m = 10 ** int(decimals)
    mag = (
        f"(2 * abs({num_sql}) * {m}L + ({den_sql})) DIV (2 * ({den_sql}))"
    )
    return (
        F.expr(
            f"CASE WHEN ({num_sql}) < 0 THEN -({mag}) ELSE ({mag}) END"
        ).cast("double")
        / F.lit(float(m))
    )
