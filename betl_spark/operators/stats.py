"""Distribution statistics for corpus analysis: exact grouped
quantiles (doc-length / score distributions per language, source,
shard — the profiling step before setting quality-filter thresholds).

Scale shape: ``percentile`` is Spark's exact percentile aggregate —
a typed-aggregate that buffers each group's values on the REDUCER for
that group, after map-side partial aggregation of the counts. Groups
parallelize across reducers (one shuffle on the group key); within a
group the cost is the group's cardinality. For percentiles of a
100 TB UNGROUPED column, switch to ``approx_percentile`` — the exact
form is for grouped profiling where each group fits a reducer (doc
lengths per language/source: millions of longs = tens of MB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from betl_spark.operators.util import materialize


def grouped_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """Exact linear-interpolation quantiles of ``value_col`` per group:
    one row per group, one ``p<q*100>`` column per requested quantile,
    rounded to 6dp (both Spark's ``percentile`` and DuckDB/Postgres
    ``quantile_cont``/``percentile_cont`` use the same R-7 linear
    interpolation, so results are engine-exact).
    """
    agg = df.groupBy(*group_cols).agg(
        F.percentile(
            F.col(value_col).cast("double"),
            F.array(*[F.lit(q) for q in quantiles]),
        ).alias("__qs")
    )
    cols = [F.col(c) for c in group_cols] + [
        F.round(F.element_at("__qs", i + 1), 6).alias(_qname(q))
        for i, q in enumerate(quantiles)
    ]
    return agg.select(*cols)


def _qname(q: float) -> str:
    pct = q * 100
    return f"p{pct:g}".replace(".", "_")


def ranked_running_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    rank_col: str = "rank",
    cum_col: str = "cum",
    n_bands: int | None = None,
) -> DataFrame:
    """Global rank + running sum of ``value_col`` in ``order_cols``
    order, with NO partition-less Window — the banded two-pass pattern:

    1. range-partition by the order key: bands are ordered, rows sort
       within bands in parallel;
    2. per-band rank/cumsum via a Window PARTITIONED by band (parallel —
       each band is one window group);
    3. one tiny per-band (count, sum) aggregate — ``n_bands`` rows —
       collected, prefix-summed on the driver, broadcast back as a
       literal-map projection. The collect is O(bands), never O(rows).

    A plain ``Window.orderBy(...)`` computes the same thing through ONE
    task sorting every row — fine at 10⁴ rows, fatal at 10⁸ (a
    web-scale vocabulary). ``order_cols`` must be a total order (unique
    key) for deterministic ranks; ``value_col`` must be integral/long
    (driver prefix sums are exact Python ints).
    """
    spark = df.sparkSession
    if n_bands is None:
        n_bands = spark.sparkContext.defaultParallelism
    # The band assignment MUST be frozen: RangePartitioner's boundary
    # sampling is seeded by rdd.id (a global counter), so a RE-EXECUTION
    # of repartitionByRange draws different boundaries than the run the
    # offsets below were collected from — overlapping/gapped global
    # ranks. Invisible below ~20·bands rows per partition (the "sample"
    # is the whole partition, boundaries identical regardless of seed);
    # found REAL by the sf1 oracle spot-check (equidepth ranks had
    # 47,492 distinct of 50,000). An eager materialization fixes the
    # banded rows once — the stats job and every later action on the
    # returned plan read the SAME bands.
    banded = materialize(
        df.repartitionByRange(n_bands, *order_cols).withColumn(
            "__band", F.spark_partition_id()
        ),
        eager=True,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__band").orderBy(*order_cols)
    local = banded.withColumn("__rn_l", F.row_number().over(w)).withColumn(
        "__cum_l",
        F.sum(value_col).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    stats = {
        r["b"]: (r["n"], r["s"])
        for r in banded.groupBy(F.col("__band").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(value_col).alias("s"))
        .collect()
    }
    # no unpersist: the checkpoint blocks ARE the band assignment —
    # releasing them would reintroduce the divergent-recompute bug; the
    # ContextCleaner frees them once the caller drops the returned plan
    rn_off: dict[int, int] = {}
    cum_off: dict[int, int] = {}
    acc_n, acc_s = 0, 0
    for b in sorted(stats):
        rn_off[b], cum_off[b] = acc_n, acc_s
        acc_n += stats[b][0]
        acc_s += int(stats[b][1])

    def _lit_map(d: dict[int, int]):
        return F.create_map(*[F.lit(x) for b in sorted(d) for x in (b, d[b])])

    if not stats:  # empty input: rank/cum columns still present
        return (
            df.withColumn(rank_col, F.lit(None).cast("int"))
            .withColumn(cum_col, F.lit(None).cast("long"))
        )
    return (
        local.withColumn(
            rank_col,
            (F.element_at(_lit_map(rn_off), F.col("__band")) + F.col("__rn_l")).cast("int"),
        )
        .withColumn(
            cum_col,
            F.element_at(_lit_map(cum_off), F.col("__band")).cast("long")
            + F.col("__cum_l").cast("long"),
        )
        .drop("__band", "__rn_l", "__cum_l")
    )


def quantile_filter(
    df: DataFrame,
    value_col: str,
    lo_q: float = 0.25,
    hi_q: float = 0.75,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Keep rows whose ``value_col`` lies within the [lo_q, hi_q]
    quantile band of its group's distribution — percentile-driven
    outlier trimming (drop the longest/shortest tail of each language,
    clip score outliers per source) where fixed thresholds won't
    transfer across strata.

    Two passes, both cheap: one grouped exact-percentile aggregate
    (group count rows — strata are bounded, see ``grouped_quantiles``),
    broadcast back onto the corpus as an equi-join (or a literal
    crossJoin for the ungrouped scalar), then a codegen filter. The
    corpus itself never shuffles.

    Exactness note: both Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` use R-7 linear interpolation, and for quantiles
    whose binary representation is exact (0.25, 0.5, 0.75) the
    interpolated bound is bit-identical across engines — use those for
    cross-engine-reproducible pipelines.
    """
    qs = F.percentile(
        F.col(value_col).cast("double"),
        F.array(F.lit(float(lo_q)), F.lit(float(hi_q))),
    ).alias("__qs")
    if group_cols:
        # null-safe join: a NULL stratum key is a legitimate group
        # (percentile aggregates it like any other); a plain equi-join
        # would silently remove its rows (NULL != NULL)
        bounds = df.groupBy(*group_cols).agg(qs)
        for c in group_cols:
            bounds = bounds.withColumnRenamed(c, f"__g_{c}")
        cond = None
        for c in group_cols:
            piece = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
            cond = piece if cond is None else cond & piece
        out = df.join(F.broadcast(bounds), cond).drop(
            *[f"__g_{c}" for c in group_cols]
        )
    else:
        out = df.crossJoin(F.broadcast(df.agg(qs)))
    return out.filter(
        (F.col(value_col).cast("double") >= F.element_at("__qs", 1))
        & (F.col(value_col).cast("double") <= F.element_at("__qs", 2))
    ).drop("__qs")


def quantile_buckets(
    df: DataFrame,
    value_col: str,
    qs: list[float] | None = None,
    labels: list[str] | None = None,
    group_cols: list[str] | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Assign each row a quantile bucket of its group's ``value_col``
    distribution — the CCNet head/middle/tail split (Wenzek et al.
    2020 bucket documents by LM perplexity per language and train on
    the head): rows at or below the first cut are the first bucket,
    and so on, with NULL values keeping a NULL bucket.

    Deliberately NOT ntile(): an exact ntile needs a per-group total
    order, and Window.partitionBy(lang) puts an entire language in ONE
    partition — a scale-killer for any real stratum. Instead this is
    the ``quantile_filter`` shape: one grouped exact-percentile
    aggregate (bounded output), broadcast back, then a codegen CASE —
    the corpus never shuffles and there is no window anywhere.

    Cross-engine exactness: default cuts [0.25, 0.75] — quantiles whose
    binary representation is exact interpolate bit-identically in
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` (see
    ``quantile_filter``); stick to dyadic quantiles for contract use.
    """
    qs = [0.25, 0.75] if qs is None else qs
    labels = labels or ["head", "middle", "tail"]
    if len(labels) != len(qs) + 1:
        raise ValueError("need len(qs)+1 labels")
    qcol = F.percentile(
        F.col(value_col).cast("double"),
        F.array(*[F.lit(float(q)) for q in qs]),
    ).alias("__cuts")
    if group_cols:
        bounds = df.groupBy(*group_cols).agg(qcol)
        for c in group_cols:
            bounds = bounds.withColumnRenamed(c, f"__g_{c}")
        cond = None
        for c in group_cols:
            piece = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
            cond = piece if cond is None else cond & piece
        out = df.join(F.broadcast(bounds), cond).drop(
            *[f"__g_{c}" for c in group_cols]
        )
    else:
        out = df.crossJoin(F.broadcast(df.agg(qcol)))
    v = F.col(value_col).cast("double")
    expr = F.lit(labels[-1])
    for i in range(len(qs) - 1, -1, -1):
        expr = F.when(v <= F.element_at("__cuts", i + 1), F.lit(labels[i])).otherwise(
            expr
        )
    expr = F.when(v.isNull(), F.lit(None).cast("string")).otherwise(expr)
    return out.withColumn(bucket_col, expr).drop("__cuts")


def top_n_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    n: int,
    tiebreak_col: str,
    ascending: bool = False,
) -> DataFrame:
    """Exact top-``n`` rows per group by ``order_col`` (ties broken by
    ``tiebreak_col`` ascending — a total order, so the result is
    deterministic) — "keep the N best documents per language" without
    putting an entire stratum in one partition.

    This is deliberately the PLAIN window + rank filter, because Spark
    3.5+/4 rewrites exactly this shape through the WindowGroupLimit
    rule: a partial group-limit runs BEFORE the exchange (map-side
    top-n per partition, so the shuffle carries ≤ n·partitions rows
    per group), and the final per-group task receives that bounded
    survivor set — never the whole stratum. Hand-rolling a salted
    two-level prune would duplicate the optimizer's work and add an
    exchange (measured: one extra shuffle, same result).
    ``tests/test_plans`` pins the partial WindowGroupLimit in the plan
    contract so a regression to a whole-stratum sort fails CI, not a
    cluster.

    Output: the original rows of the winners plus their 1-based
    ``rank``. Rows with a NULL ``order_col`` never rank (filtered
    up front — engines disagree on default null placement, and a NULL
    can't be a "top" value under either order).
    """
    from pyspark.sql import Window

    order = (
        [F.col(order_col).asc(), F.col(tiebreak_col).asc()]
        if ascending
        else [F.col(order_col).desc(), F.col(tiebreak_col).asc()]
    )
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.filter(F.col(order_col).isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
    )


def histogram(
    df: DataFrame,
    value_col: str,
    bin_width: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-width histogram of ``value_col`` (optionally per group):
    one map-side-combinable aggregation on floor(value / width) — the
    distribution-profiling companion to ``grouped_quantiles`` when you
    want the whole shape, not point estimates. FLOOR binning is
    engine-exact for the cross-engine contract (round-half is not).

    Output: (group_cols..., bin, bin_lo, n) with bin_lo = bin·width;
    NULL values fall out (no bin). Wire volume is O(bins) per
    partition — safe at any corpus size.
    """
    binc = F.floor(F.col(value_col).cast("double") / F.lit(float(bin_width))).cast(
        "long"
    )
    keys = [*(group_cols or []), F.col("__bin").alias("bin")]
    return (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("__bin", binc)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *(group_cols or []),
            "bin",
            (F.col("bin") * F.lit(float(bin_width))).alias("bin_lo"),
            "n",
        )
    )


def winsorized_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
) -> DataFrame:
    """Per-group winsorized moments: clip ``value_col`` to the group's
    [p_lo, p_hi] exact percentiles, then report raw vs clipped means —
    the outlier-robust profiling step before feeding a metric into a
    quality threshold (a handful of broken rows shouldn't move the
    gate).

    Two passes, both scale-safe: (1) ``grouped_quantiles``'s exact
    percentile aggregate (one shuffle on the group key), (2) the clip +
    re-aggregate with the O(groups) percentile table BROADCAST back —
    the big side never shuffles twice. Means come from exact
    DECIMAL(18,6) sums (double addition is order-dependent; decimal is
    not) divided once at the end. Output: (group_cols..., n, lo, hi,
    n_clipped_lo, n_clipped_hi, mean_raw, mean_winsor), 6dp.
    """
    pcts = grouped_quantiles(df, group_cols, value_col, (p_lo, p_hi))
    lo_c, hi_c = _qname(p_lo), _qname(p_hi)
    v = F.col(value_col).cast("double")
    clipped = F.least(F.greatest(v, F.col(lo_c)), F.col(hi_c))
    return (
        df.join(F.broadcast(pcts), group_cols)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first(lo_c), 6).alias("lo"),
            F.round(F.first(hi_c), 6).alias("hi"),
            F.sum((v < F.col(lo_c)).cast("long")).alias("n_clipped_lo"),
            F.sum((v > F.col(hi_c)).cast("long")).alias("n_clipped_hi"),
            F.sum(v.cast("decimal(18,6)")).alias("__sr"),
            F.sum(clipped.cast("decimal(18,6)")).alias("__sw"),
        )
        .select(
            *group_cols,
            "n",
            "lo",
            "hi",
            "n_clipped_lo",
            "n_clipped_hi",
            F.round(
                F.col("__sr").cast("double") / F.col("n").cast("double"), 6
            ).alias("mean_raw"),
            F.round(
                F.col("__sw").cast("double") / F.col("n").cast("double"), 6
            ).alias("mean_winsor"),
        )
    )


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Equi-depth (equal-count) histogram: rank every row in
    (value, tiebreak) total order, assign bucket = floor((rank−1)·B/N),
    and report each bucket's count and value bounds — the
    statistics-collection shape behind optimizer histograms and
    quantile-sketch validation.

    The global rank uses ``ranked_running_sum``'s banded two-pass
    pattern — range-partition, per-band window, O(bands) driver prefix
    sum — NOT a partition-less Window, so ranking 10⁹ rows spreads
    across all executors (betl_spark/defaults/load.py:44 machinery).
    floor((rank−1)·B/N) is pure integer arithmetic: engine-exact,
    unlike ntile's remainder-spreading, which is convention-dependent.

    Output: (bucket, n, lo, hi) — n differs by ≤1 across buckets.
    """
    ranked = ranked_running_sum(
        df.select(
            F.col(value_col).alias("__val"),
            F.col(tiebreak_col).alias("__tb"),
            F.lit(1).alias("__one"),
        ).where(F.col("__val").isNotNull()),
        ["__val", "__tb"],
        "__one",
        rank_col="__rank",
        cum_col="__cum",
    )
    total = ranked.agg(F.max("__cum").alias("__n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            # Exact long arithmetic end-to-end: `/` would detour through
            # a double and can truncate differently from integer floor
            # once (rank−1)·B nears 2^53 (round-9 advisor item). DIV is
            # Spark's integral division — same semantics as DuckDB `//`
            # on non-negative operands.
            F.expr(
                f"(CAST(__rank AS BIGINT) - 1L) * {int(n_buckets)}L"
                " DIV __n"
            ).alias("bucket"),
            "__val",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__val").alias("lo"),
            F.max("__val").alias("hi"),
        )
    )


def grouped_pearson(
    df: DataFrame,
    group_cols: list[str],
    x_col,
    y_col,
    x_scale: int = 6,
    y_scale: int = 6,
) -> DataFrame:
    """Per-group Pearson correlation from EXACT moment sums:
    r = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)).

    One map-side-combinable aggregation per group — never a builtin
    ``corr`` (whose double accumulation is partition-order-dependent
    and thus not reproducible across engines). x and y quantize to
    fixed decimal scales (pass the data's natural precision; the
    products x·y, x², y² are then EXACT decimals), the five sums
    accumulate exactly, and r is one engine-identical IEEE expression
    over their double casts. Double casts stay exact while a group's
    Σ(x·y)·10^(x_scale+y_scale) < 2⁵³ — size the scales to the data,
    not smaller (e.g. 2dp money × integer counts wants scales (2, 0),
    giving ~10¹³ headroom per trillion-row group).

    ``x_col``/``y_col`` accept names or Column expressions. Groups
    with no variance in either variable yield NULL r. Output:
    (group_cols..., n, r) with r rounded 6dp.
    """
    x = (x_col if not isinstance(x_col, str) else F.col(x_col)).cast(
        f"decimal(18,{x_scale})"
    )
    y = (y_col if not isinstance(y_col, str) else F.col(y_col)).cast(
        f"decimal(18,{y_scale})"
    )
    both = x.isNotNull() & y.isNotNull()
    agg = df.groupBy(*group_cols).agg(
        F.count(F.when(both, 1)).alias("n"),
        F.sum(F.when(both, x)).alias("__sx"),
        F.sum(F.when(both, y)).alias("__sy"),
        F.sum(F.when(both, (x * y).cast(f"decimal(30,{x_scale + y_scale})"))).alias("__sxy"),
        F.sum(F.when(both, (x * x).cast(f"decimal(30,{2 * x_scale})"))).alias("__sxx"),
        F.sum(F.when(both, (y * y).cast(f"decimal(30,{2 * y_scale})"))).alias("__syy"),
        # exact degeneracy probes: a group has zero x-variance iff
        # min(x) == max(x) on the EXACT quantized decimals
        F.min(F.when(both, x)).alias("__nx"),
        F.max(F.when(both, x)).alias("__mx"),
        F.min(F.when(both, y)).alias("__ny"),
        F.max(F.when(both, y)).alias("__my"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    # the no-variance gate must be EXACT: the double expression
    # n·Σx² − (Σx)² suffers catastrophic cancellation near zero and
    # can land on either side of it for a CONSTANT column (hypothesis
    # found x ≡ 2.93 yielding varx ≈ +1e-14 → r = 0.0 instead of
    # NULL), so degeneracy is decided on min(x) < max(x) over the
    # exact quantized decimals. The double varx/vary > 0 terms stay as
    # a NaN shield (a true-but-tiny variance whose double form
    # cancels to ≤ 0 would otherwise sqrt a negative); both engines
    # evaluate the identical expression so the boundary is still
    # engine-exact.
    r = F.when(
        (F.col("__nx") < F.col("__mx"))
        & (F.col("__ny") < F.col("__my"))
        & (varx > F.lit(0.0))
        & (vary > F.lit(0.0)),
        F.round((n * sxy - sx * sy) / F.sqrt(varx * vary), 6) + F.lit(0.0),
    )
    return agg.select(*group_cols, "n", r.alias("r"))


def ab_test_proportions(
    df: DataFrame,
    group_cols: list[str],
    variant_col,
    success_col,
) -> DataFrame:
    """Two-proportion z-test per group over a deterministic A/B split:
    z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) with p̂ the pooled
    rate — the experiment-analysis readout over event logs. Pair it
    with ``sampling.hash_bucket`` for the assignment (deterministic
    md5 split, no RNG state).

    One grouped aggregation of four exact counts (successes/trials per
    variant), then a single engine-identical IEEE expression. Groups
    with an empty variant or a degenerate pooled rate (p̂ ∈ {0, 1})
    yield NULL z. Output: (group_cols..., n_a, n_b, conv_a 6dp,
    conv_b 6dp, z 6dp).
    """
    is_a = variant_col if not isinstance(variant_col, str) else F.col(variant_col)
    succ = success_col if not isinstance(success_col, str) else F.col(success_col)
    s = succ.cast("long")
    agg = df.groupBy(*group_cols).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(is_a, s).otherwise(0)).alias("__sa"),
        F.sum(F.when(~is_a, s).otherwise(0)).alias("__sb"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    p_a = F.col("__sa").cast("double") / n_a
    p_b = F.col("__sb").cast("double") / n_b
    pooled = (F.col("__sa") + F.col("__sb")).cast("double") / (n_a + n_b)
    se = F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / n_a + F.lit(1.0) / n_b)
    )
    # + 0.0: signed-zero normalization (see quality.dsir_scores)
    z = F.when(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (pooled > F.lit(0.0))
        & (pooled < F.lit(1.0)),
        F.round((p_a - p_b) / se, 6) + F.lit(0.0),
    )
    # empty arms: NULL conversion rate, never a divide-by-zero (ANSI
    # mode throws; the CASE guard short-circuits the division)
    return agg.select(
        *group_cols,
        "n_a",
        "n_b",
        F.when(F.col("n_a") > 0, F.round(p_a, 6)).alias("conv_a"),
        F.when(F.col("n_b") > 0, F.round(p_b, 6)).alias("conv_b"),
        z.alias("z"),
    )


def mann_whitney(
    df: DataFrame,
    group_cols: list[str],
    arm_a_col,
    value_col,
    value_scale: int = 3,
) -> DataFrame:
    """Per-group Mann–Whitney U (rank-sum) test between two arms, with
    the rank-based AUC it implies (AUC = U_a / (n_a·n_b) — the
    probability a random A value ranks above a random B value, ties
    counted half) — the nonparametric companion to
    ``ab_test_proportions`` when the metric is a continuous value
    rather than a conversion flag.

    Rank machinery is a VALUE CENSUS, never a per-row window: one
    grouped count per (group, quantized value), a cumulative count
    over each group's distinct values (a Window over the census — its
    cardinality is the value domain, not the row count), and average
    ties-ranks kept EXACT by working in doubled ranks
    (2·rank_avg = 2·cum_before + t + 1 is always an integer). The U
    statistic, tie-corrected variance
    var = n_a·n_b/12 · ((N+1) − Σ(t³−t)/(N(N−1))) and
    z = (U_a − n_a·n_b/2)/√var are single engine-identical IEEE
    expressions over exact integer sums.

    Rows with a NULL arm or NULL value are excluded (a NULL hash key
    belongs to neither arm — the contract's ab_test convention).
    Groups missing an arm or with zero variance yield NULL z/auc.
    Output: (group_cols..., n_a, n_b, u_a, auc 6dp, z 6dp).
    """
    from pyspark.sql import Window

    is_a = arm_a_col if not isinstance(arm_a_col, str) else F.col(arm_a_col)
    v = (
        value_col if not isinstance(value_col, str) else F.col(value_col)
    ).cast(f"decimal(18,{value_scale})")
    base = df.select(
        *group_cols, is_a.alias("__a"), v.alias("__v")
    ).where(F.col("__a").isNotNull() & F.col("__v").isNotNull())
    census = base.groupBy(*group_cols, "__v").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(~F.col("__a"), 1).otherwise(0)).alias("__cb"),
    )
    t = (F.col("__ca") + F.col("__cb")).cast("long")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = census.select(
        *group_cols,
        "__ca",
        "__cb",
        t.alias("__t"),
        F.coalesce(F.sum(t).over(w), F.lit(0)).alias("__cum"),
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.sum("__ca").cast("long").alias("n_a"),
        F.sum("__cb").cast("long").alias("n_b"),
        # Σ over values of cnt_a · (2·cum_before + t + 1) = 2·R_a
        F.sum(
            F.col("__ca").cast("long")
            * (F.lit(2) * F.col("__cum") + F.col("__t") + F.lit(1))
        ).alias("__r2a"),
        F.sum(
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).alias("__ties"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    nn = F.col("n_a") + F.col("n_b")
    n = nn.cast("double")
    # 2·U_a = 2·R_a − n_a(n_a+1), exact integer
    u2 = F.col("__r2a") - F.col("n_a") * (F.col("n_a") + F.lit(1))
    u_a = u2.cast("double") / F.lit(2.0)
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    var_u = (
        n_a * n_b / F.lit(12.0)
        * (
            (n + F.lit(1.0))
            - F.col("__ties").cast("double") / (n * (n - F.lit(1.0)))
        )
    )
    return agg.select(
        *group_cols,
        "n_a",
        "n_b",
        F.when(both, u_a).alias("u_a"),
        F.when(both, F.round(u2.cast("double") / (F.lit(2.0) * n_a * n_b), 6)).alias(
            "auc"
        ),
        F.when(
            both & (nn >= 2) & (var_u > F.lit(0.0)),
            F.round((u_a - n_a * n_b / F.lit(2.0)) / F.sqrt(var_u), 6)
            + F.lit(0.0),
        ).alias("z"),
    )


def crosstab_assoc(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Association audit of two categorical columns (is `lang`
    independent of `source`? did the scrape mix shift?): Pearson
    chi-square statistic, Cramér's V effect size, and mutual
    information in bits, all from ONE contingency census.

    The census is a single grouped count on (x, y); row/column/grand
    totals come from window sums OVER THE CENSUS (|x|·|y| cells — no
    second scan, no join). Per-cell terms (O−E)²/E and
    p·log2(p/(px·py)) are IEEE doubles on exact integer inputs,
    rounded to 9dp and summed as integer nanos (the contract's
    order-independent double-sum discipline), so the statistic is
    engine-exact. Rows with NULL x or y are excluded (a NULL category
    is a data-quality finding for `profile`, not a census cell).

    Output: one row (n, n_x, n_y, dof, chi2 6dp, cramers_v 6dp,
    mi_bits 6dp); NULL V/chi2 when dof = 0.
    """
    from pyspark.sql import Window

    base = df.select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y")).where(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    census = base.groupBy("__x", "__y").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    wx = Window.partitionBy("__x")
    wy = Window.partitionBy("__y")
    wall = Window.partitionBy()
    cells = census.select(
        "__x",
        "__y",
        "__n",
        F.sum("__n").over(wx).alias("__rx"),
        F.sum("__n").over(wy).alias("__cy"),
        F.sum("__n").over(wall).alias("__nn"),
    )
    nd = F.col("__n").cast("double")
    rx = F.col("__rx").cast("double")
    cy = F.col("__cy").cast("double")
    nn = F.col("__nn").cast("double")
    e = rx * cy / nn
    # the census holds OBSERVED cells only; a structural zero cell
    # still contributes E to chi-square. Since sum over ALL cells of E
    # is N, chi2 = N + sum over observed cells of ((O-E)^2/E - E) —
    # exact with no dense crosstab. MI needs no such correction
    # (p = 0 cells contribute 0).
    chi_term = (nd - e) * (nd - e) / e - e
    mi_term = nd / nn * F.log2(nd * nn / (rx * cy))
    nanos = lambda c: F.round(F.round(c, 9) * F.lit(1e9)).cast("decimal(38,0)")
    agg = cells.agg(
        F.max("__nn").alias("n"),
        F.countDistinct("__x").alias("n_x"),
        F.countDistinct("__y").alias("n_y"),
        F.sum(nanos(chi_term)).alias("__chi_n"),
        F.sum(nanos(mi_term)).alias("__mi_n"),
    )
    from betl_spark.operators.util import round6_nanos_ratio_expr

    dof = (F.col("n_x") - 1) * (F.col("n_y") - 1)
    chi2 = (
        F.col("n").cast("double")
        + F.col("__chi_n").cast("double") / F.lit(1e9)
    )
    mind = F.least(F.col("n_x") - 1, F.col("n_y") - 1)
    # reported chi2/mi round via exact integral nanos (the sum-ending-
    # in-...500 midpoint class — see round6_nanos_ratio_expr); the
    # chi2 INSIDE cramers_v's sqrt stays double (a sqrt output lands
    # on an exact 6dp midpoint only by measure-zero coincidence, and
    # both engines take the same IEEE sqrt of the same double)
    chi2_nanos = (
        "CAST(n AS DECIMAL(38,0)) * 1000000000 + CAST(__chi_n AS DECIMAL(38,0))"
    )
    return agg.select(
        "n",
        "n_x",
        "n_y",
        dof.cast("long").alias("dof"),
        F.when(dof > 0, round6_nanos_ratio_expr(chi2_nanos)).alias("chi2"),
        F.when(
            (dof > 0) & (F.col("n") > 0) & (chi2 > F.lit(0.0)),
            F.round(
                F.sqrt(
                    chi2 / (F.col("n").cast("double") * mind.cast("double"))
                ),
                6,
            ),
        ).alias("cramers_v"),
        round6_nanos_ratio_expr("__mi_n").alias("mi_bits"),
    )


# First-significant-digit expectations, log10(1 + 1/d) as shared
# 12dp literals: BOTH engines consume the same constants, so the
# comparison never rides on cross-libm log10 ulps.
BENFORD_EXPECTED = {
    1: 0.301029995664,
    2: 0.176091259056,
    3: 0.124938736608,
    4: 0.096910013008,
    5: 0.079181246048,
    6: 0.066946789631,
    7: 0.057991946978,
    8: 0.051152522447,
    9: 0.045757490561,
}


def benford_digits(df: DataFrame, amount_col) -> DataFrame:
    """First-significant-digit census of an amount column vs Benford's
    law — the classic anomaly screen over financial/measure columns
    (fabricated or truncated data shows up as a skewed digit mix).

    The digit comes from the DECIMAL's string rendering (first
    non-zero character), never floor(x/10^floor(log10 x)) — log10 at
    power-of-ten boundaries is a cross-libm ulp hazard; string
    rendering of an exact decimal is not (pass a DECIMAL column or
    cast first: double->string may go scientific for large values,
    and the two engines disagree on when). Zero/NULL amounts carry no
    leading digit and are excluded. Expected proportions are shared
    12dp literals (module constant), so both engines subtract the same
    numbers. Output: one row per observed digit
    (digit, n, p_obs 6dp, p_expected, diff 6dp), diff = p_obs −
    p_expected on the ROUNDED p_obs (engine-identical by
    construction).
    """
    from pyspark.sql import Window

    amt = (
        amount_col
        if not isinstance(amount_col, str)
        else F.col(amount_col)
    )
    digit = F.regexp_extract(amt.cast("string"), "([1-9])", 1)
    base = df.select(digit.alias("__d")).where(F.col("__d") != "")
    census = base.groupBy("__d").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    expected = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for d, p in sorted(BENFORD_EXPECTED.items())
                for x in (str(d), p)
            ]
        ),
        F.col("__d"),
    )
    p_obs = F.round(
        F.col("n").cast("double") / F.sum("n").over(total).cast("double"), 6
    )
    return census.select(
        F.col("__d").cast("int").alias("digit"),
        "n",
        p_obs.alias("p_obs"),
        expected.alias("p_expected"),
        # + 0.0: signed-zero normalization (see quality.dsir_scores)
        (F.round(p_obs - expected, 6) + F.lit(0.0)).alias("diff"),
    )


def decile_lift(
    df: DataFrame,
    score_col: str,
    label_col,
    tiebreak_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Score-decile lift table — the standard readout for "is this
    quality/classifier score actually ranking what it claims": rows
    are ranked by score into ``n_buckets`` equal-depth bands and each
    band reports its positive rate against the global rate.

    Ranking reuses the banded two-pass global rank
    (``ranked_running_sum`` — no partition-less Window), bucket
    assignment is exact integer floor((rank−1)·B/N) (same arithmetic
    as ``equidepth_histogram``), and rates/lift are single guarded
    divisions over exact counts. Output: (bucket, n, n_pos, rate 6dp,
    lift 6dp), bucket 0 = lowest scores; lift NULL when the global
    rate is 0.
    """
    from pyspark.sql import Window

    lab = (
        label_col if not isinstance(label_col, str) else F.col(label_col)
    ).cast("boolean")
    ranked = ranked_running_sum(
        df.select(
            F.col(score_col).alias("__val"),
            F.col(tiebreak_col).alias("__tb"),
            F.lit(1).alias("__one"),
            lab.alias("__lab"),
        ).where(F.col("__val").isNotNull() & F.col("__lab").isNotNull()),
        ["__val", "__tb"],
        "__one",
        rank_col="__rank",
        cum_col="__cum",
    )
    total = ranked.agg(F.max("__cum").alias("__n"))
    per_bucket = (
        ranked.crossJoin(F.broadcast(total))
        .select(
            F.expr(
                f"(CAST(__rank AS BIGINT) - 1L) * {int(n_buckets)}L DIV __n"
            ).alias("bucket"),
            F.col("__lab").cast("long").alias("__pos"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__pos").alias("n_pos"),
        )
    )
    wall = Window.partitionBy()
    g_rate = (
        F.sum("n_pos").over(wall).cast("double")
        / F.sum("n").over(wall).cast("double")
    )
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    return per_bucket.select(
        "bucket",
        "n",
        "n_pos",
        F.when(F.col("n") > 0, F.round(rate, 6)).alias("rate"),
        F.when(
            (F.col("n") > 0) & (g_rate > F.lit(0.0)),
            F.round(rate / g_rate, 6),
        ).alias("lift"),
    )


def grouped_spearman(
    df: DataFrame,
    group_cols: list[str],
    x_col,
    y_col,
    x_scale: int = 3,
    y_scale: int = 3,
) -> DataFrame:
    """Per-group Spearman rank correlation — the monotone-trend /
    monotone-association test (pair it with (value, time) to ask "is
    this metric drifting?" without assuming linearity).

    Ranks come from one value census PER VARIABLE (the ``mann_whitney``
    machinery): distinct quantized values, cumulative counts, and
    average tie-ranks kept exact by working in DOUBLED ranks
    (2·rank = 2·cum_before + t + 1 is always an integer). The doubled
    ranks of x and y then feed the exact-moment Pearson identity —
    every sum an integer, one IEEE expression at the end (scaling both
    ranks by 2 leaves r unchanged). This is the full tie-aware
    Spearman (Pearson-on-ranks), not the 6Σd²/n(n²−1) shortcut that
    breaks under ties.

    Rows with NULL x or y are excluded. Output: (group_cols..., n,
    rho 6dp), NULL rho for degenerate (constant) variables.
    """
    from pyspark.sql import Window

    x = (
        x_col if not isinstance(x_col, str) else F.col(x_col)
    ).cast(f"decimal(18,{x_scale})")
    y = (
        y_col if not isinstance(y_col, str) else F.col(y_col)
    ).cast(f"decimal(18,{y_scale})")
    base = df.select(
        *group_cols, x.alias("__x"), y.alias("__y")
    ).where(F.col("__x").isNotNull() & F.col("__y").isNotNull())

    def ranked(col: str, out: str) -> DataFrame:
        census = base.groupBy(*group_cols, col).agg(
            F.count(F.lit(1)).cast("long").alias("__t")
        )
        w = (
            Window.partitionBy(*group_cols)
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return census.select(
            *group_cols,
            col,
            (
                F.lit(2) * F.coalesce(F.sum("__t").over(w), F.lit(0))
                + F.col("__t")
                + F.lit(1)
            ).alias(out),
        )

    rx = ranked("__x", "__rx")
    ry = ranked("__y", "__ry")
    j = base.join(rx, [*group_cols, "__x"]).join(ry, [*group_cols, "__y"])
    # Pearson on the doubled integer ranks: all five sums exact.
    # The second-moment products are summed as DECIMAL(38,0), not
    # BIGINT: doubled ranks reach 2n, so sum(rx*ry) reaches 4n^3,
    # which overflows int64 near n ~ 1.3M rows per group (DuckDB
    # promotes sum(BIGINT) to HUGEINT, so the engines would diverge —
    # round-10 advisor item #2). DECIMAL(38,0) holds 4n^3 up to
    # n ~ 2.9e12 rows per group, far past any realistic group.
    a = F.col("__rx")
    b = F.col("__ry")
    ad = a.cast("decimal(19,0)")
    bd = b.cast("decimal(19,0)")
    agg = j.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(ad).alias("__sx"),
        F.sum(bd).alias("__sy"),
        F.sum(ad * bd).alias("__sxy"),
        F.sum(ad * ad).alias("__sxx"),
        F.sum(bd * bd).alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    # + 0.0: signed-zero normalization (see quality.dsir_scores)
    rho = F.when(
        (varx > F.lit(0.0)) & (vary > F.lit(0.0)),
        F.round((n * sxy - sx * sy) / F.sqrt(varx * vary), 6) + F.lit(0.0),
    )
    return agg.select(*group_cols, "n", rho.alias("rho"))


def grouped_entropy(
    df: DataFrame,
    group_cols: list[str],
    cat_col: str,
) -> DataFrame:
    """Shannon entropy (bits) of a categorical column per group — the
    diversity screen over behavioral/categorical data (a user whose
    events are one type, a source whose docs are one language, a shard
    collapsed to one label all read as ~0 bits).

    One census per (group, category), per-group totals via a window
    over the census (|categories| rows, no rescan), per-category terms
    −p·log2(p) rounded to 9dp and summed as integer nanos (the
    order-independence discipline). NULL categories are excluded.
    Output: (group_cols..., n, n_categories, entropy_bits 6dp) —
    0 for single-category groups by construction.
    """
    from pyspark.sql import Window

    base = df.select(*group_cols, F.col(cat_col).alias("__c")).where(
        F.col("__c").isNotNull()
    )
    census = base.groupBy(*group_cols, "__c").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    wg = Window.partitionBy(*group_cols)
    p = F.col("__n").cast("double") / F.col("__tot").cast("double")
    term = -(p * F.log2(p))
    nanos = F.round(F.round(term, 9) * F.lit(1e9)).cast("long")
    cells = census.select(
        *group_cols,
        "__n",
        F.sum("__n").over(wg).alias("__tot"),
    ).select(
        *group_cols,
        "__n",
        "__tot",
        nanos.alias("__e"),
    )
    agg = cells.groupBy(*group_cols).agg(
        F.max("__tot").alias("n"),
        F.count(F.lit(1)).alias("n_categories"),
        F.sum("__e").alias("__en"),
    )
    from betl_spark.operators.util import round6_nanos_ratio_expr

    return agg.select(
        *group_cols,
        "n",
        "n_categories",
        round6_nanos_ratio_expr("__en").alias("entropy_bits"),
    )
