"""Contract queries for the streaming surface and delta change capture.

``events_stream_tumbling`` genuinely executes Structured Streaming
(file source → windowed state → memory sink, availableNow) and returns
the final table — proving the stream computes exactly what the batch
oracle computes on the same files.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from betl_spark.contract.common import table
from betl_spark.defaults.delta import classify_changes
from betl_spark.streaming import (
    event_stream,
    run_stream_to_table,
    sessionize,
    sliding_window_agg,
    stateful_running_totals,
    stream_stream_time_join,
    tumbling_window_agg,
)


# state-store commits cost O(partitions) per micro-batch; 8 is right for
# local[32] over ~100k events — a 1000-executor deployment passes O(cores)
STATE_PARTS = 8


def q_events_stream_tumbling(spark, sf_dir):
    stream = event_stream(spark, f"{sf_dir}/events.parquet")
    agg = tumbling_window_agg(stream, window="5 minutes")
    return run_stream_to_table(agg, output_mode="complete", state_partitions=STATE_PARTS)


EVENTS_STREAM_TUMBLING_SQL = """
SELECT
  CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_stream_sliding(spark, sf_dir):
    stream = event_stream(spark, f"{sf_dir}/events.parquet")
    agg = sliding_window_agg(stream, window="10 minutes", slide="5 minutes")
    return run_stream_to_table(agg, output_mode="complete", state_partitions=STATE_PARTS)


# each event lands in window/slide = 2 overlapping windows: the batch
# equivalent is the event duplicated into its two aligned window starts
EVENTS_STREAM_SLIDING_SQL = """
SELECT window_start, event_type, COUNT(*) AS n_events
FROM (
  SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 300) * 300 - s.off AS BIGINT)
           AS window_start,
         event_type
  FROM events CROSS JOIN (VALUES (0), (300)) s(off)
)
GROUP BY window_start, event_type
"""


def q_events_stream_session(spark, sf_dir):
    stream = event_stream(spark, f"{sf_dir}/events.parquet")
    agg = sessionize(stream, gap="30 minutes")
    return run_stream_to_table(agg, output_mode="complete", state_partitions=STATE_PARTS)


# gaps-and-islands batch equivalent of session_window: a new session
# starts when the gap to the previous event is >= 30 min (session
# windows [t, t+gap) merge only on strict overlap); session end =
# last event + gap; unix_timestamp truncates to whole seconds
EVENTS_STREAM_SESSION_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, value FROM events
),
m AS (
  SELECT user_id, tus, value,
         CASE WHEN lag(tus) OVER w IS NULL
                OR tus - lag(tus) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)
),
s AS (
  SELECT user_id, tus, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT CAST(FLOOR(MIN(tus) / 1000000) AS BIGINT) AS session_start,
       CAST(FLOOR((MAX(tus) + 1800000000) / 1000000) AS BIGINT) AS session_end,
       user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM s GROUP BY user_id, sid
"""


def q_events_stream_stateful(spark, sf_dir):
    """Per-user running totals (native streaming aggregate): with the
    whole file set in one availableNow batch, each user emits exactly
    one update row whose totals are the full per-user aggregate —
    SQL-checkable. Rounded to 2dp to absorb float summation order."""
    stream = event_stream(spark, f"{sf_dir}/events.parquet")
    out = run_stream_to_table(
        stateful_running_totals(stream),
        output_mode="update",
        state_partitions=STATE_PARTS,
    )
    return out.select(
        "user_id",
        "events_seen",
        F.round("running_value", 2).alias("running_value"),
    )


EVENTS_STREAM_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS events_seen,
       round(SUM(value), 2) AS running_value
FROM events GROUP BY user_id
"""


def q_events_stream_dedupe(spark, sf_dir):
    """Streaming exact-dedup: every distinct (user, event_type) pair
    emitted once across the whole stream — the batch oracle is plain
    DISTINCT."""
    from betl_spark.streaming import stream_dedupe

    stream = event_stream(spark, f"{sf_dir}/events.parquet")
    dd = stream_dedupe(stream, ["user_id", "event_type"], watermark="365 days")
    return run_stream_to_table(dd, output_mode="append", state_partitions=STATE_PARTS)


EVENTS_STREAM_DEDUPE_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_delta_classify(spark, sf_dir):
    """Change capture between two deterministic snapshots of orders:
    previous drops orderkey%7==0 (→INSERT on re-arrival), incoming drops
    orderkey%11==0 (→DELETE) and doubles totalprice on orderkey%5==0
    (→UPDATE); the rest classify UNCHANGED."""
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    previous = orders.filter(F.col("o_orderkey") % 7 != 0)
    incoming = orders.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")),
    )
    return classify_changes(previous, incoming, ["o_orderkey"], ["o_totalprice"])


DELTA_CLASSIFY_SQL = """
WITH prev AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 != 0
),
inc AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 11 != 0
)
SELECT
  COALESCE(p.o_orderkey, i.o_orderkey) AS o_orderkey,
  CASE WHEN i.o_orderkey IS NULL THEN p.o_totalprice
       ELSE i.o_totalprice END AS o_totalprice,
  CASE
    WHEN p.o_orderkey IS NULL THEN 'INSERT'
    WHEN i.o_orderkey IS NULL THEN 'DELETE'
    WHEN p.o_totalprice IS DISTINCT FROM i.o_totalprice THEN 'UPDATE'
    ELSE 'UNCHANGED'
  END AS change_op
FROM prev p FULL OUTER JOIN inc i ON p.o_orderkey = i.o_orderkey
"""


def q_delta_load_dimension(spark, sf_dir):
    """Incremental dimension load over two deterministic customer
    snapshots: previous omits custkey%10==0 (their re-arrival →
    INSERT with fresh SKs after the max), incoming omits custkey%13==0
    (→ retained with old attributes) and rewrites the segment on
    custkey%7==0 (→ type-1 UPDATE keeping the SK)."""
    from betl_spark.defaults.delta import delta_load_dimension
    from betl_spark.defaults.load import assign_surrogate_keys

    cust = table(spark, sf_dir, "customer")
    prev_src = cust.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").cast("string").alias("nk_customer"), "c_mktsegment"
    )
    prev_dim = assign_surrogate_keys(prev_src, "sk_customer", ["nk_customer"])
    incoming = cust.filter(F.col("c_custkey") % 13 != 0).select(
        F.col("c_custkey").cast("string").alias("nk_customer"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    return delta_load_dimension(prev_dim, incoming, "sk_customer", ["nk_customer"])


DELTA_LOAD_DIMENSION_SQL = """
WITH prev AS (
  SELECT row_number() OVER (ORDER BY CAST(c_custkey AS VARCHAR)) AS sk_customer,
         CAST(c_custkey AS VARCHAR) AS nk_customer, c_mktsegment
  FROM customer WHERE c_custkey % 10 != 0
),
inc AS (
  SELECT CAST(c_custkey AS VARCHAR) AS nk_customer,
         CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
  FROM customer WHERE c_custkey % 13 != 0
),
kept AS (
  SELECT p.sk_customer, p.nk_customer,
         CASE WHEN i.nk_customer IS NULL THEN p.c_mktsegment
              ELSE i.c_mktsegment END AS c_mktsegment
  FROM prev p LEFT JOIN inc i USING (nk_customer)
),
new_rows AS (
  SELECT (SELECT max(sk_customer) FROM prev)
           + row_number() OVER (ORDER BY i.nk_customer) AS sk_customer,
         i.nk_customer, i.c_mktsegment
  FROM inc i LEFT JOIN prev p USING (nk_customer)
  WHERE p.nk_customer IS NULL
)
SELECT sk_customer, nk_customer, c_mktsegment FROM kept
UNION ALL
SELECT sk_customer, nk_customer, c_mktsegment FROM new_rows
"""


def q_scd2_dimension(spark, sf_dir):
    """Type-2 dimension update over two deterministic customer
    snapshots (same windows as delta_load_dimension): batch 1 is the
    %10-filtered snapshot, batch 2 the %13-filtered one with segments
    rewritten on %7 — changed NKs close their batch-1 row and open a
    fresh-SK version, re-arrivals open first versions, absentees
    retire."""
    from betl_spark.defaults.delta import scd2_apply
    from betl_spark.defaults.load import assign_surrogate_keys

    cust = table(spark, sf_dir, "customer")
    prev_src = cust.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").cast("string").alias("nk_customer"), "c_mktsegment"
    )
    prev_dim = (
        assign_surrogate_keys(prev_src, "sk_customer", ["nk_customer"])
        .withColumn("valid_from", F.lit(1).cast("long"))
        .withColumn("valid_to", F.lit(None).cast("long"))
        .withColumn("is_current", F.lit(True))
    )
    incoming = cust.filter(F.col("c_custkey") % 13 != 0).select(
        F.col("c_custkey").cast("string").alias("nk_customer"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    return scd2_apply(prev_dim, incoming, "sk_customer", ["nk_customer"], batch_id=2)


SCD2_DIMENSION_SQL = """
WITH prev AS (
  SELECT row_number() OVER (ORDER BY CAST(c_custkey AS VARCHAR)) AS sk_customer,
         CAST(c_custkey AS VARCHAR) AS nk_customer, c_mktsegment
  FROM customer WHERE c_custkey % 10 != 0
),
inc AS (
  SELECT CAST(c_custkey AS VARCHAR) AS nk_customer,
         CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
  FROM customer WHERE c_custkey % 13 != 0
),
class AS (
  SELECT COALESCE(p.nk_customer, i.nk_customer) AS nk_customer,
         i.c_mktsegment AS inc_seg,
         CASE WHEN p.nk_customer IS NULL THEN 'INSERT'
              WHEN i.nk_customer IS NULL THEN 'DELETE'
              WHEN p.c_mktsegment IS DISTINCT FROM i.c_mktsegment THEN 'UPDATE'
              ELSE 'UNCHANGED' END AS op
  FROM prev p FULL OUTER JOIN inc i USING (nk_customer)
),
closed AS (
  SELECT p.sk_customer, p.nk_customer, p.c_mktsegment,
         CAST(1 AS BIGINT) AS valid_from, CAST(2 AS BIGINT) AS valid_to, FALSE AS is_current
  FROM prev p JOIN class c USING (nk_customer) WHERE c.op IN ('UPDATE', 'DELETE')
),
kept AS (
  SELECT p.sk_customer, p.nk_customer, p.c_mktsegment,
         CAST(1 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
  FROM prev p JOIN class c USING (nk_customer) WHERE c.op = 'UNCHANGED'
),
new_rows AS (
  SELECT (SELECT max(sk_customer) FROM prev)
           + row_number() OVER (ORDER BY nk_customer) AS sk_customer,
         nk_customer, inc_seg AS c_mktsegment,
         CAST(2 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
  FROM class WHERE op IN ('INSERT', 'UPDATE')
)
SELECT * FROM closed UNION ALL SELECT * FROM kept UNION ALL SELECT * FROM new_rows
"""


def q_delta_load_fact(spark, sf_dir):
    """Incremental fact merge over two deterministic lineitem windows:
    previous omits orderkey%3==0, the incoming batch is the orderkey%5
    slice with restated quantities — %15 rows are brand-new (APPEND),
    overlapping rows take incoming measures, everything else is
    retained (absence from a batch is not deletion)."""
    from betl_spark.defaults.delta import delta_load_fact

    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 5000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )
    prev = li.filter(F.col("l_orderkey") % 3 != 0)
    inc = li.filter(F.col("l_orderkey") % 5 == 0).withColumn(
        "l_quantity", F.col("l_quantity") + 1
    )
    return delta_load_fact(prev, inc, ["l_orderkey", "l_linenumber"])


DELTA_LOAD_FACT_SQL = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
  FROM lineitem WHERE l_orderkey < 5000
),
prev AS (SELECT * FROM li WHERE l_orderkey % 3 != 0),
inc AS (
  SELECT l_orderkey, l_linenumber, l_quantity + 1 AS l_quantity, l_extendedprice
  FROM li WHERE l_orderkey % 5 = 0
)
SELECT COALESCE(p.l_orderkey, i.l_orderkey) AS l_orderkey,
       COALESCE(p.l_linenumber, i.l_linenumber) AS l_linenumber,
       CASE WHEN i.l_orderkey IS NULL THEN p.l_quantity ELSE i.l_quantity END AS l_quantity,
       CASE WHEN i.l_orderkey IS NULL THEN p.l_extendedprice ELSE i.l_extendedprice END AS l_extendedprice
FROM prev p FULL OUTER JOIN inc i
  ON p.l_orderkey = i.l_orderkey AND p.l_linenumber = i.l_linenumber
"""


def q_events_stream_enrich(spark, sf_dir):
    from betl_spark.streaming import stream_static_enrich

    stream = event_stream(spark, f"{sf_dir}/events.parquet")
    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("signup", "growth"),
            ("error", "ops"),
        ],
        ["event_type", "category"],
    )
    agg = stream_static_enrich(
        stream, dim, on=["event_type"], group_col="category", window="5 minutes"
    )
    return run_stream_to_table(agg, output_mode="complete", state_partitions=STATE_PARTS)


EVENTS_STREAM_ENRICH_SQL = """
WITH dim(event_type, category) AS (
  VALUES ('click', 'engagement'), ('view', 'engagement'),
         ('purchase', 'revenue'), ('signup', 'growth'), ('error', 'ops')
)
SELECT
  CAST(FLOOR(epoch(e.ts) / 300) * 300 AS BIGINT) AS window_start,
  d.category,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY 1, 2
"""


def q_events_stream_join(spark, sf_dir):
    """Stream-stream attribution: each click joined to the same user's
    purchases within 30 minutes after it — both sides genuinely
    streaming (two file-source streams, watermarked state-store join,
    availableNow into a memory sink)."""
    clicks = event_stream(spark, f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "click"
    )
    purchases = event_stream(spark, f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_stream_time_join(
        clicks, purchases, ["user_id"], within="30 minutes"
    )
    out = run_stream_to_table(
        joined, output_mode="append", state_partitions=STATE_PARTS
    )
    return out.select(
        "user_id",
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
    )


EVENTS_STREAM_JOIN_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def q_events_stream_kmv(spark, sf_dir):
    """Streaming bottom-k (KMV) distinct sketch per event type
    (applyInPandasWithState; streaming/events.py:stream_kmv_distinct):
    the state update is the same lossless bottom-k merge as the batch
    family, so the final generation equals the batch kmv_sketch of the
    same rows bit-for-bit — the oracle computes the direct global
    bottom-k in SQL (the 48-bit md5 hash is computed JVM-side before
    the stateful operator). Micro-batch-slicing invariance is pinned
    separately with maxFilesPerTrigger=1 (tests/test_streaming_delta.py)."""
    from betl_spark.streaming import stream_kmv_distinct

    stream = event_stream(spark, f"{sf_dir}/events.parquet")
    out = run_stream_to_table(
        stream_kmv_distinct(stream, "event_type", "user_id", k=64),
        output_mode="update",
        state_partitions=STATE_PARTS,
    )
    from pyspark.sql import Window

    wmax = Window.partitionBy("group_key")
    final = out.withColumn("__gmax", F.max("gen").over(wmax)).where(
        F.col("gen") == F.col("__gmax")
    )
    w = Window.partitionBy("group_key").orderBy(F.col("h").asc(), F.col("item").asc())
    return final.select(
        F.col("group_key").alias("event_type"),
        F.row_number().over(w).cast("long").alias("rank"),
        "item",
        "h",
    )


EVENTS_STREAM_KMV_SQL = """
WITH cand AS (
  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS item
  FROM events WHERE user_id IS NOT NULL
),
hashed AS (
  SELECT event_type, item,
         CAST('0x' || substr(md5(item), 1, 12) AS BIGINT) AS h
  FROM cand
)
SELECT event_type,
       CAST(row_number() OVER (PARTITION BY event_type ORDER BY h, item)
            AS BIGINT) AS rank,
       item, h
FROM hashed QUALIFY rank <= 64
"""


QUERIES = {
    "events_stream_kmv": (q_events_stream_kmv, EVENTS_STREAM_KMV_SQL),
    "events_stream_join": (q_events_stream_join, EVENTS_STREAM_JOIN_SQL),
    "events_stream_tumbling": (q_events_stream_tumbling, EVENTS_STREAM_TUMBLING_SQL),
    "events_stream_enrich": (q_events_stream_enrich, EVENTS_STREAM_ENRICH_SQL),
    "events_stream_sliding": (q_events_stream_sliding, EVENTS_STREAM_SLIDING_SQL),
    "events_stream_session": (q_events_stream_session, EVENTS_STREAM_SESSION_SQL),
    "events_stream_stateful": (q_events_stream_stateful, EVENTS_STREAM_STATEFUL_SQL),
    "events_stream_dedupe": (q_events_stream_dedupe, EVENTS_STREAM_DEDUPE_SQL),
    "delta_classify": (q_delta_classify, DELTA_CLASSIFY_SQL),
    "delta_load_dimension": (q_delta_load_dimension, DELTA_LOAD_DIMENSION_SQL),
    "delta_load_fact": (q_delta_load_fact, DELTA_LOAD_FACT_SQL),
    "scd2_dimension": (q_scd2_dimension, SCD2_DIMENSION_SQL),
}
