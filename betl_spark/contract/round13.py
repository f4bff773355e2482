"""Round-13 contract queries: the ER scale-evidence family the
round-12 verdict asked for (asks #2/#3/#7) — a GROWING-vocabulary
corpus (the fixed ~2.1k-name vocabulary of rounds 11-12 made the
decade ladder flat by construction; here |vocabulary| grows with the
corpus, so the pairwise/CC stages are finally measured against the
axis they are bounded by), a SKEWED (whale-block) corpus driving the
blocked-vs-SNM crossover, the production blocked ∪ SNM pair union,
and the 3-day incremental chain (labels frozen day over day).

Growing corpus construction (both engines, shared SQL text):

- ``n_entities = greatest(20, n_docs // 24)`` — entity count is
  proportional to the corpus (TPC-H-style: dims grow with facts), so
  vocabulary ≈ 10 distinct dirty names x n_entities grows linearly
  with sf instead of being pinned at 211 entities.
- entity ``e = doc_id % n_entities`` splits into the CRT index
  ``c = e % 1001`` (11 given x 13 surname x 7 suffix — injective, the
  round-11 pools) and the BLOCK index ``b = e // 1001``; the base name
  appends ``repeat(letter[b], 8)`` — an 8-char single-letter token.
  Two entities in different blocks are ≥ 8 edits apart (8
  substitutions in the block token), which exceeds the worst-case
  variant drift (two dist-3 perturbations around dist-3-apart bases),
  so clusters NEVER chain across blocks: cluster size stays bounded
  while the vocabulary grows — growth in the pair/CC stages measures
  vocabulary, not an artifact of whale clusters. 26 letters bound the
  corpus at 26 x 1001 = 26,026 entities (sf10 needs 20,833; guarded).
- names are synthesized IN-ENGINE from the three small pools + the
  letter array (tiny array literals, element_at O(1)) — a
  materialized-literal vocabulary like rounds 11-12's BASE_NAMES would
  be a 20k-element array at sf10 and is exactly the 64KB-codegen-cliff
  shape `plans.warn_on_codegen_cliff` exists to catch.
- variants are the shared ``_DIRTY`` CASE (v = doc_id % 19), so the
  expected per-entity cluster shape matches contract/linkage.py's
  census.

Skewed corpus (``skew=True``): 30% of entities (``e % 10 < 3``)
prefix their base AND swapped names with ``'zz'`` — every skewed name
lands in the single ``p:zz`` head block (the whale). Key blocking
goes quadratic inside that block (0.3·|vocab| choose 2 candidates)
while SNM stays at (window-1)·|vocab| regardless; the measured
crossover lives in scripts/er_whale_rehearsal.py + SCALE.md, the
recall census (who finds which true pair) in
``er_skew_method_census`` below.

Cross-engine determinism: identical to round-12 — min-reachable-name
cluster labels, recursive-CTE closures in DuckDB, integer
levenshtein, and the day split ``doc_id % 3`` is arithmetic both
engines share.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from betl_spark.contract.common import table
from betl_spark.contract.linkage import (
    GIVEN,
    SUFFIX,
    SURNAME,
    THRESHOLD,
    _arr_duck,
    _arr_spark,
    _DIRTY,
    _LKEY,
    _NORM,
    _PKEY,
    records_frame,
)
from betl_spark.contract.round12 import _vocab_pair_ctes
from betl_spark.operators import linkage
from betl_spark.operators.util import materialize

QUERIES: dict = {}

#: CRT-injectivity bound of the three name pools (11 x 13 x 7)
CRT = 1001
#: corpus-proportional entity count: one entity per 24 documents
DOCS_PER_ENTITY = 24
#: floor so the tiny sf0.001/sf0.01 corpora still have >1 entity
MIN_ENTITIES = 20
BLOCK_LETTERS = tuple("abcdefghijklmnopqrstuvwxyz")
MAX_ENTITIES = len(BLOCK_LETTERS) * CRT
#: cross-block separation: 8-char block token => >= 8 edits between
#: blocks, > 2*THRESHOLD + max base proximity, so no cross-block chain
BLOCK_TOKEN_LEN = 8


def _gname(arr, swapped: bool) -> str:
    """Growing-corpus base-name expression over columns ``c`` (CRT
    index) and ``b`` (block index); ``arr`` is the dialect's
    array-literal indexer (_arr_spark / _arr_duck)."""
    g = arr(GIVEN, "c % 11")
    s = arr(SURNAME, "c % 13")
    x = arr(SUFFIX, "c % 7")
    blk = f"repeat({arr(BLOCK_LETTERS, 'b')}, {BLOCK_TOKEN_LEN})"
    head = f"{s} || ' ' || {g}" if swapped else f"{g} || ' ' || {s}"
    return (
        f"{head} || CASE WHEN {x} = '' THEN '' ELSE ' ' || {x} END"
        f" || ' ' || {blk}"
    )


def _skewed(expr: str) -> str:
    """30% of entities share the 2-char head prefix 'zz' (the whale)."""
    return f"CASE WHEN e % 10 < 3 THEN 'zz' || ({expr}) ELSE ({expr}) END"


def growing_records_frame(spark, sf_dir, skew: bool = False):
    """Dirty-record stream whose name vocabulary grows with the
    corpus: one synthetic name per document, entities ∝ documents.

    The single ``count()`` is driver-side metadata (one job over
    parquet row-group counts), bounding nothing downstream — the same
    class as the audited bounded collects in SCALE.md.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    n_docs = docs.count()
    n_ent = max(MIN_ENTITIES, n_docs // DOCS_PER_ENTITY)
    if n_ent > MAX_ENTITIES:
        raise ValueError(
            f"growing corpus caps at {MAX_ENTITIES} entities "
            f"(26 block letters); got {n_ent} — widen the block token"
        )
    d = docs.select(
        "doc_id",
        "source",
        (F.col("doc_id") % n_ent).cast("long").alias("e"),
        (F.col("doc_id") % 19).cast("long").alias("v"),
    ).selectExpr(
        "*",
        f"CAST(e % {CRT} AS BIGINT) AS c",
        f"CAST(e DIV {CRT} AS BIGINT) AS b",
    )
    base = _gname(_arr_spark, swapped=False)
    sw = _gname(_arr_spark, swapped=True)
    if skew:
        base, sw = _skewed(base), _skewed(sw)
    d = d.withColumn("base", F.expr(base)).withColumn("swapped", F.expr(sw))
    return d.withColumn("name", F.expr(_DIRTY)).select(
        "doc_id", "source", "e", "v", "name"
    )


def _growing_cte(skew: bool = False) -> str:
    """DuckDB twin of :func:`growing_records_frame` + vocabulary
    closure: emits ``rnorm`` (named records), ``vocab``, and the
    ``g*`` pair/closure chain (``glab`` = name -> min-reachable
    label)."""
    base = _gname(_arr_duck, swapped=False)
    sw = _gname(_arr_duck, swapped=True)
    if skew:
        base, sw = _skewed(base), _skewed(sw)
    return f"""
params AS (
  SELECT CAST(greatest({MIN_ENTITIES}, count(*) // {DOCS_PER_ENTITY})
              AS BIGINT) AS n_ent
  FROM documents
),
parts AS (
  SELECT doc_id, source,
         CAST(doc_id % p.n_ent AS BIGINT) AS e,
         CAST(doc_id % 19 AS BIGINT) AS v,
         CAST((doc_id % p.n_ent) % {CRT} AS BIGINT) AS c,
         CAST((doc_id % p.n_ent) // {CRT} AS BIGINT) AS b
  FROM documents, params p
),
named AS (
  SELECT doc_id, source, e, v,
         {base} AS base,
         {sw} AS swapped
  FROM parts
),
dirty AS (
  SELECT doc_id, source, e, v, {_DIRTY} AS name FROM named
),
rnorm AS (
  SELECT doc_id, source, e, v, {_NORM} AS name
  FROM dirty WHERE name IS NOT NULL
),
vocab AS (SELECT DISTINCT name FROM rnorm),
{_vocab_pair_ctes('g', 'vocab')}"""


# ---- 1. er_vocab_growth_assign: record-grain clustering on the
# growing-vocabulary corpus ----
def q_er_vocab_growth_assign(spark, sf_dir):
    """cluster_records on the growing-vocabulary corpus: same
    operator and plan as er_cluster_assign, but the vocabulary (and
    with it the pairwise + CC stage input) grows linearly with sf —
    the corpus behind the round-13 growth-exponent rehearsal
    (scripts/er_vocab_growth_rehearsal.py, SCALE.md)."""
    c = linkage.cluster_records(
        growing_records_frame(spark, sf_dir),
        record_id="doc_id",
        record_name="name",
        threshold=THRESHOLD,
        keep_cols=("source", "e", "v"),
    )
    return c.select(
        F.col("record_id").alias("doc_id"),
        "source",
        "e",
        "v",
        "name",
        "cluster_id",
    )


ER_VOCAB_GROWTH_ASSIGN_SQL = f"""
WITH RECURSIVE {_growing_cte()}
SELECT r.doc_id, r.source, r.e, r.v, r.name, l.lbl AS cluster_id
FROM rnorm r JOIN glab l USING (name)
"""
QUERIES["er_vocab_growth_assign"] = (
    q_er_vocab_growth_assign,
    ER_VOCAB_GROWTH_ASSIGN_SQL,
)


# ---- 2. er_vocab_growth_sizes: cluster-size histogram on the
# growing corpus (bounded-cluster witness: sizes must stay block-local
# however large the vocabulary gets) ----
def q_er_vocab_growth_sizes(spark, sf_dir):
    c = linkage.cluster_records(
        growing_records_frame(spark, sf_dir),
        record_id="doc_id",
        record_name="name",
        threshold=THRESHOLD,
    )
    per = c.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.countDistinct("name").cast("long").alias("n_names"),
    )
    return per.groupBy("n_records").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("n_names").cast("long").alias("n_names_sum"),
    ).select(
        F.col("n_records").alias("cluster_size"), "n_clusters", "n_names_sum"
    )


ER_VOCAB_GROWTH_SIZES_SQL = f"""
WITH RECURSIVE {_growing_cte()},
assign AS (
  SELECT r.doc_id, r.name, l.lbl AS cluster_id
  FROM rnorm r JOIN glab l USING (name)
),
per AS (
  SELECT cluster_id,
         CAST(count(*) AS BIGINT) AS n_records,
         CAST(count(DISTINCT name) AS BIGINT) AS n_names
  FROM assign GROUP BY 1
)
SELECT n_records AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(n_names) AS BIGINT) AS n_names_sum
FROM per GROUP BY 1
"""
QUERIES["er_vocab_growth_sizes"] = (
    q_er_vocab_growth_sizes,
    ER_VOCAB_GROWTH_SIZES_SQL,
)


# ---- 3. er_snm_union_pairs: the production candidate set — blocked
# pairs ∪ SNM pairs with per-method provenance ----
def q_er_snm_union_pairs(spark, sf_dir):
    """The operating rule sorted_neighborhood_pairs documents
    ("production runs use both and union the pair sets"), shipped as
    a query: full-outer join of the blocked and SNM pair sets on the
    ordered name pair, with provenance flags. in_blocked AND NOT
    in_snm = sort-position escapes SNM's window (the l:-key recoveries);
    in_snm AND NOT in_blocked = pairs sharing neither tagged prefix
    (SNM's contribution on prefix-breaking edits)."""
    recs = records_frame(spark, sf_dir)
    vocab = (
        recs.select(F.lower(F.trim("name")).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
    )
    bp = linkage.fuzzy_name_pairs(vocab, THRESHOLD).withColumn(
        "in_blocked", F.lit(True)
    )
    sp = (
        linkage.sorted_neighborhood_pairs(vocab, window=5, threshold=THRESHOLD)
        .drop("rank_gap")
        .withColumnRenamed("dist", "dist_s")
        .withColumn("in_snm", F.lit(True))
    )
    u = bp.join(sp, ["name_a", "name_b"], "full")
    return u.select(
        "name_a",
        "name_b",
        F.coalesce("dist", "dist_s").alias("dist"),
        F.coalesce("in_blocked", F.lit(False)).alias("in_blocked"),
        F.coalesce("in_snm", F.lit(False)).alias("in_snm"),
    )


_UNION_TAIL = f"""
snm AS (
  SELECT a.name AS name_a, b.name AS name_b,
         CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
  FROM sidx a JOIN sidx b ON b.rn > a.rn AND b.rn <= a.rn + 4
  WHERE levenshtein(a.name, b.name) <= {THRESHOLD}
),
blocked AS (
  SELECT name_a, name_b,
         CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
  FROM gp
),
u AS (
  SELECT coalesce(b.name_a, s.name_a) AS name_a,
         coalesce(b.name_b, s.name_b) AS name_b,
         coalesce(b.dist, s.dist) AS dist,
         b.name_a IS NOT NULL AS in_blocked,
         s.name_a IS NOT NULL AS in_snm
  FROM blocked b FULL OUTER JOIN snm s
    ON b.name_a = s.name_a AND b.name_b = s.name_b
)"""

# the fixed-corpus name CTEs come from contract/linkage's
# materialized arrays, same as round-12's modules
from betl_spark.contract.linkage import BASE_NAMES, N_ENTITIES, SWAPPED_NAMES  # noqa: E402

_FIXED_VOCAB_CTE = f"""
recs AS (
  SELECT doc_id,
         {_arr_duck(BASE_NAMES, f'doc_id % {N_ENTITIES}')} AS base,
         {_arr_duck(SWAPPED_NAMES, f'doc_id % {N_ENTITIES}')} AS swapped,
         CAST(doc_id % 19 AS BIGINT) AS v
  FROM documents
),
dirty AS (
  SELECT doc_id, {_DIRTY} AS name FROM recs
),
vocab AS (
  SELECT DISTINCT {_NORM} AS name FROM dirty WHERE name IS NOT NULL
)"""

ER_SNM_UNION_PAIRS_SQL = f"""
WITH RECURSIVE {_FIXED_VOCAB_CTE},
{_vocab_pair_ctes('g', 'vocab')},
sidx AS (
  SELECT name, row_number() OVER (ORDER BY name) AS rn FROM vocab
),
{_UNION_TAIL.lstrip()}
SELECT name_a, name_b, dist, in_blocked, in_snm FROM u
"""
QUERIES["er_snm_union_pairs"] = (q_er_snm_union_pairs, ER_SNM_UNION_PAIRS_SQL)


# ---- 4. er_skew_method_census: whale-block corpus — who finds which
# pair (the recall half of verdict ask #3; the wall-time half is
# scripts/er_whale_rehearsal.py) ----
def q_er_skew_method_census(spark, sf_dir):
    """On the skewed (30%-one-prefix) growing corpus: per edit
    distance, how many true fuzzy pairs only key blocking finds, how
    many only SNM finds, and how many both find. Blocked-only mass is
    SNM's sort-window escapes; SNM-only mass is pairs sharing neither
    tagged prefix. The census is the measured basis for the operating
    rule (union both) documented in sorted_neighborhood_pairs."""
    # both pair generators (blocked + SNM) read the vocabulary;
    # materialize the generated corpus + distinct once
    vocab = materialize(
        growing_records_frame(spark, sf_dir, skew=True)
        .select(F.lower(F.trim("name")).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
    )
    bp = linkage.fuzzy_name_pairs(vocab, THRESHOLD).withColumn(
        "in_blocked", F.lit(True)
    )
    sp = (
        linkage.sorted_neighborhood_pairs(vocab, window=5, threshold=THRESHOLD)
        .drop("rank_gap")
        .withColumnRenamed("dist", "dist_s")
        .withColumn("in_snm", F.lit(True))
    )
    u = bp.join(sp, ["name_a", "name_b"], "full").select(
        F.coalesce("dist", "dist_s").alias("dist"),
        F.coalesce("in_blocked", F.lit(False)).alias("in_blocked"),
        F.coalesce("in_snm", F.lit(False)).alias("in_snm"),
    )
    return u.groupBy("dist").agg(
        F.sum(F.when(F.col("in_blocked") & ~F.col("in_snm"), 1).otherwise(0))
        .cast("long")
        .alias("n_blocked_only"),
        F.sum(F.when(F.col("in_snm") & ~F.col("in_blocked"), 1).otherwise(0))
        .cast("long")
        .alias("n_snm_only"),
        F.sum(F.when(F.col("in_snm") & F.col("in_blocked"), 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
    )


ER_SKEW_METHOD_CENSUS_SQL = f"""
WITH RECURSIVE {_growing_cte(skew=True)},
sidx AS (
  SELECT name, row_number() OVER (ORDER BY name) AS rn FROM vocab
),
{_UNION_TAIL.lstrip()}
SELECT dist,
       CAST(sum(CASE WHEN in_blocked AND NOT in_snm THEN 1 ELSE 0 END)
            AS BIGINT) AS n_blocked_only,
       CAST(sum(CASE WHEN in_snm AND NOT in_blocked THEN 1 ELSE 0 END)
            AS BIGINT) AS n_snm_only,
       CAST(sum(CASE WHEN in_snm AND in_blocked THEN 1 ELSE 0 END)
            AS BIGINT) AS n_both
FROM u GROUP BY 1
"""
QUERIES["er_skew_method_census"] = (
    q_er_skew_method_census,
    ER_SKEW_METHOD_CENSUS_SQL,
)


# ---- 5. er_3day_chain: day0 batch -> day1 incremental -> day2
# incremental (labels frozen at every step; verdict ask #7's
# oracle-paired shape, the stability property lives in
# tests/test_linkage_ops.py) ----
def q_er_3day_chain(spark, sf_dir):
    """Three-day incremental ER chain on the fixed corpus
    (day = doc_id % 3): day-0 records batch-cluster; each later day's
    batch attaches against the FROZEN label map accumulated so far
    (incremental_cluster_assign); output is the day-2 record-grain
    assignment. Labels from earlier days are never rewritten — the
    union feeding day 2 is yesterday's map plus day-1's fresh labels,
    exactly the daily-ingest loop at 100 TB (full recluster is a
    weekly job; the chain is the daily one)."""
    recs = records_frame(spark, sf_dir)
    d0 = recs.where(F.col("doc_id") % 3 == 0)
    d1 = recs.where(F.col("doc_id") % 3 == 1)
    d2 = recs.where(F.col("doc_id") % 3 == 2)
    # each day's label map is the next day's frozen input, referenced
    # ~4x inside incremental_cluster_assign (exact-attach, left_anti,
    # cross pairs, final union) — materialize the vocabulary-grain map
    # at every chain boundary or each reference re-executes the whole
    # prior-day chain multiplicatively (measured 18.4s -> see SCALE.md;
    # at 100 TB the daily map is a PERSISTED table by definition). The
    # truncated lineage is exactly the "frozen table" semantics the
    # chain models.
    lab0 = materialize(
        linkage.cluster_records(
            d0, record_id="doc_id", record_name="name", threshold=THRESHOLD
        )
        .select("name", "cluster_id")
        .distinct(),
        eager=True,
    )
    out1 = linkage.incremental_cluster_assign(
        d1, lab0, record_id="doc_id", record_name="name", threshold=THRESHOLD
    )
    lab1 = materialize(
        lab0.unionByName(out1.select("name", "cluster_id")).distinct(),
        eager=True,
    )
    out2 = linkage.incremental_cluster_assign(
        d2,
        lab1,
        record_id="doc_id",
        record_name="name",
        threshold=THRESHOLD,
        keep_cols=("source",),
    )
    return out2.select(
        F.col("record_id").alias("doc_id"),
        "source",
        "name",
        "cluster_id",
        "is_new_cluster",
    )


def _keys_cte(tag: str, vocab_cte: str) -> str:
    """Tagged blocking keys over one name set (DuckDB)."""
    return f"""
{tag} AS (
  SELECT DISTINCT name, k FROM (
    SELECT name, name AS n, UNNEST([{_PKEY}, {_LKEY}]) AS k
    FROM {vocab_cte}
  )
)"""


_3DAY_CTE = f"""
recs AS (
  SELECT doc_id, source,
         {_arr_duck(BASE_NAMES, f'doc_id % {N_ENTITIES}')} AS base,
         {_arr_duck(SWAPPED_NAMES, f'doc_id % {N_ENTITIES}')} AS swapped,
         CAST(doc_id % 19 AS BIGINT) AS v
  FROM documents
),
dirty AS (
  SELECT doc_id, source, {_DIRTY} AS name FROM recs
),
rnorm AS (
  SELECT doc_id, source, {_NORM} AS name
  FROM dirty WHERE name IS NOT NULL
),
r0 AS (SELECT * FROM rnorm WHERE doc_id % 3 = 0),
r1 AS (SELECT * FROM rnorm WHERE doc_id % 3 = 1),
r2 AS (SELECT * FROM rnorm WHERE doc_id % 3 = 2),
v0 AS (SELECT DISTINCT name FROM r0),
{_vocab_pair_ctes('a0', 'v0')},
v1 AS (SELECT DISTINCT name FROM r1),
f1 AS (SELECT name FROM v1 WHERE name NOT IN (SELECT name FROM v0)),
{_vocab_pair_ctes('x1', 'f1')},
ne1 AS (
  SELECT DISTINCT f.name AS name_l, e.name AS name_r
  FROM x1k f JOIN a0k e ON f.k = e.k
  WHERE (f.k LIKE 'p:%'
         OR substr(f.name, 1, 2) <> substr(e.name, 1, 2))
    AND levenshtein(f.name, e.name) <= {THRESHOLD}
),
att1 AS (
  SELECT c.lbl AS comp, min(l.lbl) AS attach_id
  FROM ne1
  JOIN x1lab c ON c.name = ne1.name_l
  JOIN a0lab l ON l.name = ne1.name_r
  GROUP BY 1
),
lab1 AS (
  SELECT name, lbl AS cluster_id FROM a0lab
  UNION ALL
  SELECT c.name, coalesce(a.attach_id, c.lbl) AS cluster_id
  FROM x1lab c LEFT JOIN att1 a ON a.comp = c.lbl
),
l1n AS (SELECT name FROM lab1),
{_keys_cte('l1k', 'l1n').lstrip()},
v2 AS (SELECT DISTINCT name FROM r2),
f2 AS (SELECT name FROM v2 WHERE name NOT IN (SELECT name FROM l1n)),
{_vocab_pair_ctes('x2', 'f2')},
ne2 AS (
  SELECT DISTINCT f.name AS name_l, e.name AS name_r
  FROM x2k f JOIN l1k e ON f.k = e.k
  WHERE (f.k LIKE 'p:%'
         OR substr(f.name, 1, 2) <> substr(e.name, 1, 2))
    AND levenshtein(f.name, e.name) <= {THRESHOLD}
),
att2 AS (
  SELECT c.lbl AS comp, min(l.cluster_id) AS attach_id
  FROM ne2
  JOIN x2lab c ON c.name = ne2.name_l
  JOIN lab1 l ON l.name = ne2.name_r
  GROUP BY 1
),
final AS (
  SELECT name, cluster_id, FALSE AS is_new_cluster FROM lab1
  UNION ALL
  SELECT c.name,
         coalesce(a.attach_id, c.lbl) AS cluster_id,
         a.attach_id IS NULL AS is_new_cluster
  FROM x2lab c LEFT JOIN att2 a ON a.comp = c.lbl
)"""

ER_3DAY_CHAIN_SQL = f"""
WITH RECURSIVE {_3DAY_CTE}
SELECT r.doc_id, r.source, r.name, f.cluster_id, f.is_new_cluster
FROM r2 r JOIN final f USING (name)
"""
QUERIES["er_3day_chain"] = (q_er_3day_chain, ER_3DAY_CHAIN_SQL)


# ---- 6/7. mergeable HLL distinct sketches (operators/sketches.py) —
# the scan-once / roll-up-forever distinct-count pattern. The DuckDB
# oracle computes the EXACT distinct counts independently; the Spark
# side additionally builds the sketch pipeline and pins two
# deterministic properties against its own exact counts: the estimate
# lands inside the DataSketches error band, and the day-sketch UNION
# is register-exact with the direct sketch (mergeability) ----

from betl_spark.contract.common import ts_micros  # noqa: E402

#: lgK=12 → rse ≈ 1.04/sqrt(4096) ≈ 1.6%; 3σ ≈ 4.9% — the band is 5%
#: + 1 (the +1 covers tiny groups where 5% < 1). DataSketches HLL is
#: unseeded, so the estimate (and this predicate) is deterministic per
#: dataset; the ladder re-checks it at every scale.
_EST_BAND_PCT = 5


def _est_ok(est_col, exact_col):
    tol = F.greatest(F.lit(1), (F.col(exact_col) * _EST_BAND_PCT / 100))
    return (F.abs(F.col(est_col) - F.col(exact_col)) <= tol).alias("est_ok")


def q_sketch_distinct_accuracy(spark, sf_dir):
    """Per event type: exact distinct users (both engines, exact) and
    the Spark-side accuracy contract — the HLL estimate within the
    deterministic 5% band of exact. One sketch agg + one exact agg;
    at 100 TB only the sketch agg would run per window, with exact
    reserved for audits like this one."""
    from betl_spark.operators import sketches

    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = sketches.estimate_distinct(
        sketches.sketch_distinct(ev, ["event_type"], "user_id")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return sk.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        _est_ok("distinct_est", "exact_users"),
    )


SKETCH_DISTINCT_ACCURACY_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS est_ok
FROM events GROUP BY 1
"""
QUERIES["sketch_distinct_accuracy"] = (
    q_sketch_distinct_accuracy,
    SKETCH_DISTINCT_ACCURACY_SQL,
)


def q_sketch_rollup_mergeable(spark, sf_dir):
    """The rollup contract: per-day sketches UNIONed across days
    estimate the whole-range distinct count inside the SAME accuracy
    band as a direct whole-range sketch — rolling up a persisted daily
    sketch table loses nothing actionable vs rescanning the facts.
    (Not register-exact in general: DataSketches HLL promotes
    sparse→dense at data-dependent points, so the union's estimate can
    differ from the direct sketch's by a fraction of the band — the
    unit suite pins the closeness, this contract pins both-in-band.)"""
    from betl_spark.operators import sketches

    ev = table(spark, sf_dir, "events")
    ev = ev.select(
        "event_type",
        "user_id",
        (ts_micros(ev) / F.lit(86_400_000_000)).cast("long").alias("day"),
    )
    daily = sketches.sketch_distinct(ev, ["event_type", "day"], "user_id")
    rolled = sketches.estimate_distinct(
        sketches.merge_sketches(daily, ["event_type"]),
        estimate_col="rolled_est",
    )
    direct = sketches.estimate_distinct(
        sketches.sketch_distinct(ev, ["event_type"], "user_id"),
        estimate_col="direct_est",
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return (
        rolled.select("event_type", "rolled_est")
        .join(direct.select("event_type", "direct_est"), "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            _est_ok("rolled_est", "exact_users").alias("rolled_ok"),
            _est_ok("direct_est", "exact_users").alias("direct_ok"),
        )
    )


SKETCH_ROLLUP_MERGEABLE_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS rolled_ok,
       TRUE AS direct_ok
FROM events GROUP BY 1
"""
QUERIES["sketch_rollup_mergeable"] = (
    q_sketch_rollup_mergeable,
    SKETCH_ROLLUP_MERGEABLE_SQL,
)


# ---- 8. quantile sketch accuracy: percentile_approx rank-error
# contract (the p99-at-scale tool, same exact-oracle-plus-band pattern
# as the HLL pair) ----

#: percentile_approx accuracy parameter -> guaranteed rank error
#: <= n/accuracy (1% here). Deterministic per dataset.
_PCTL_ACCURACY = 100


def q_quantile_sketch_accuracy(spark, sf_dir):
    """Per event type and p in {50, 90, 99}: the exact value count
    (both engines) and the Spark-side rank contract — the approximate
    percentile's value sits within the guaranteed 1% rank band of the
    target rank. Rank check is exact INTEGER arithmetic at x100 scale
    (no doubles): the returned value's closed rank interval
    [count(<v), count(<=v)] must intersect
    [p*n/100 - n/100 - 1, p*n/100 + n/100 + 1].

    At 100 TB percentile_approx is the only way to ask p99 questions
    (exact percentile is a full sort per group); this keeps its error
    contract oracle-audited every rotation."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    ap = ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
            F.lit(_PCTL_ACCURACY),
        ).alias("ap"),
        F.count("value").cast("long").alias("n_values"),
    )
    cand = ap.select(
        "event_type",
        "n_values",
        F.posexplode("ap").alias("i", "v"),
    ).select(
        "event_type",
        "n_values",
        F.element_at(
            F.array(F.lit(50), F.lit(90), F.lit(99)), F.col("i") + 1
        ).cast("long").alias("p_pct"),
        "v",
    )
    ranks = (
        ev.join(F.broadcast(cand), "event_type")
        .groupBy("event_type", "p_pct", "n_values")
        .agg(
            F.sum(F.when(F.col("value") < F.col("v"), 1).otherwise(0))
            .cast("long")
            .alias("lo"),
            F.sum(F.when(F.col("value") <= F.col("v"), 1).otherwise(0))
            .cast("long")
            .alias("hi"),
        )
    )
    n, p = F.col("n_values"), F.col("p_pct")
    band_lo = p * n - n - F.lit(100)
    band_hi = p * n + n + F.lit(100)
    return ranks.select(
        "event_type",
        "p_pct",
        "n_values",
        (
            (F.col("hi") * 100 >= band_lo) & (F.col("lo") * 100 <= band_hi)
        ).alias("rank_ok"),
    )


QUANTILE_SKETCH_ACCURACY_SQL = """
SELECT event_type,
       CAST(p.p_pct AS BIGINT) AS p_pct,
       CAST(count(value) AS BIGINT) AS n_values,
       TRUE AS rank_ok
FROM events, (SELECT UNNEST([50, 90, 99]) AS p_pct) p
GROUP BY 1, 2
"""
QUERIES["quantile_sketch_accuracy"] = (
    q_quantile_sketch_accuracy,
    QUANTILE_SKETCH_ACCURACY_SQL,
)
