"""Round-12 contract queries: master-less entity resolution
(operators/linkage.py:cluster_records) — transitive fuzzy clustering
of dirty records among THEMSELVES, the other half of the standard
linkage stage (round-11 verdict ask #6). ``link_records`` resolves
against a bounded golden catalog; here there is no catalog: blocked
fuzzy name pairs -> connected components -> cluster survivorship,
composing the multi-pass blocking of ``contract/linkage.py`` with the
CC machinery of ``operators/dedup.py``.

Same deterministic synthetic-name corpus as ``contract/linkage.py``
(entity = doc_id % 211 picks a golden name, variant = doc_id % 19
perturbs it). Expected cluster shape per entity: the base perturbation
family (exact / case / char drops / double / hyphens / ' jr' / 'dr ' /
mid insert — all within edit distance 3 of the base, directly or
through it) forms ONE cluster whose id is its lexicographically
smallest member name; the token-swapped variant (v=9) is far from the
base family and forms its own (usually singleton) cluster. The NAME
VOCABULARY is fixed (~10 distinct dirty names per entity x 211
entities) however large the corpus grows, so the pairwise stage is
CONSTANT in sf while every record-grain stage is linear — this family
is deliberately NOT quadratic-control and runs at every ladder scale.

Cross-engine determinism: cluster_id is the minimum name reachable in
the pair graph — a total, engine-independent label (no hash, no
row_number over ties). The DuckDB oracle computes the same closure
with a recursive CTE (transitive reachability, then min per node);
clusters are vocabulary-small, so the closure's s^2 blow-up is bounded
by the largest variant family, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from betl_spark.contract.linkage import (
    THRESHOLD,
    _LKEY,
    _NORM,
    _PKEY,
    records_frame,
)
from betl_spark.operators import linkage
from betl_spark.operators.util import materialize

QUERIES: dict = {}


def _clustered(spark, sf_dir):
    """Shared Spark chain: synthetic dirty records -> cluster_records."""
    return linkage.cluster_records(
        records_frame(spark, sf_dir),
        record_id="doc_id",
        record_name="name",
        threshold=THRESHOLD,
        keep_cols=("source", "v"),
    )


# the shared oracle chain (DuckDB dialect): reuse the dirty-name CTEs
# from contract/linkage.py (recs/dirty via _LINK_CTE's prefix is not
# separable, so rebuild the three name CTEs here from the same shared
# fragments), then vocabulary -> blocked pairs -> recursive closure.
from betl_spark.contract.linkage import _DIRTY, _arr_duck  # noqa: E402
from betl_spark.contract.linkage import (  # noqa: E402
    BASE_NAMES,
    N_ENTITIES,
    SWAPPED_NAMES,
)

_CLUSTER_CTE = f"""
recs AS (
  SELECT doc_id, source,
         CAST(doc_id % {N_ENTITIES} AS BIGINT) AS e,
         CAST(doc_id % 19 AS BIGINT) AS v,
         {_arr_duck(BASE_NAMES, f'doc_id % {N_ENTITIES}')} AS base,
         {_arr_duck(SWAPPED_NAMES, f'doc_id % {N_ENTITIES}')} AS swapped
  FROM documents
),
dirty AS (
  SELECT doc_id, source, e, v, {_DIRTY} AS name FROM recs
),
rnorm AS (
  SELECT doc_id, source, v, {_NORM} AS name
  FROM dirty WHERE name IS NOT NULL
),
vocab AS (
  SELECT DISTINCT name FROM rnorm
),
vkeys AS (
  SELECT DISTINCT name, k FROM (
    SELECT name, name AS n, UNNEST([{_PKEY}, {_LKEY}]) AS k FROM vocab
  )
),
npairs AS (
  -- multi-key dedup mirrors fuzzy_name_pairs: an l:-keyed pair is
  -- kept only when the p: prefixes disagree (exactly when no p: copy
  -- of the pair exists)
  SELECT a.name AS name_a, b.name AS name_b
  FROM vkeys a JOIN vkeys b
    ON a.k = b.k AND a.name < b.name
  WHERE (a.k LIKE 'p:%'
         OR substr(a.name, 1, 2) <> substr(b.name, 1, 2))
    AND levenshtein(a.name, b.name) <= {THRESHOLD}
),
edges AS (
  SELECT name_a AS a, name_b AS b FROM npairs
  UNION
  SELECT name_b AS a, name_a AS b FROM npairs
),
reach AS (
  SELECT name AS a, name AS b FROM vocab
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (
  SELECT a AS name, min(b) AS cluster_id FROM reach GROUP BY 1
),
assign AS (
  SELECT r.doc_id, r.source, r.v, r.name, l.cluster_id
  FROM rnorm r JOIN labels l USING (name)
)"""


# ---- 1. er_cluster_assign: record -> transitive cluster label ----
def q_er_cluster_assign(spark, sf_dir):
    """Record-grain cluster assignment: every named record with the
    minimum name transitively reachable through fuzzy pairs. The
    at-scale shape is one vocabulary hash-agg + the vocabulary-bounded
    pair/CC stages + one small-side join back (see
    operators/linkage.py:cluster_records)."""
    c = _clustered(spark, sf_dir)
    return c.select(
        F.col("record_id").alias("doc_id"),
        "source",
        "v",
        "name",
        "cluster_id",
    )


ER_CLUSTER_ASSIGN_SQL = f"""
WITH RECURSIVE {_CLUSTER_CTE}
SELECT doc_id, source, v, name, cluster_id FROM assign
"""
QUERIES["er_cluster_assign"] = (q_er_cluster_assign, ER_CLUSTER_ASSIGN_SQL)


# ---- 2. er_cluster_sizes: duplicate-mass histogram ----
def q_er_cluster_sizes(spark, sf_dir):
    """Cluster-size histogram: for each cluster size (records per
    cluster), how many clusters, how many records they hold, and how
    many distinct name variants they span — the duplicate-mass report
    an ER run is judged by. Two bounded aggregates above the
    record-grain assignment (cluster grain, then size grain)."""
    c = _clustered(spark, sf_dir)
    per = c.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.countDistinct("name").cast("long").alias("n_names"),
    )
    return (
        per.groupBy("n_records")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("n_names").cast("long").alias("n_names_sum"),
        )
        .select(
            F.col("n_records").alias("cluster_size"),
            "n_clusters",
            "n_names_sum",
        )
    )


ER_CLUSTER_SIZES_SQL = f"""
WITH RECURSIVE {_CLUSTER_CTE},
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
QUERIES["er_cluster_sizes"] = (q_er_cluster_sizes, ER_CLUSTER_SIZES_SQL)


# ---- 3. er_cluster_survivorship: golden record per cluster ----
def q_er_cluster_survivorship(spark, sf_dir):
    """Golden-record assembly over master-less clusters: one row per
    cluster with the representative record (min doc), the source field
    survived by deterministic plurality (NULLs abstain, ties -> the
    smallest source), and the variant spread. Reuses the same
    survivorship engine as the catalog-resolved family
    (operators/linkage.py:survivorship)."""
    c = _clustered(spark, sf_dir)
    members = c.select(
        "cluster_id",
        F.col("record_id").alias("doc_id"),
        F.col("source").alias("source_mode"),
        "name",
    )
    g = linkage.survivorship(
        members,
        "cluster_id",
        {"doc_id": "min", "source_mode": "mode"},
    )
    names = members.groupBy("cluster_id").agg(
        F.countDistinct("name").cast("long").alias("n_names")
    )
    return g.join(names, "cluster_id").select(
        "cluster_id",
        "n_members",
        F.col("doc_id_min").alias("rep_doc_id"),
        "source_mode",
        F.col("source_mode_votes").alias("source_votes"),
        "n_names",
    )


ER_CLUSTER_SURVIVORSHIP_SQL = f"""
WITH RECURSIVE {_CLUSTER_CTE},
agg AS (
  SELECT cluster_id,
         CAST(count(*) AS BIGINT) AS n_members,
         min(doc_id) AS rep_doc_id,
         CAST(count(DISTINCT name) AS BIGINT) AS n_names
  FROM assign GROUP BY 1
),
cen AS (
  -- NULLs abstain, mirroring majority_vote (advisor-item lesson)
  SELECT cluster_id, source, CAST(count(*) AS BIGINT) AS nv
  FROM assign WHERE source IS NOT NULL GROUP BY 1, 2
),
md AS (
  SELECT cluster_id, source AS source_mode, nv AS source_votes FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cluster_id ORDER BY nv DESC, source
    ) AS rn FROM cen
  ) WHERE rn = 1
)
SELECT a.cluster_id, a.n_members, a.rep_doc_id,
       m.source_mode, m.source_votes, a.n_names
FROM agg a LEFT JOIN md m USING (cluster_id)
"""
QUERIES["er_cluster_survivorship"] = (
    q_er_cluster_survivorship,
    ER_CLUSTER_SURVIVORSHIP_SQL,
)


# ---- 4/5. incremental (attach-or-create) ER: day-2 ingest vs frozen
# day-1 clusters. Day split is deterministic (doc_id parity), so both
# engines see identical batches; day-1 labels come from the SAME batch
# closure as er_cluster_assign restricted to even doc_ids. ----


def _day2_and_labels(spark, sf_dir):
    recs = records_frame(spark, sf_dir)
    day1 = recs.where(F.col("doc_id") % 2 == 0)
    day2 = recs.where(F.col("doc_id") % 2 == 1)
    # the frozen map is referenced ~4x inside incremental_cluster_assign
    # — materialize the vocabulary-grain frame once or each reference
    # re-runs the day-1 clustering (round-13 chain lesson; at scale
    # yesterday's map is a persisted table by definition)
    labels1 = materialize(
        linkage.cluster_records(
            day1, record_id="doc_id", record_name="name", threshold=THRESHOLD
        )
        .select("name", "cluster_id")
        .distinct(),
        eager=True,
    )
    return day2, labels1


def _vocab_pair_ctes(tag: str, vocab_cte: str) -> str:
    """Blocked pair + closure CTE chain over one vocabulary (DuckDB).
    Emits {tag}k (keys), {tag}p (pairs), {tag}e (undirected edges),
    {tag}reach (recursive closure), {tag}lab (min-reachable label)."""
    return f"""
{tag}k AS (
  SELECT DISTINCT name, k FROM (
    SELECT name, name AS n, UNNEST([{_PKEY}, {_LKEY}]) AS k
    FROM {vocab_cte}
  )
),
{tag}p AS (
  SELECT a.name AS name_a, b.name AS name_b
  FROM {tag}k a JOIN {tag}k b
    ON a.k = b.k AND a.name < b.name
  WHERE (a.k LIKE 'p:%'
         OR substr(a.name, 1, 2) <> substr(b.name, 1, 2))
    AND levenshtein(a.name, b.name) <= {THRESHOLD}
),
{tag}e AS (
  SELECT name_a AS a, name_b AS b FROM {tag}p
  UNION
  SELECT name_b AS a, name_a AS b FROM {tag}p
),
{tag}reach AS (
  SELECT name AS a, name AS b FROM {vocab_cte}
  UNION
  SELECT r.a, e.b FROM {tag}reach r JOIN {tag}e e ON r.b = e.a
),
{tag}lab AS (
  SELECT a AS name, min(b) AS lbl FROM {tag}reach GROUP BY 1
)"""


_INCR_CTE = f"""
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
r1 AS (SELECT * FROM rnorm WHERE doc_id % 2 = 0),
r2 AS (SELECT * FROM rnorm WHERE doc_id % 2 = 1),
v1 AS (SELECT DISTINCT name FROM r1),
{_vocab_pair_ctes('d1', 'v1')},
v2 AS (SELECT DISTINCT name FROM r2),
fresh AS (
  SELECT name FROM v2 WHERE name NOT IN (SELECT name FROM v1)
),
{_vocab_pair_ctes('fr', 'fresh')},
ne AS (
  -- cross pairs fresh -> existing, same tagged-key + p:/l: dedup
  SELECT DISTINCT f.name AS name_l, e.name AS name_r
  FROM frk f JOIN d1k e
    ON f.k = e.k
  WHERE (f.k LIKE 'p:%'
         OR substr(f.name, 1, 2) <> substr(e.name, 1, 2))
    AND levenshtein(f.name, e.name) <= {THRESHOLD}
),
attach AS (
  SELECT c.lbl AS comp,
         min(l.lbl) AS attach_id,
         CAST(count(DISTINCT l.lbl) AS BIGINT) AS n_adjacent
  FROM ne
  JOIN frlab c ON c.name = ne.name_l
  JOIN d1lab l ON l.name = ne.name_r
  GROUP BY 1
),
flabels AS (
  SELECT c.name,
         coalesce(a.attach_id, c.lbl) AS cluster_id,
         a.attach_id IS NULL AS is_new_cluster
  FROM frlab c LEFT JOIN attach a ON a.comp = c.lbl
),
alllab AS (
  SELECT name, lbl AS cluster_id, FALSE AS is_new_cluster FROM d1lab
  UNION ALL
  SELECT name, cluster_id, is_new_cluster FROM flabels
)"""


def q_er_incremental_assign(spark, sf_dir):
    """Attach-or-create assignment of the day-2 batch against frozen
    day-1 clusters (operators/linkage.py:incremental_cluster_assign):
    exact-name records keep the existing label; unseen names cluster
    among themselves and each component attaches to the minimum
    fuzzy-adjacent existing cluster_id, else becomes a new cluster.
    All pairwise work runs at unseen-name-vocabulary grain."""
    day2, labels1 = _day2_and_labels(spark, sf_dir)
    out = linkage.incremental_cluster_assign(
        day2,
        labels1,
        record_id="doc_id",
        record_name="name",
        threshold=THRESHOLD,
        keep_cols=("source",),
    )
    return out.select(
        F.col("record_id").alias("doc_id"),
        "source",
        "name",
        "cluster_id",
        "is_new_cluster",
    )


ER_INCREMENTAL_ASSIGN_SQL = f"""
WITH RECURSIVE {_INCR_CTE}
SELECT r.doc_id, r.source, r.name, l.cluster_id, l.is_new_cluster
FROM r2 r JOIN alllab l USING (name)
"""
QUERIES["er_incremental_assign"] = (
    q_er_incremental_assign,
    ER_INCREMENTAL_ASSIGN_SQL,
)


def q_er_incremental_audit(spark, sf_dir):
    """The merge-candidate (bridge) report: per unseen-name component
    of the day-2 batch, how many DISTINCT frozen clusters it is
    fuzzy-adjacent to (>= 2 means the incremental pass found evidence
    two day-1 clusters are one entity — surfaced, deliberately not
    merged) and the cluster it attached to."""
    day2, labels1 = _day2_and_labels(spark, sf_dir)
    return linkage.incremental_bridge_audit(
        day2, labels1, record_id="doc_id", record_name="name",
        threshold=THRESHOLD,
    )


ER_INCREMENTAL_AUDIT_SQL = f"""
WITH RECURSIVE {_INCR_CTE},
members AS (
  SELECT lbl AS comp, CAST(count(*) AS BIGINT) AS n_members
  FROM frlab GROUP BY 1
)
SELECT m.comp, m.n_members, a.n_adjacent, a.attach_id
FROM members m JOIN attach a USING (comp)
"""
QUERIES["er_incremental_audit"] = (
    q_er_incremental_audit,
    ER_INCREMENTAL_AUDIT_SQL,
)


# ---- 6. er_snm_pairs: sorted-neighborhood candidate generation ----
def q_er_snm_pairs(spark, sf_dir):
    """SNM fuzzy pairs over the dirty-name vocabulary
    (operators/linkage.py:sorted_neighborhood_pairs, window=5): the
    skew-proof complement to key blocking — candidates are bounded by
    (window-1)*|vocab| whatever the value distribution. The global
    rank rides the SK engine's range-partition numbering (no
    single-partition window); DuckDB replays it as row_number() OVER
    (ORDER BY name), bit-identical because names are distinct."""
    recs = records_frame(spark, sf_dir)
    vocab = (
        recs.select(F.lower(F.trim("name")).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
    )
    return linkage.sorted_neighborhood_pairs(
        vocab, window=5, threshold=THRESHOLD
    )


ER_SNM_PAIRS_SQL = f"""
WITH recs AS (
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
),
idx AS (
  SELECT name, row_number() OVER (ORDER BY name) AS rn FROM vocab
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
       CAST(b.rn - a.rn AS BIGINT) AS rank_gap
FROM idx a JOIN idx b
  ON b.rn > a.rn AND b.rn <= a.rn + 4
WHERE levenshtein(a.name, b.name) <= {THRESHOLD}
"""
QUERIES["er_snm_pairs"] = (q_er_snm_pairs, ER_SNM_PAIRS_SQL)
