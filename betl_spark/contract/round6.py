"""Round-6 contract queries: semantic dedup (SemDeDup composition) and
tokenizer-faithful BPE token counting.

Same determinism rules as the rest of the contract: cosine and centroid
values round to 6dp before any comparison, survivor choice is the
minimum id (a total order), and the oracle replays the identical
md5-free arithmetic in DuckDB.
"""

from __future__ import annotations

from betl_spark.contract.common import table
from betl_spark.contract.round5 import MIX_WEIGHTS, _W_VALUES
from betl_spark.contract.scale import (
    EMB_DIM,
    IVF_CENTROID_IDS,
    MUTANT_OFFSET,
    _CELL_COS,
    _COSINE_PAIR,
)
from betl_spark.operators.util import materialize

SEMANTIC_THRESHOLD = 0.3


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup composition: k-means cells -> within-cell cosine pairs
    -> star connected components -> minimum-id survivors."""
    from betl_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, "vec_id", "embedding", IVF_CENTROID_IDS,
        threshold=SEMANTIC_THRESHOLD,
    )


_COS_E_CV = """
round(
  list_sum(list_transform(list_zip(e.embedding, c.cv),
           p -> CAST(struct_extract(p, 1) AS DOUBLE) * struct_extract(p, 2)))
  / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(c.cv, x -> x * x)))),
  6)
"""

# training CTEs shared by the whole semantic-dedup family (round7
# reuses them): seed centroids -> seed assignment -> one k-means
# update (6dp-rounded means) -> trained wide centroids
SEMANTIC_TRAIN_CTES = f"""cent AS (
  SELECT vec_id AS cell_id, embedding FROM embeddings
  WHERE vec_id IN ({", ".join(str(i) for i in IVF_CENTROID_IDS)})
),
assign0 AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY {_CELL_COS} DESC, c.cell_id
         ) AS cell_rank
  FROM embeddings e CROSS JOIN cent c
),
cell0 AS (SELECT vec_id, embedding, cell_id FROM assign0 WHERE cell_rank = 1),
expl AS (
  SELECT cell_id, CAST(r.range AS INTEGER) AS pos,
         CAST(embedding[CAST(r.range AS INTEGER) + 1] AS DOUBLE) AS val
  FROM cell0 CROSS JOIN range({EMB_DIM}) r
),
trained AS (
  SELECT cell_id, pos, round(avg(val), 6) AS cval
  FROM expl GROUP BY cell_id, pos
),
tcent AS (
  SELECT cell_id, list(cval ORDER BY pos) AS cv FROM trained GROUP BY cell_id
)"""

# pair + connected-components CTEs shared by the family; expects a
# `corpus(vec_id, embedding, cell_id, ...)` CTE upstream
SEMANTIC_PAIR_CC_CTES = f"""pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM corpus a JOIN corpus b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {_COSINE_PAIR} >= {SEMANTIC_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst AS node, r.label AS label
  FROM reach r JOIN edges e ON e.src = r.node
),
clusters AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node)"""

SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE {SEMANTIC_TRAIN_CTES},
assign1 AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY {_COS_E_CV} DESC, c.cell_id
         ) AS cell_rank
  FROM embeddings e CROSS JOIN tcent c
),
corpus AS (SELECT vec_id, embedding, cell_id FROM assign1 WHERE cell_rank = 1),
{SEMANTIC_PAIR_CC_CTES}
SELECT c.vec_id, c.cell_id
FROM corpus c LEFT JOIN clusters cl ON c.vec_id = cl.node
WHERE cl.cluster_id IS NULL OR c.vec_id = cl.cluster_id
"""


# ---- tokenizer-faithful BPE token counting ----
def q_token_count_bpe(spark, sf_dir):
    """Exact BPE token counts under the embedded deterministic merge
    list — the tokenizer-faithful upgrade of ``token_count``."""
    from betl_spark.operators import bpe

    from betl_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", bpe.bpe_token_count("text").alias("n_bpe_tokens")
    )


def _bpe_count_sql(text_expr: str) -> str:
    """DuckDB replay of operators/bpe._encoded_expr + count: the SAME
    merge list, the same sentinel encoding, the same leftmost
    non-overlapping replace chain — generated here so the two builders
    stay in lockstep (pattern: scale._plane_literal)."""
    from betl_spark.operators.bpe import BND, DEFAULT_MERGES, SYM

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    s = f"coalesce({text_expr}, '')"
    s = f"replace(replace({s}, {q(SYM)}, ''), {q(BND)}, '')"
    s = rf"regexp_replace({s}, '([^ \w]|\d+)', ' \1 ', 'g')"
    s = rf"regexp_replace({s}, ' +', {q(BND)}, 'g')"
    s = rf"regexp_replace({s}, '([^{BND}])', {q(SYM + chr(92) + '1' + SYM)}, 'g')"
    for x, y in DEFAULT_MERGES:
        s = (
            f"replace({s}, {q(SYM + x + SYM + SYM + y + SYM)}, "
            f"{q(SYM + x + y + SYM)})"
        )
    return (
        f"CAST((length({s}) - length(replace({s}, {q(SYM)}, ''))) / 2 AS INTEGER)"
    )


TOKEN_COUNT_BPE_SQL = f"""
SELECT doc_id, {_bpe_count_sql('text')} AS n_bpe_tokens
FROM documents
"""


# ---- BPE-token-weighted mixture rebalancing ----
def q_mixture_rebalance_bpe(spark, sf_dir):
    """Token-weighted mixture with REAL tokenizer counts as the
    denominator (round 5's variant used n_chars as a proxy) — the
    training mix as it would actually be specified."""
    from betl_spark.operators import bpe, sampling
    from betl_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", bpe.bpe_token_count("text").alias("n_bpe")
    )
    return sampling.mixture_sample(
        docs, "doc_id", "lang", MIX_WEIGHTS, weight_col="n_bpe"
    ).select("doc_id", "lang")


MIXTURE_REBALANCE_BPE_SQL = f"""
WITH counts AS (
  SELECT lang AS s, CAST(SUM({_bpe_count_sql('text')}) AS BIGINT) AS n
  FROM documents GROUP BY 1
), w(s, wt) AS (VALUES {_W_VALUES}),
lim AS (
  SELECT MIN(c.n / w.wt) AS c FROM counts c JOIN w ON c.s = w.s
),
th AS (
  SELECT c.s,
         CAST(FLOOR(LEAST(1.0, lim.c * w.wt / c.n) * 10000) AS BIGINT) AS th
  FROM counts c JOIN w ON c.s = w.s CROSS JOIN lim
)
SELECT d.doc_id, d.lang
FROM documents d JOIN th ON d.lang = th.s
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
      < th.th
"""


# ---- bigram LM perplexity scoring (CCNet-style quality signal) ----
LM_ALPHA = 1.0


def q_ngram_lm_perplexity(spark, sf_dir):
    """Self-trained bigram-LM scoring over the documents table: mean
    bigram log-probability + perplexity per document."""
    from betl_spark.operators import corpus

    docs = table(spark, sf_dir, "documents")
    return corpus.lm_score(docs, "doc_id", "text", alpha=LM_ALPHA)


NGRAM_LM_PERPLEXITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
uni AS (
  SELECT u.w AS w1, COUNT(*) AS c1
  FROM toks, unnest(t) AS u(w) GROUP BY 1
),
vv AS (SELECT COUNT(*) AS V FROM uni),
doc_bg AS (
  -- list_zip pads to the longer list with NULL; string_split never
  -- yields NULL tokens, so the filter drops exactly the pad row
  SELECT doc_id, struct_extract(u.p, 1) AS w1, struct_extract(u.p, 2) AS w2
  FROM toks, unnest(list_zip(t, t[2:])) AS u(p)
  WHERE struct_extract(u.p, 2) IS NOT NULL
),
bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM doc_bg GROUP BY 1, 2),
terms AS (
  -- exact-integer accumulation (see corpus.lm_score): order-free
  SELECT d.doc_id,
         CAST(round(round(ln((bi.c2 + {LM_ALPHA})
                / (uni.c1 + {LM_ALPHA} * vv.V)), 9) * 1e9) AS BIGINT)
           AS term_nanos
  FROM doc_bg d
  JOIN bi ON d.w1 = bi.w1 AND d.w2 = bi.w2
  JOIN uni ON d.w1 = uni.w1
  CROSS JOIN vv
),
scores AS (
  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
         CAST(CASE WHEN SUM(term_nanos) < 0
                   THEN -((2 * abs(SUM(term_nanos)) + 1000 * COUNT(*))
                          // (2000 * COUNT(*)))
                   ELSE (2 * abs(SUM(term_nanos)) + 1000 * COUNT(*))
                        // (2000 * COUNT(*)) END
              AS DOUBLE) / 1000000.0 AS avg_logprob
  FROM terms GROUP BY 1
)
SELECT doc.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       s.avg_logprob,
       round(exp(-s.avg_logprob), 4) AS ppl
FROM documents doc LEFT JOIN scores s ON doc.doc_id = s.doc_id
"""


# ---- document length histogram ----
HIST_BIN = 200.0


def q_doc_length_histogram(spark, sf_dir):
    """Per-language fixed-width histogram of document lengths — the
    distribution-profiling step before choosing filter thresholds."""
    from betl_spark.operators.stats import histogram

    docs = table(spark, sf_dir, "documents")
    return histogram(docs, "n_chars", HIST_BIN, group_cols=["lang"])


DOC_LENGTH_HISTOGRAM_SQL = f"""
SELECT lang,
       CAST(FLOOR(CAST(n_chars AS DOUBLE) / {HIST_BIN}) AS BIGINT) AS bin,
       CAST(FLOOR(CAST(n_chars AS DOUBLE) / {HIST_BIN}) AS BIGINT) * {HIST_BIN} AS bin_lo,
       COUNT(*) AS n
FROM documents WHERE n_chars IS NOT NULL
GROUP BY 1, 2, 3
"""


# ---- Bloom-prefiltered incremental exact dedup ----
REF_CUTOFF = 300  # ref corpus = doc_id < 300; batch = the rest + exact copies


def q_dedup_bloom_incremental(spark, sf_dir):
    """Incremental EXACT dedup with the broadcast Bloom-style
    prefilter: the ingest batch (fresh docs + exact copies of ref
    texts under new ids) checked against the reference corpus; copies
    drop, fresh docs survive. The result is oracle-exact (plain anti
    join) — the prefilter only changes the plan, not the answer."""
    from pyspark.sql import functions as F

    from betl_spark.operators import dedup

    docs = table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") < REF_CUTOFF)
    batch = (
        docs.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + MUTANT_OFFSET).alias("doc_id"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") >= REF_CUTOFF).select("doc_id", "text")
        )
    )
    return dedup.exact_dedup_against(batch, ref, "doc_id", ["text"])


# NULL-safe replay of dedup.content_hash: NULL text maps to the
# chr(0)||'NULL' sentinel, and the anti join is NOT EXISTS — a NOT IN
# would collapse to zero rows the moment any ref hash were NULL
DEDUP_BLOOM_INCREMENTAL_SQL = f"""
WITH ref AS (
  SELECT md5(coalesce(text, chr(0) || 'NULL')) AS h
  FROM documents WHERE doc_id < {REF_CUTOFF}
),
batch AS (
  SELECT doc_id + {MUTANT_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id >= {REF_CUTOFF}
)
SELECT b.doc_id, b.text FROM batch b
WHERE NOT EXISTS (
  SELECT 1 FROM ref r
  WHERE r.h = md5(coalesce(b.text, chr(0) || 'NULL'))
)
"""


# ---- DSIR importance scoring ----
DSIR_BUCKETS = 256
DSIR_ALPHA = 1.0


def q_dsir_scores(spark, sf_dir):
    """DSIR importance weights for 'looks like English' selection:
    hashed unigram+bigram LMs of the en subcorpus (target) vs the full
    corpus (source), log-ratio per document."""
    from pyspark.sql import functions as F

    from betl_spark.operators import quality

    docs = table(spark, sf_dir, "documents")
    return quality.dsir_scores(
        docs, "doc_id", "text", F.col("lang") == "en",
        buckets=DSIR_BUCKETS, alpha=DSIR_ALPHA,
    )


DSIR_SCORES_SQL = f"""
WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
uni AS (SELECT doc_id, lang, u.w AS g FROM toks, unnest(t) AS u(w)),
big AS (
  SELECT doc_id, lang,
         struct_extract(u.p, 1) || ' ' || struct_extract(u.p, 2) AS g
  FROM toks, unnest(list_zip(t, t[2:])) AS u(p)
  WHERE struct_extract(u.p, 2) IS NOT NULL
),
feats AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {DSIR_BUCKETS} AS bucket
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
),
docb AS (SELECT doc_id, bucket, COUNT(*) AS c FROM feats GROUP BY 1, 2),
srcc AS (SELECT bucket, COUNT(*) AS cq FROM feats GROUP BY 1),
tgtc AS (SELECT bucket, COUNT(*) AS cp FROM feats WHERE lang = 'en' GROUP BY 1),
nn AS (SELECT SUM(cq) AS nq FROM srcc),
tt AS (SELECT SUM(cp) AS np FROM tgtc),
ratio AS (
  SELECT s.bucket,
         round(ln((COALESCE(t.cp, 0) + {DSIR_ALPHA})
                  / (tt.np + {DSIR_ALPHA} * {DSIR_BUCKETS}))
               - ln((s.cq + {DSIR_ALPHA})
                    / (nn.nq + {DSIR_ALPHA} * {DSIR_BUCKETS})), 9) AS ratio
  FROM srcc s LEFT JOIN tgtc t ON s.bucket = t.bucket CROSS JOIN nn CROSS JOIN tt
),
terms AS (
  -- exact-integer accumulation (see quality.dsir_scores): order-free
  SELECT d.doc_id, d.c,
         d.c * CAST(round(r.ratio * 1e9) AS BIGINT) AS term_nanos
  FROM docb d JOIN ratio r ON d.bucket = r.bucket
),
scores AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
         -- exact integral 6dp rounding (util.round6_nanos_ratio_expr
         -- twin): sums ending in ...500 nanos are true midpoints and
         -- round(double) diverges cross-engine (found at sf3)
         CAST(CASE WHEN SUM(term_nanos) < 0
                   THEN -((abs(SUM(term_nanos)) + 500) // 1000)
                   ELSE (abs(SUM(term_nanos)) + 500) // 1000 END
              AS DOUBLE) / 1000000.0 AS dsir_logratio
  FROM terms GROUP BY 1
)
SELECT d.doc_id, COALESCE(s.n_feats, 0) AS n_feats, s.dsir_logratio
FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
"""


# ---- CCNet-style perplexity head/middle/tail buckets ----
def q_perplexity_buckets(spark, sf_dir):
    """The CCNet selection recipe end-to-end: self-trained bigram-LM
    perplexity per document, then per-language head/middle/tail
    buckets at the engine-exact [0.25, 0.75] quantile cuts — zero
    windows, the corpus never shuffles for the bucketing."""
    from betl_spark.operators import corpus
    from betl_spark.operators.stats import quantile_buckets

    docs = table(spark, sf_dir, "documents")
    scores = corpus.lm_score(docs, "doc_id", "text", alpha=LM_ALPHA)
    joined = scores.join(docs.select("doc_id", "lang"), "doc_id")
    return quantile_buckets(joined, "ppl", group_cols=["lang"]).select(
        "doc_id", "lang", "ppl", "bucket"
    )


PERPLEXITY_BUCKETS_SQL = f"""
WITH ppl_all AS ({NGRAM_LM_PERPLEXITY_SQL}),
scored AS (
  SELECT p.doc_id, d.lang, p.ppl
  FROM ppl_all p JOIN documents d ON p.doc_id = d.doc_id
),
cuts AS (
  SELECT lang, quantile_cont(ppl, 0.25) AS c1, quantile_cont(ppl, 0.75) AS c2
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.ppl,
       CASE WHEN s.ppl IS NULL THEN NULL
            WHEN s.ppl <= c.c1 THEN 'head'
            WHEN s.ppl <= c.c2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s JOIN cuts c ON s.lang IS NOT DISTINCT FROM c.lang
"""


# ---- fixed-width document chunking with overlap ----
CHUNK_SIZE, CHUNK_OVERLAP = 500, 100


def q_chunk_documents(spark, sf_dir):
    """Context-window chunking: 500-char chunks, 100-char overlap —
    map-only sequence+explode+substring, no shuffle anywhere."""
    from betl_spark.operators.text import chunk_documents

    docs = table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", CHUNK_SIZE, CHUNK_OVERLAP)


CHUNK_DOCUMENTS_SQL = f"""
WITH d AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
n AS (
  SELECT doc_id, t,
         GREATEST(1, CAST(CEIL((length(t) - {CHUNK_OVERLAP})
                  / CAST({CHUNK_SIZE - CHUNK_OVERLAP} AS DOUBLE)) AS BIGINT)) AS nc
  FROM d
)
SELECT doc_id, CAST(u.i AS INTEGER) AS chunk_idx,
       substr(t, CAST(u.i AS INTEGER) * {CHUNK_SIZE - CHUNK_OVERLAP} + 1,
              {CHUNK_SIZE}) AS chunk_text
FROM n, unnest(range(nc)) AS u(i)
"""


# ---- conversion funnel + cohort retention over the event log ----
FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_WITHIN_US = 7 * 86400 * 1_000_000  # 7 days in epoch-micros
WEEK_US = 7 * 86400 * 1_000_000


def q_funnel_users(spark, sf_dir):
    """Per-user view→click→purchase funnel, strictly-increasing step
    chain bounded to 7 days from the first view — one groupBy(user),
    array-HOF chain resolution, no windows."""
    from betl_spark.contract.common import ts_micros
    from betl_spark.operators import funnel

    ev = table(spark, sf_dir, "events")
    return funnel.funnel_users(
        ev, "user_id", "event_type", ts_micros(ev), FUNNEL_STEPS,
        within=FUNNEL_WITHIN_US,
    )


_FUNNEL_CTE = f"""
ev AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events
),
pu AS (
  SELECT user_id,
         list(tus) FILTER (WHERE event_type = 'view') AS a0,
         list(tus) FILTER (WHERE event_type = 'click') AS a1,
         list(tus) FILTER (WHERE event_type = 'purchase') AS a2
  FROM ev GROUP BY user_id
),
s1 AS (SELECT *, list_min(a0) AS step1_ts FROM pu),
s2 AS (
  SELECT *, list_min(list_filter(a1,
    x -> x > step1_ts AND x <= step1_ts + {FUNNEL_WITHIN_US})) AS step2_ts
  FROM s1
),
s3 AS (
  SELECT *, list_min(list_filter(a2,
    x -> x > step2_ts AND x <= step1_ts + {FUNNEL_WITHIN_US})) AS step3_ts
  FROM s2
),
resolved AS (
  SELECT user_id, step1_ts, step2_ts, step3_ts,
         CAST(CASE WHEN step1_ts IS NULL THEN 0
                   WHEN step2_ts IS NULL THEN 1
                   WHEN step3_ts IS NULL THEN 2
                   ELSE 3 END AS INTEGER) AS steps_completed
  FROM s3
)
"""

FUNNEL_USERS_SQL = f"""
WITH {_FUNNEL_CTE}
SELECT * FROM resolved
"""


def q_funnel_counts(spark, sf_dir):
    """The funnel report: users reaching each step."""
    from betl_spark.contract.common import ts_micros
    from betl_spark.operators import funnel

    ev = table(spark, sf_dir, "events")
    return funnel.funnel_counts(
        ev, "user_id", "event_type", ts_micros(ev), FUNNEL_STEPS,
        within=FUNNEL_WITHIN_US,
    )


FUNNEL_COUNTS_SQL = f"""
WITH {_FUNNEL_CTE},
steps(step_idx, step_name) AS (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
SELECT CAST(s.step_idx AS INTEGER) AS step_idx, s.step_name,
       COUNT(*) AS n_users
FROM resolved r JOIN steps s ON r.steps_completed >= s.step_idx
GROUP BY 1, 2
"""


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle over the event log."""
    from betl_spark.contract.common import ts_micros
    from betl_spark.operators import funnel

    ev = table(spark, sf_dir, "events")
    return funnel.cohort_retention(ev, "user_id", ts_micros(ev), WEEK_US)


COHORT_RETENTION_SQL = f"""
WITH ev AS (
  SELECT DISTINCT user_id,
         -- exact integer binning: numerator is an exact multiple of the
         -- period, so integer division is exact (epoch-micros overflow
         -- double's 53-bit integer range, so no float math here).
         -- FLOOR-mod, not DuckDB's truncating %, so pre-1970 (negative)
         -- timestamps bin exactly like the engine's pmod
         (epoch_us(CAST(ts AS TIMESTAMP))
          - ((epoch_us(CAST(ts AS TIMESTAMP)) % {WEEK_US} + {WEEK_US})
             % {WEEK_US})) // {WEEK_US} AS p
  FROM events
),
first AS (SELECT user_id, MIN(p) AS cohort_period FROM ev GROUP BY 1),
sizes AS (SELECT cohort_period, COUNT(*) AS cohort_size FROM first GROUP BY 1),
cells AS (
  SELECT f.cohort_period, e.p - f.cohort_period AS period_offset,
         COUNT(*) AS n_users
  FROM ev e JOIN first f ON e.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT c.cohort_period, c.period_offset, c.n_users, s.cohort_size,
       round(CAST(c.n_users AS DOUBLE) / s.cohort_size, 6) AS retention_rate
FROM cells c JOIN sizes s ON c.cohort_period = s.cohort_period
"""


# ---- column profiling ----
PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


def q_profile_documents(spark, sf_dir):
    """Intake data-quality report over the documents table: row/null/
    exact-distinct counts and string-ordered value range per column,
    in one melt + one groupBy."""
    from betl_spark.operators.profile import profile_columns

    docs = table(spark, sf_dir, "documents")
    return profile_columns(docs, PROFILE_COLS)


PROFILE_DOCUMENTS_SQL = f"""
WITH pairs AS (
  {" UNION ALL ".join(
      f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS value FROM documents"
      for c in PROFILE_COLS
  )}
)
SELECT col_name AS "column", COUNT(*) AS n_rows,
       COUNT(CASE WHEN value IS NULL THEN 1 END) AS n_null,
       COUNT(DISTINCT value) AS n_distinct,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM pairs GROUP BY 1
"""


# ---- Z-order layout key ----
ZORDER_BITS = 16


def q_zorder_key(spark, sf_dir):
    """Morton-interleaved clustering key over (n_chars, doc_id) — the
    layout key write_zordered range-partitions and sorts by."""
    from betl_spark.operators.profile import zorder_key

    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        zorder_key(["n_chars", "doc_id"], bits=ZORDER_BITS).alias("zkey"),
    )


def _zorder_sql(cols: list[str], bits: int) -> str:
    cap = (1 << bits) - 1
    n = len(cols)
    terms = []
    for j, c in enumerate(cols):
        v = f"LEAST(GREATEST(CAST({c} AS BIGINT), 0), {cap})"
        terms.extend(
            f"((({v} >> {i}) & 1) << {i * n + j})" for i in range(bits)
        )
    return " + ".join(terms)


ZORDER_KEY_SQL = f"""
SELECT doc_id, CAST({_zorder_sql(["n_chars", "doc_id"], ZORDER_BITS)} AS BIGINT) AS zkey
FROM documents
"""


# ---- exact top-N per group, bounded two-stage ----
TOP_N_PER_LANG = 5


def q_top_docs_per_lang(spark, sf_dir):
    """Top 5 longest documents per language — the bounded two-stage
    top-N (local per-partition prune, then a window over ≤ n·partitions
    candidates per group), not a whole-stratum sort."""
    from betl_spark.operators.stats import top_n_per_group

    docs = table(spark, sf_dir, "documents")
    return top_n_per_group(
        docs, ["lang"], "n_chars", TOP_N_PER_LANG, "doc_id"
    ).select("doc_id", "lang", "n_chars", "rank")


TOP_DOCS_PER_LANG_SQL = f"""
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         CAST(row_number() OVER (
           PARTITION BY lang ORDER BY n_chars DESC, doc_id
         ) AS INTEGER) AS rank
  FROM documents WHERE n_chars IS NOT NULL
)
SELECT doc_id, lang, n_chars, rank FROM ranked WHERE rank <= {TOP_N_PER_LANG}
"""


# ---- PSI drift between two corpus slices ----
PSI_BIN = 200.0


def q_psi_drift(spark, sf_dir):
    """Length-distribution drift between the en slice and the rest of
    the corpus — per-bin PSI terms (sum them for the headline PSI)."""
    from pyspark.sql import functions as F

    from betl_spark.operators.profile import psi_drift

    docs = table(spark, sf_dir, "documents")
    return psi_drift(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        "n_chars",
        PSI_BIN,
    )


PSI_DRIFT_SQL = f"""
WITH ha AS (
  SELECT CAST(FLOOR(CAST(n_chars AS DOUBLE) / {PSI_BIN}) AS BIGINT) AS bin,
         COUNT(*) AS n_a
  FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL GROUP BY 1
),
hb AS (
  SELECT CAST(FLOOR(CAST(n_chars AS DOUBLE) / {PSI_BIN}) AS BIGINT) AS bin,
         COUNT(*) AS n_b
  FROM documents WHERE lang <> 'en' AND n_chars IS NOT NULL GROUP BY 1
),
joined AS (
  SELECT COALESCE(ha.bin, hb.bin) AS bin,
         COALESCE(ha.n_a, 0) AS n_a, COALESCE(hb.n_b, 0) AS n_b
  FROM ha FULL OUTER JOIN hb ON ha.bin = hb.bin
),
tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb, COUNT(*) AS nbins FROM joined)
SELECT j.bin, j.bin * {PSI_BIN} AS bin_lo, j.n_a, j.n_b,
       round(((j.n_a + 1.0) / (t.ta + 1.0 * t.nbins)
              - (j.n_b + 1.0) / (t.tb + 1.0 * t.nbins))
             * (round(ln((j.n_a + 1.0) / (t.ta + 1.0 * t.nbins)), 9)
                - round(ln((j.n_b + 1.0) / (t.tb + 1.0 * t.nbins)), 9)),
             9) + 0.0 AS term
FROM joined j CROSS JOIN tot t
"""


# ---- window-function family over the event log (SQL surface) ----
WINDOW_FUNCS_EVENTS = """
SELECT event_id, user_id,
       lag(value) OVER (PARTITION BY user_id
                        ORDER BY ts NULLS FIRST, event_id)
         AS prev_value,
       lead(value) OVER (PARTITION BY user_id
                         ORDER BY ts NULLS FIRST, event_id)
         AS next_value,
       round(percent_rank() OVER (
         PARTITION BY user_id ORDER BY value NULLS FIRST, event_id), 6)
         AS pct_rank,
       round(cume_dist() OVER (
         PARTITION BY user_id ORDER BY value NULLS FIRST, event_id), 6)
         AS cume,
       CAST(ntile(4) OVER (PARTITION BY user_id
                           ORDER BY ts NULLS FIRST, event_id)
         AS INTEGER) AS quartile
FROM events
"""


def q_window_funcs_events(spark, sf_dir):
    """lag/lead/percent_rank/cume_dist/ntile in one pass through the
    engine's SQL surface — per-user windows (bounded partitions),
    total-order tiebreaks so both engines agree exactly."""
    from betl_spark.contract.common import dataflow

    dfl = dataflow(spark, sf_dir, ["events"])
    return dfl.customSQL(WINDOW_FUNCS_EVENTS)


# ---- intra-document line dedup ----
def q_intra_doc_line_dedup(spark, sf_dir):
    """Within-page repeated-line removal: each doc is synthesized as
    l1,l2,l1,l2,l1 (its own 40-char slices repeated) — the operator
    must collapse it back to l1,l2 at scan speed, no shuffle."""
    from pyspark.sql import functions as F

    from betl_spark.operators import dedup

    docs = table(spark, sf_dir, "documents")
    l1 = F.substring("text", 1, 40)
    l2 = F.substring("text", 41, 40)
    synth = docs.select(
        "doc_id", F.concat_ws("\n", l1, l2, l1, l2, l1).alias("text")
    )
    return dedup.intra_doc_line_dedup(synth, "doc_id", "text")


INTRA_DOC_LINE_DEDUP_SQL = """
WITH synth AS (
  SELECT doc_id,
         concat_ws(chr(10), substr(text, 1, 40), substr(text, 41, 40),
                   substr(text, 1, 40), substr(text, 41, 40),
                   substr(text, 1, 40)) AS text
  FROM documents
),
l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM synth),
k AS (
  SELECT doc_id, ls,
         list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kept
  FROM l
)
SELECT doc_id, array_to_string(kept, chr(10)) AS text,
       CAST(len(kept) AS BIGINT) AS n_lines_kept,
       CAST(len(ls) - len(kept) AS BIGINT) AS n_lines_dropped
FROM k
"""


# ---- hashed linear quality-classifier scoring ----
CLF_BUCKETS = 256
CLF_BIAS = -0.1


def _clf_weights(spark):
    """Deterministic md5-derived pseudo-weights in [-1, 1] — the shared
    stand-in for an externally trained classifier head, used by BOTH
    classifier_score and the curation capstone (one recipe, one place;
    the oracles replay it from range()+md5)."""
    from pyspark.sql import functions as F

    return spark.range(CLF_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("w:"), F.col("id"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2001
                - 1000
            )
            / 1000.0
        ).alias("w"),
    )


def q_classifier_score(spark, sf_dir):
    """fastText-style quality-filter application: deterministic
    md5-derived pseudo-weights stand in for an externally trained
    model (the application plumbing — hash, broadcast join, mean,
    sigmoid — is what's under contract)."""
    from pyspark.sql import functions as F

    from betl_spark.operators import quality

    docs = table(spark, sf_dir, "documents")
    weights = _clf_weights(spark)
    return quality.classifier_score(
        docs, "doc_id", "text", weights, bias=CLF_BIAS, buckets=CLF_BUCKETS
    )


CLASSIFIER_SCORE_SQL = f"""
WITH weights AS (
  SELECT CAST(r.range AS BIGINT) AS bucket,
         (CAST(('0x' || substr(md5('w:' || CAST(r.range AS VARCHAR)), 1, 8))
               AS BIGINT) % 2001 - 1000) / 1000.0 AS w
  FROM range({CLF_BUCKETS}) r
),
toks AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(u.t), 1, 8)) AS BIGINT) % {CLF_BUCKETS}
           AS bucket
  FROM documents, unnest(string_split(text, ' ')) AS u(t)
),
per_doc AS (
  -- exact-integer accumulation (see quality.classifier_score)
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         SUM(CAST(round(COALESCE(w.w, 0.0) * 1e9) AS BIGINT)) AS s
  FROM toks t LEFT JOIN weights w ON t.bucket = w.bucket
  GROUP BY 1
),
lg AS (
  -- half-away-from-zero integer logit (see quality.classifier_score):
  -- round(double, 9) is engine-divergent at repr midpoints
  SELECT d.doc_id,
         COALESCE(p.n_tokens, 0) AS n_tokens,
         CASE WHEN p.n_tokens IS NULL THEN {int(round(CLF_BIAS * 1e9))}
              ELSE (CASE WHEN p.s + {int(round(CLF_BIAS * 1e9))} * p.n_tokens < 0
                         THEN -1 ELSE 1 END)
                   * ((2 * abs(p.s + {int(round(CLF_BIAS * 1e9))} * p.n_tokens) + p.n_tokens)
                      // (2 * p.n_tokens))
              END AS ln
  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
)
SELECT doc_id, n_tokens,
       CAST(ln AS DOUBLE) / 1e9 AS logit,
       round(1.0 / (1.0 + exp(-(CAST(ln AS DOUBLE) / 1e9))), 6) AS score
FROM lg
"""


# ---- hybrid lexical+vector retrieval (RAG-style composition) ----
HYBRID_QUERY_TOKENS = ["data", "model", "the", "quick"]
HYBRID_QUERY_VEC_ID = 7
HYBRID_ALPHA = 0.5
HYBRID_K = 20


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval capstone: score = α·cosine(embedding, query
    vector) + (1−α)·query-token overlap, exact top-k. The query vector
    broadcasts (1 row), the lexical score is pure codegen column work,
    and the top-k is TakeOrderedAndProject — no global sort. The shape
    a RAG index build runs at corpus scale."""
    from pyspark.sql import functions as F

    from betl_spark.operators.similarity import _cosine_pre, _norm

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    # module discipline: norms precompute ONCE per side, never inside
    # the per-row expression (identical float result)
    qv = emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"),
        _norm(F.col("embedding")).alias("qn"),
    )
    toks = F.split(F.col("text"), " ")
    lex = F.round(
        F.size(
            F.array_intersect(
                toks, F.array(*[F.lit(t) for t in HYBRID_QUERY_TOKENS])
            )
        ).cast("double")
        / F.lit(float(len(HYBRID_QUERY_TOKENS))),
        6,
    )
    joined = (
        docs.select("doc_id", lex.alias("lex_score"))
        .join(
            emb.select(
                "vec_id", "embedding", _norm(F.col("embedding")).alias("en")
            ),
            docs.doc_id == emb.vec_id,
        )
        .crossJoin(F.broadcast(qv))
    )
    scored = joined.select(
        "doc_id",
        "lex_score",
        _cosine_pre(
            F.col("embedding"), F.col("qvec"), F.col("en"), F.col("qn")
        ).alias("vec_score"),
    ).select(
        "doc_id",
        "lex_score",
        "vec_score",
        F.round(
            F.lit(HYBRID_ALPHA) * F.col("vec_score")
            + F.lit(1.0 - HYBRID_ALPHA) * F.col("lex_score"),
            6,
        ).alias("hybrid_score"),
    )
    return scored.orderBy(F.desc("hybrid_score"), F.asc("doc_id")).limit(HYBRID_K)


_HYBRID_COS = """
round(
  list_sum(list_transform(list_zip(e.embedding, q.qvec),
           p -> CAST(struct_extract(p, 1) AS DOUBLE)
                * CAST(struct_extract(p, 2) AS DOUBLE)))
  / (sqrt(list_sum(list_transform(e.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(q.qvec,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
  6)
"""

HYBRID_SEARCH_SQL = f"""
WITH q AS (
  SELECT embedding AS qvec FROM embeddings WHERE vec_id = {HYBRID_QUERY_VEC_ID}
),
lexed AS (
  SELECT doc_id,
         round(CAST(len(list_intersect(
                 string_split(text, ' '),
                 [{", ".join(repr(t) for t in HYBRID_QUERY_TOKENS)}]))
               AS DOUBLE) / {float(len(HYBRID_QUERY_TOKENS))}, 6) AS lex_score
  FROM documents
),
scored AS (
  SELECT l.doc_id, l.lex_score, {_HYBRID_COS} AS vec_score
  FROM lexed l JOIN embeddings e ON l.doc_id = e.vec_id CROSS JOIN q
)
SELECT doc_id, lex_score, vec_score,
       round({HYBRID_ALPHA} * vec_score + {1.0 - HYBRID_ALPHA} * lex_score, 6)
         AS hybrid_score
FROM scored
ORDER BY hybrid_score DESC, doc_id ASC
LIMIT {HYBRID_K}
"""


# ---- product quantization (PQ) encode + asymmetric-distance search ----
PQ_N_SUB = 4
PQ_QUERY_IDS = [1, 2, 3]
PQ_K = 5


def q_pq_encode(spark, sf_dir):
    """PQ compression: every embedding reduces to 4 subspace codes
    against the seed codebook — codes joined to a string for the
    cross-engine hash compare."""
    from pyspark.sql import functions as F

    from betl_spark.operators.similarity import pq_encode

    emb = table(spark, sf_dir, "embeddings")
    return pq_encode(
        emb, "vec_id", "embedding", IVF_CENTROID_IDS, PQ_N_SUB, EMB_DIM
    ).select("vec_id", F.array_join(F.col("codes"), "-").alias("codes_str"))


def _pq_cte() -> str:
    d_sub = EMB_DIM // PQ_N_SUB
    cw_vals = ", ".join(
        f"({cid}, {i})" for i, cid in enumerate(IVF_CENTROID_IDS)
    )
    j_vals = ", ".join(f"({j})" for j in range(PQ_N_SUB))
    return f"""
cw(cid, idx) AS (VALUES {cw_vals}),
js(j) AS (VALUES {j_vals}),
cb AS (
  SELECT js.j AS subspace, cw.idx AS codeword,
         e.embedding[js.j * {d_sub} + 1 : (js.j + 1) * {d_sub}] AS subvec
  FROM embeddings e JOIN cw ON e.vec_id = cw.cid CROSS JOIN js
),
rws AS (
  SELECT vec_id, js.j AS subspace,
         embedding[js.j * {d_sub} + 1 : (js.j + 1) * {d_sub}] AS rowsub
  FROM embeddings CROSS JOIN js
),
scored AS (
  SELECT r.vec_id, r.subspace, c.codeword,
         CAST(round(round(list_sum(list_transform(
             list_zip(r.rowsub, c.subvec),
             p -> (CAST(struct_extract(p, 1) AS DOUBLE)
                   - CAST(struct_extract(p, 2) AS DOUBLE))
                  * (CAST(struct_extract(p, 1) AS DOUBLE)
                     - CAST(struct_extract(p, 2) AS DOUBLE)))), 9) * 1e9)
           AS BIGINT) AS d2n
  FROM rws r JOIN cb c ON r.subspace = c.subspace
),
best AS (
  SELECT vec_id, subspace, codeword,
         row_number() OVER (
           PARTITION BY vec_id, subspace ORDER BY d2n, codeword) AS rn
  FROM scored
),
codes AS (
  SELECT vec_id,
         array_to_string(list(codeword ORDER BY subspace), '-') AS codes_str
  FROM best WHERE rn = 1 GROUP BY vec_id
)"""


PQ_ENCODE_SQL = f"""
WITH {_pq_cte()}
SELECT vec_id, codes_str FROM codes
"""


def q_pq_topk(spark, sf_dir):
    """Asymmetric-distance PQ search: approximate neighbors from the
    compressed codes only — the broadcast distance table + lookup-sum
    shape real ANN serves at corpus scale."""
    from betl_spark.operators.similarity import pq_topk

    emb = table(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, "vec_id", "embedding", PQ_QUERY_IDS, IVF_CENTROID_IDS,
        PQ_N_SUB, EMB_DIM, k=PQ_K,
    )


PQ_TOPK_SQL = f"""
WITH {_pq_cte()},
best_codes AS (
  SELECT vec_id AS neighbor_id, subspace, codeword
  FROM best WHERE rn = 1
),
qtab AS (
  SELECT s.vec_id AS query_id, s.subspace, s.codeword, s.d2n
  FROM scored s
  WHERE s.vec_id IN ({", ".join(str(i) for i in PQ_QUERY_IDS)})
),
adist AS (
  SELECT q.query_id, b.neighbor_id,
         CAST((SUM(q.d2n) + 500) // 1000 AS DOUBLE) / 1000000.0
           AS approx_dist
  FROM best_codes b
  JOIN qtab q ON b.subspace = q.subspace AND b.codeword = q.codeword
  WHERE b.neighbor_id <> q.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, approx_dist,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY approx_dist, neighbor_id
         ) AS INTEGER) AS rank
  FROM adist
)
SELECT query_id, neighbor_id, approx_dist, rank
FROM ranked WHERE rank <= {PQ_K}
"""


# ---- end-to-end modern curation pipeline (round-6 capstone) ----
CURATION_MIN_SCORE = 0.45


def q_corpus_curation_v2(spark, sf_dir):
    """The modern LLM curation recipe as ONE declarative plan:
    quality-classifier gate (hashed linear head) → CCNet perplexity
    selection (drop the tail bucket per language) → language-mixture
    rebalance of the survivors. Every stage is an already-verified
    operator; the composition stays one lazy Catalyst plan — the
    corpus is scanned for scoring, and the selection/mixture stages
    are broadcast-driven filters that never shuffle it."""
    from pyspark.sql import functions as F

    from betl_spark.operators import corpus, quality, sampling
    from betl_spark.operators.stats import quantile_buckets

    docs = table(spark, sf_dir, "documents")
    weights = _clf_weights(spark)
    clf = quality.classifier_score(
        docs, "doc_id", "text", weights, bias=CLF_BIAS, buckets=CLF_BUCKETS
    ).filter(F.col("score") >= CURATION_MIN_SCORE)
    scores = corpus.lm_score(docs, "doc_id", "text", alpha=LM_ALPHA)
    ppl = quantile_buckets(
        scores.join(docs.select("doc_id", "lang"), "doc_id"),
        "ppl",
        group_cols=["lang"],
    ).filter(F.col("bucket") != "tail")
    # two consumers (mixture_sample's strata-count collect + the
    # returned filter plan): materialize so the classifier+LM+quantile
    # pipeline runs ONCE, not per consumer (the semantic_dedup
    # `assigned` discipline)
    kept = materialize(
        docs.select("doc_id", "lang")
        .join(clf.select("doc_id"), "doc_id")
        .join(ppl.select("doc_id"), "doc_id")
    )
    return sampling.mixture_sample(kept, "doc_id", "lang", MIX_WEIGHTS).select(
        "doc_id", "lang"
    )


CORPUS_CURATION_V2_SQL = f"""
WITH clf AS ({CLASSIFIER_SCORE_SQL}),
ppl AS ({PERPLEXITY_BUCKETS_SQL}),
kept AS (
  SELECT d.doc_id, d.lang
  FROM documents d
  JOIN clf ON d.doc_id = clf.doc_id AND clf.score >= {CURATION_MIN_SCORE}
  JOIN ppl ON d.doc_id = ppl.doc_id AND ppl.bucket <> 'tail'
),
counts AS (SELECT lang AS s, COUNT(*) AS n FROM kept GROUP BY 1),
w(s, wt) AS (VALUES {_W_VALUES}),
lim AS (SELECT MIN(c.n / w.wt) AS c FROM counts c JOIN w ON c.s = w.s),
th AS (
  SELECT c.s,
         CAST(FLOOR(LEAST(1.0, lim.c * w.wt / c.n) * 10000) AS BIGINT) AS th
  FROM counts c JOIN w ON c.s = w.s CROSS JOIN lim
)
SELECT k.doc_id, k.lang
FROM kept k JOIN th ON k.lang = th.s
WHERE CAST(('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 10000 < th.th
"""


# ---- declarative data-quality gate ----
DQ_RULES = [
    {"name": "doc_id_not_null", "type": "not_null", "col": "doc_id"},
    {"name": "doc_id_unique", "type": "unique", "col": "doc_id"},
    {"name": "n_chars_range", "type": "range", "col": "n_chars", "lo": 1, "hi": 100000},
    {"name": "lang_known", "type": "in_set", "col": "lang",
     "values": ["en", "de", "es", "fr", "zh"]},
    {"name": "source_format", "type": "regex", "col": "source",
     "pattern": "^src[0-9]+$"},
]


def q_data_quality_gate(spark, sf_dir):
    """The expectations gate over the documents intake: five rule
    families evaluated in ONE aggregation pass."""
    from betl_spark.operators.profile import check_rules

    docs = table(spark, sf_dir, "documents")
    return check_rules(docs, DQ_RULES)


DATA_QUALITY_GATE_SQL = """
WITH v AS (
  SELECT 'doc_id_not_null' AS rule, 'doc_id' AS col_name,
         CAST(COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS BIGINT) AS n_violations
  FROM documents
  UNION ALL
  SELECT 'doc_id_unique', 'doc_id',
         CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'n_chars_range', 'n_chars',
         CAST(COUNT(CASE WHEN n_chars < 1 OR n_chars > 100000 THEN 1 END) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'lang_known', 'lang',
         CAST(COUNT(CASE WHEN lang IS NULL
                         OR lang NOT IN ('en','de','es','fr','zh') THEN 1 END) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'source_format', 'source',
         CAST(COUNT(CASE WHEN source IS NULL
                         OR NOT regexp_matches(source, '^src[0-9]+$') THEN 1 END) AS BIGINT)
  FROM documents
)
SELECT rule, col_name AS "column", n_violations, n_violations = 0 AS passed
FROM v
"""


# ---- sequence packing by REAL tokenizer counts ----
def q_pack_sequences_bpe(spark, sf_dir):
    """Shard-local concat-and-chunk packing with the BPE token counts
    as the budget currency — round 5's packer fed whitespace counts;
    training batches are specified in real tokens."""
    from betl_spark.operators import bpe, corpus
    from betl_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(table(spark, sf_dir, "documents")).select(
        "doc_id", bpe.bpe_token_count("text").alias("n_tokens")
    )
    return corpus.pack_sequences(
        docs, "doc_id", "n_tokens", budget=2048, n_shards=16
    )


PACK_SEQUENCES_BPE_SQL = f"""
WITH d AS (
  SELECT doc_id,
         {_bpe_count_sql('text')} AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 16 AS shard
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens, shard,
         SUM(CAST(n_tokens AS BIGINT)) OVER (
           PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING
         ) - n_tokens AS start_offset
  FROM d
)
SELECT doc_id, n_tokens, shard,
       CAST(FLOOR(CAST(start_offset AS DOUBLE) / 2048) AS BIGINT) AS chunk
FROM c
"""


QUERIES = {
    "semantic_dedup": (q_semantic_dedup, SEMANTIC_DEDUP_SQL),
    "pack_sequences_bpe": (q_pack_sequences_bpe, PACK_SEQUENCES_BPE_SQL),
    "data_quality_gate": (q_data_quality_gate, DATA_QUALITY_GATE_SQL),
    "corpus_curation_v2": (q_corpus_curation_v2, CORPUS_CURATION_V2_SQL),
    "pq_encode": (q_pq_encode, PQ_ENCODE_SQL),
    "pq_topk": (q_pq_topk, PQ_TOPK_SQL),
    "hybrid_search": (q_hybrid_search, HYBRID_SEARCH_SQL),
    "intra_doc_line_dedup": (q_intra_doc_line_dedup, INTRA_DOC_LINE_DEDUP_SQL),
    "classifier_score": (q_classifier_score, CLASSIFIER_SCORE_SQL),
    "psi_drift": (q_psi_drift, PSI_DRIFT_SQL),
    "window_funcs_events": (q_window_funcs_events, WINDOW_FUNCS_EVENTS),
    "top_docs_per_lang": (q_top_docs_per_lang, TOP_DOCS_PER_LANG_SQL),
    "profile_documents": (q_profile_documents, PROFILE_DOCUMENTS_SQL),
    "zorder_key": (q_zorder_key, ZORDER_KEY_SQL),
    "funnel_users": (q_funnel_users, FUNNEL_USERS_SQL),
    "funnel_counts": (q_funnel_counts, FUNNEL_COUNTS_SQL),
    "cohort_retention": (q_cohort_retention, COHORT_RETENTION_SQL),
    "dedup_bloom_incremental": (
        q_dedup_bloom_incremental,
        DEDUP_BLOOM_INCREMENTAL_SQL,
    ),
    "dsir_scores": (q_dsir_scores, DSIR_SCORES_SQL),
    "perplexity_buckets": (q_perplexity_buckets, PERPLEXITY_BUCKETS_SQL),
    "chunk_documents": (q_chunk_documents, CHUNK_DOCUMENTS_SQL),
    "token_count_bpe": (q_token_count_bpe, TOKEN_COUNT_BPE_SQL),
    "mixture_rebalance_bpe": (q_mixture_rebalance_bpe, MIXTURE_REBALANCE_BPE_SQL),
    "ngram_lm_perplexity": (q_ngram_lm_perplexity, NGRAM_LM_PERPLEXITY_SQL),
    "doc_length_histogram": (q_doc_length_histogram, DOC_LENGTH_HISTOGRAM_SQL),
}
