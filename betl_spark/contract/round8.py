"""Round-8 contract queries.

``classifier_train`` closes the CCNet/fastText quality-selection loop
the way round 7's ``bpe_train_merges`` closed the tokenizer loop: the
engine TRAINS the hashed-bag-of-words linear classifier that
``classifier_score`` (round 6) applies. Training is full-batch
logistic-regression gradient descent with every accumulator in exact
integer nanos, so DuckDB replays the identical iterations and lands on
the identical weight table (generated per-iteration CTEs — the same
generator-in-lockstep pattern as round 7's ``_bpe_train_sql``).
"""

from __future__ import annotations

from betl_spark.contract.common import table
from betl_spark.operators.util import materialize

CLF_TRAIN_BUCKETS = 256
CLF_TRAIN_ITERS = 3
CLF_TRAIN_LR = 0.5


def q_classifier_train(spark, sf_dir):
    """In-engine quality-classifier training: 3 full-batch GD
    iterations of logistic regression on hashed token features over
    the documents table, label = (lang = 'en'). Returns the trained
    weight table (bias at bucket -1) — drop-in for classifier_score."""
    from pyspark.sql import functions as F

    from betl_spark.operators.quality import classifier_train

    docs = table(spark, sf_dir, "documents")
    return classifier_train(
        docs,
        "doc_id",
        "text",
        F.col("lang") == F.lit("en"),
        buckets=CLF_TRAIN_BUCKETS,
        iterations=CLF_TRAIN_ITERS,
        lr=CLF_TRAIN_LR,
    )


def _clf_train_ctes(
    buckets: int,
    iterations: int,
    lr: float,
    source: str = "documents",
    text_col: str = "text",
) -> list[str]:
    """The generated CTE chain of the classifier_train replay —
    shared by the trainer oracle, the train→score roundtrip oracle and
    the curation-v3 capstone (``source``/``text_col`` parameterize the
    training corpus) so the replays can never drift."""
    ctes = [
        f"""f0 AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(('0x' || substr(md5(u.t), 1, 8)) AS BIGINT) % {buckets}
           AS bucket
  FROM {source}, unnest(string_split({text_col}, ' ')) AS u(t)
)""",
        """nd AS (SELECT doc_id, COUNT(*) AS n FROM f0 GROUP BY doc_id)""",
        f"""f AS MATERIALIZED (
  SELECT f0.doc_id, f0.y, f0.bucket,
         CAST(floor(COUNT(*) * 1e9 / MAX(nd.n) + 0.5) AS BIGINT) AS x9
  FROM f0 JOIN nd ON f0.doc_id = nd.doc_id
  GROUP BY f0.doc_id, f0.y, f0.bucket
  UNION ALL
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(-1 AS BIGINT) AS bucket, CAST(1000000000 AS BIGINT) AS x9
  FROM {source}
)""",
        """ndocs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM f)""",
    ]
    for i in range(1, iterations + 1):
        if i == 1:
            s_expr = "SUM(CAST(f.x9 AS HUGEINT) * 0)"
            p_from = "FROM f"
        else:
            s_expr = "SUM(CAST(f.x9 AS HUGEINT) * COALESCE(w.wn, 0))"
            p_from = f"FROM f LEFT JOIN w{i - 1} w ON f.bucket = w.bucket"
        ctes.append(
            f"""p{i} AS MATERIALIZED (
  SELECT f.doc_id, f.y,
         CAST(floor(1.0 / (1.0 + exp(-(
             floor(CAST({s_expr} AS DOUBLE) / 1e9 + 0.5) / 1e9
           ))) * 1e9 + 0.5) AS BIGINT) AS p_nano
  {p_from}
  GROUP BY f.doc_id, f.y
)"""
        )
        ctes.append(
            f"""g{i} AS MATERIALIZED (
  SELECT f.bucket,
         SUM(CAST(p.p_nano - p.y * 1000000000 AS HUGEINT) * f.x9) AS G
  FROM f JOIN p{i} p ON f.doc_id = p.doc_id
  GROUP BY f.bucket
)"""
        )
        prev_w = (
            f"LEFT JOIN w{i - 1} w ON g.bucket = w.bucket" if i > 1 else ""
        )
        prev_val = "COALESCE(w.wn, 0)" if i > 1 else "0"
        ctes.append(
            f"""w{i} AS MATERIALIZED (
  SELECT g.bucket,
         {prev_val} - CAST(floor(
             {lr} * CAST(g.G AS DOUBLE)
             / (1e9 * (SELECT n FROM ndocs)) + 0.5
           ) AS BIGINT) AS wn
  FROM g{i} g {prev_w}
)"""
        )
    return ctes


def _clf_train_sql(buckets: int, iterations: int, lr: float) -> str:
    """DuckDB replay of classifier_train: identical feature build
    (md5-hashed tokens, nano-quantized count/n features, bias feature
    at bucket -1), then ``iterations`` generated stages of
    logit -> sigmoid -> nano error -> HUGEINT gradient sums -> weight
    update, every rounding written as floor(x + 0.5) so both engines
    quantize identically."""
    ctes = _clf_train_ctes(buckets, iterations, lr)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT bucket, CAST(wn AS DOUBLE) / 1e9 AS w FROM w{iterations}"
    )


CLASSIFIER_TRAIN_SQL = _clf_train_sql(
    CLF_TRAIN_BUCKETS, CLF_TRAIN_ITERS, CLF_TRAIN_LR
)


def q_classifier_train_score(spark, sf_dir):
    """The closed loop, end to end: train the classifier in-engine,
    then score the SAME corpus with classifier_score using the trained
    weight table and bias — the full CCNet-style selection pass as one
    driver-verifiable query."""
    from pyspark.sql import functions as F

    from betl_spark.operators.quality import classifier_score, classifier_train

    docs = table(spark, sf_dir, "documents")
    w = materialize(
        classifier_train(
            docs,
            "doc_id",
            "text",
            F.col("lang") == F.lit("en"),
            buckets=CLF_TRAIN_BUCKETS,
            iterations=CLF_TRAIN_ITERS,
            lr=CLF_TRAIN_LR,
        )
    )
    # empty corpus -> empty weight table -> untrained bias 0 (the
    # oracle's scalar subquery yields NULL + COALESCE downstream; both
    # produce zero output rows on zero documents)
    rows = w.filter("bucket = -1").collect()
    bias = rows[0]["w"] if rows else 0.0
    return classifier_score(
        docs,
        "doc_id",
        "text",
        w.filter("bucket >= 0"),
        bias=bias,
        buckets=CLF_TRAIN_BUCKETS,
    )


def _clf_train_score_sql(buckets: int, iterations: int, lr: float) -> str:
    """Train→score roundtrip oracle: the trainer CTE chain, then round
    6's proven classifier_score tail reading the trained weights
    (bucket ≥ 0) and bias (bucket -1) instead of pseudo-weights."""
    ctes = _clf_train_ctes(buckets, iterations, lr)
    ctes.append(
        f"""trained AS (
  SELECT bucket, CAST(wn AS DOUBLE) / 1e9 AS w FROM w{iterations}
  WHERE bucket >= 0
)"""
    )
    ctes.append(
        f"""bias_n AS (
  SELECT COALESCE((SELECT wn FROM w{iterations} WHERE bucket = -1), 0) AS bn
)"""
    )
    ctes.append(
        f"""toks AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(u.t), 1, 8)) AS BIGINT) % {buckets}
           AS bucket
  FROM documents, unnest(string_split(text, ' ')) AS u(t)
)"""
    )
    ctes.append(
        """per_doc AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         SUM(CAST(round(COALESCE(w.w, 0.0) * 1e9) AS BIGINT)) AS s
  FROM toks t LEFT JOIN trained w ON t.bucket = w.bucket
  GROUP BY 1
)"""
    )
    ctes.append(
        """lg AS (
  -- half-away-from-zero integer logit (see quality.classifier_score):
  -- round(double, 9) is engine-divergent at repr midpoints
  SELECT d.doc_id,
         COALESCE(p.n_tokens, 0) AS n_tokens,
         CASE WHEN p.n_tokens IS NULL THEN (SELECT bn FROM bias_n)
              ELSE (CASE WHEN p.s + (SELECT bn FROM bias_n) * p.n_tokens < 0
                         THEN -1 ELSE 1 END)
                   * ((2 * abs(p.s + (SELECT bn FROM bias_n) * p.n_tokens)
                       + p.n_tokens)
                      // (2 * p.n_tokens))
              END AS ln
  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT doc_id, n_tokens,
       CAST(ln AS DOUBLE) / 1e9 AS logit,
       round(1.0 / (1.0 + exp(-(CAST(ln AS DOUBLE) / 1e9))), 6) AS score
FROM lg"""
    )


CLASSIFIER_TRAIN_SCORE_SQL = _clf_train_score_sql(
    CLF_TRAIN_BUCKETS, CLF_TRAIN_ITERS, CLF_TRAIN_LR
)


QUERIES = {
    "classifier_train": (q_classifier_train, CLASSIFIER_TRAIN_SQL),
    "classifier_train_score": (
        q_classifier_train_score,
        CLASSIFIER_TRAIN_SCORE_SQL,
    ),
}


def q_crosslingual_near_dups(spark, sf_dir):
    """Cross-lingual near-dup detection: multilingual-embedding-space
    neighborhood (the translation-invariant feature) with a lang
    mismatch filter — trained cells + within-cell cosine are byte-
    for-byte semantic_dedup's stages."""
    from betl_spark.contract.round6 import SEMANTIC_THRESHOLD
    from betl_spark.contract.scale import IVF_CENTROID_IDS
    from betl_spark.operators.similarity import cross_group_near_dups

    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    return cross_group_near_dups(
        emb,
        docs,
        "vec_id",
        "embedding",
        "lang",
        IVF_CENTROID_IDS,
        threshold=SEMANTIC_THRESHOLD,
    )


def _crosslingual_sql() -> str:
    from betl_spark.contract.round6 import (
        SEMANTIC_THRESHOLD,
        SEMANTIC_TRAIN_CTES,
        _COS_E_CV,
    )
    from betl_spark.contract.scale import _COSINE_PAIR

    return f"""
WITH RECURSIVE {SEMANTIC_TRAIN_CTES},
assign1 AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY {_COS_E_CV} DESC, c.cell_id
         ) AS cell_rank
  FROM embeddings e CROSS JOIN tcent c
),
corpus AS (SELECT vec_id, embedding, cell_id FROM assign1 WHERE cell_rank = 1),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COSINE_PAIR} AS cosine_sim
  FROM corpus a JOIN corpus b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {_COSINE_PAIR} >= {SEMANTIC_THRESHOLD}
)
SELECT p.id_a, p.id_b, da.lang AS group_a, db.lang AS group_b, p.cosine_sim
FROM pairs p
JOIN documents da ON p.id_a = da.doc_id
JOIN documents db ON p.id_b = db.doc_id
WHERE da.lang <> db.lang
"""


CROSSLINGUAL_NEAR_DUPS_SQL = _crosslingual_sql()

QUERIES["crosslingual_near_dups"] = (
    q_crosslingual_near_dups,
    CROSSLINGUAL_NEAR_DUPS_SQL,
)


WEIGHTED_N_PER_LANG = 20


def q_weighted_fixed_n(spark, sf_dir):
    """Exactly-N weighted sample per language, odds ∝ document length
    (Efraimidis–Spirakis priorities from the md5-derived uniform)."""
    from betl_spark.operators.sampling import weighted_fixed_n

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return weighted_fixed_n(
        docs, "doc_id", "lang", "n_chars", WEIGHTED_N_PER_LANG
    )


WEIGHTED_FIXED_N_SQL = f"""
WITH h AS (
  SELECT doc_id, lang, n_chars,
         round(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) + 1) / 4294967297.0)
               / n_chars, 9) AS pri
  FROM documents
  -- NULL keys and non-positive weights never rank (engine contract)
  WHERE doc_id IS NOT NULL AND n_chars > 0
),
ranked AS (
  SELECT doc_id, lang, n_chars,
         CAST(row_number() OVER (
           PARTITION BY lang ORDER BY pri, doc_id
         ) AS INTEGER) AS rank
  FROM h
)
SELECT doc_id, lang, n_chars, rank
FROM ranked WHERE rank <= {WEIGHTED_N_PER_LANG}
"""

QUERIES["weighted_fixed_n"] = (q_weighted_fixed_n, WEIGHTED_FIXED_N_SQL)


SUBSTR_K = 20
SUBSTR_P = 4
SUBSTR_GAP = 64


def q_repeated_substring_spans(spark, sf_dir):
    """Character-level cross-document repeated-substring spans via
    content-defined (mod-p) fingerprint sampling — alignment-
    independent, the ExactSubstr dedup class done as one dataflow."""
    from betl_spark.operators.dedup import repeated_substring_spans

    docs = table(spark, sf_dir, "documents")
    return repeated_substring_spans(
        docs, "doc_id", "text", k=SUBSTR_K, p=SUBSTR_P,
        min_docs=2, merge_gap=SUBSTR_GAP,
    )


_SUBSTR_CTES = f"""wins AS (
  SELECT doc_id, CAST(u.off AS BIGINT) AS off,
         md5(substr(text, CAST(u.off AS INT) + 1, {SUBSTR_K})) AS h
  FROM documents, unnest(range(0, length(text) - {SUBSTR_K} + 1)) AS u(off)
  WHERE length(text) >= {SUBSTR_K}
),
fp AS (
  SELECT doc_id, off, h FROM wins
  WHERE CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % {SUBSTR_P} = 0
),
rep AS (
  SELECT h FROM fp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
hits AS (SELECT f.doc_id, f.off FROM fp f JOIN rep USING (h)),
lagged AS (
  SELECT doc_id, off,
         CASE WHEN off - lag(off) OVER (PARTITION BY doc_id ORDER BY off)
                   > {SUBSTR_GAP}
              THEN 1 ELSE 0 END AS brk
  FROM hits
),
grp AS (
  SELECT doc_id, off,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY off
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM lagged
),
spans AS (
  SELECT doc_id, MIN(off) AS span_start, MAX(off) + {SUBSTR_K} AS span_end,
         CAST(COUNT(*) AS BIGINT) AS n_fingerprints
  FROM grp GROUP BY doc_id, g
)"""

REPEATED_SUBSTRING_SPANS_SQL = (
    "WITH " + _SUBSTR_CTES + "\nSELECT * FROM spans"
)

QUERIES["repeated_substring_spans"] = (
    q_repeated_substring_spans,
    REPEATED_SUBSTRING_SPANS_SQL,
)


def q_trim_repeated_spans(spark, sf_dir):
    """The ExactSubstr loop closed: detect cross-document repeated
    substrings, then CUT the spans out of every document (row-local
    higher-order splice — no per-character work in the engine)."""
    from betl_spark.operators.dedup import (
        repeated_substring_spans,
        trim_spans,
    )

    docs = table(spark, sf_dir, "documents")
    spans = repeated_substring_spans(
        docs, "doc_id", "text", k=SUBSTR_K, p=SUBSTR_P,
        min_docs=2, merge_gap=SUBSTR_GAP,
    )
    return trim_spans(docs, spans, "doc_id", "text").select(
        "doc_id", "text_clean", "n_trimmed_chars"
    )


# the oracle reconstructs each document from the span COMPLEMENT by
# character position — O(chars) rows is fine at oracle scale; the
# engine's row-local splice must land on the identical strings
TRIM_REPEATED_SPANS_SQL = (
    "WITH "
    + _SUBSTR_CTES
    + """,
chars AS (
  SELECT d.doc_id, CAST(u.i AS BIGINT) AS i,
         substr(d.text, CAST(u.i AS INT) + 1, 1) AS ch
  FROM documents d, unnest(range(length(d.text))) AS u(i)
),
kept AS (
  SELECT c.doc_id, c.i, c.ch FROM chars c
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = c.doc_id
      AND c.i >= s.span_start AND c.i < s.span_end
  )
),
clean AS (
  SELECT doc_id, string_agg(ch, '' ORDER BY i) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE COALESCE(cl.text_clean, '') END AS text_clean,
       CAST(COALESCE(length(d.text)
                     - length(CASE WHEN d.text IS NULL THEN NULL
                                   ELSE COALESCE(cl.text_clean, '') END),
                     0) AS BIGINT) AS n_trimmed_chars
FROM documents d LEFT JOIN clean cl ON d.doc_id = cl.doc_id"""
)

QUERIES["trim_repeated_spans"] = (q_trim_repeated_spans, TRIM_REPEATED_SPANS_SQL)


INC_BATCH_MAX_ID = 50


def q_semantic_dedup_incremental(spark, sf_dir):
    """Daily-ingest embedding dedup: batch (vec_id < 50) against a
    persisted IVF-indexed corpus (the rest) — corpus read partition-
    pruned to the batch's cells, never self-joined; then within-batch
    near-dups collapse to min-id survivors."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from betl_spark.contract.round6 import SEMANTIC_THRESHOLD
    from betl_spark.contract.scale import IVF_CENTROID_IDS
    from betl_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= INC_BATCH_MAX_ID)
    batch = emb.filter(F.col("vec_id") < INC_BATCH_MAX_ID)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"betl_spark_ivf_inc_{os.getpid()}_{tag}",
    )
    if path not in _INC_INDEXES_BUILT:
        similarity.build_ivf_index(
            corpus, "vec_id", "embedding", IVF_CENTROID_IDS, path
        )
        _INC_INDEXES_BUILT.add(path)
    return similarity.semantic_dedup_incremental(
        spark, batch, path, "vec_id", "embedding",
        threshold=SEMANTIC_THRESHOLD,
    )


_INC_INDEXES_BUILT: set = set()


def _sem_inc_sql() -> str:
    from betl_spark.contract.round6 import SEMANTIC_THRESHOLD
    from betl_spark.contract.scale import IVF_CENTROID_IDS

    def cos(a, b):
        return f"""round(
  list_sum(list_transform(list_zip({a}.embedding, {b}.embedding),
           p -> CAST(struct_extract(p, 1) AS DOUBLE)
                * CAST(struct_extract(p, 2) AS DOUBLE)))
  / (sqrt(list_sum(list_transform({a}.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform({b}.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
  6)"""

    ids = ", ".join(str(i) for i in IVF_CENTROID_IDS)
    t = SEMANTIC_THRESHOLD
    b = INC_BATCH_MAX_ID
    return f"""
WITH RECURSIVE
corpus0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {b}),
batch0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {b}),
cent AS (
  SELECT vec_id AS cell_id, embedding FROM corpus0 WHERE vec_id IN ({ids})
),
cassign AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY {cos('e', 'c')} DESC, c.cell_id
         ) AS rk
  FROM corpus0 e CROSS JOIN cent c
),
corpus AS (SELECT vec_id, embedding, cell_id FROM cassign WHERE rk = 1),
bassign AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY {cos('e', 'c')} DESC, c.cell_id
         ) AS rk
  FROM batch0 e CROSS JOIN cent c
),
bcell AS (SELECT vec_id, embedding, cell_id FROM bassign WHERE rk = 1),
contaminated AS (
  SELECT DISTINCT e.vec_id
  FROM bcell e JOIN corpus c ON e.cell_id = c.cell_id
  WHERE {cos('e', 'c')} >= {t}
),
fresh AS (
  SELECT * FROM bcell
  WHERE vec_id NOT IN (SELECT vec_id FROM contaminated)
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM fresh a JOIN fresh b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {cos('a', 'b')} >= {t}
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
clusters AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node)
SELECT f.vec_id, f.cell_id
FROM fresh f LEFT JOIN clusters cl ON f.vec_id = cl.node
WHERE cl.cluster_id IS NULL OR f.vec_id = cl.cluster_id
"""


SEMANTIC_DEDUP_INCREMENTAL_SQL = _sem_inc_sql()

QUERIES["semantic_dedup_incremental"] = (
    q_semantic_dedup_incremental,
    SEMANTIC_DEDUP_INCREMENTAL_SQL,
)


def q_similarity_ann_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH top-k: the query also probes every Hamming-1
    bucket (probe expansion on the broadcast side only) — measured
    recall@10 0.14 -> 0.51 at 4 planes vs single-probe (SCALE.md)."""
    from betl_spark.contract.scale import EMB_DIM, N_PLANES
    from betl_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    return similarity.lsh_bucket_topk(
        emb, "vec_id", "embedding", list(range(10)), k=5,
        n_planes=N_PLANES, dim=EMB_DIM, multi_probe=True,
    )


def _lsh_multiprobe_sql() -> str:
    from betl_spark.contract.scale import N_PLANES, _COSINE_PAIR, _bucket_sql

    flips = ", ".join(
        f"xor(bucket, {1 << i})" for i in range(N_PLANES)
    )
    return f"""
WITH be AS (
  SELECT vec_id, embedding, {_bucket_sql('embeddings')} AS bucket
  FROM embeddings
),
probes AS (
  SELECT vec_id, embedding, unnest([bucket, {flips}]) AS bucket
  FROM be WHERE vec_id < 10
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_COSINE_PAIR} AS cosine_sim
  FROM probes a JOIN be b ON a.bucket = b.bucket
  WHERE a.vec_id != b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
         ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


SIMILARITY_ANN_LSH_MULTIPROBE_SQL = _lsh_multiprobe_sql()

QUERIES["similarity_ann_lsh_multiprobe"] = (
    q_similarity_ann_lsh_multiprobe,
    SIMILARITY_ANN_LSH_MULTIPROBE_SQL,
)


V3_ITERS = 2
V3_TOP_N = 15


def q_corpus_curation_v3(spark, sf_dir):
    """Round-8 curation capstone — the new families composed end to
    end: cut cross-document repeated substrings out of every document
    (ExactSubstr-class trim), TRAIN the quality classifier in-engine on
    the cleaned text, score the cleaned corpus with the trained
    weights, and keep the top-N highest-scoring documents per language
    (quality-ranked selection, no fragile threshold). One declarative
    plan; every stage is an already-verified operator."""
    from pyspark.sql import functions as F

    from betl_spark.operators.dedup import (
        repeated_substring_spans,
        trim_spans,
    )
    from betl_spark.operators.quality import classifier_score, classifier_train
    from betl_spark.operators.stats import top_n_per_group

    docs = table(spark, sf_dir, "documents")
    spans = repeated_substring_spans(
        docs, "doc_id", "text", k=SUBSTR_K, p=SUBSTR_P,
        min_docs=2, merge_gap=SUBSTR_GAP,
    )
    # three consumers (trainer, scorer, lang join) — materialize the
    # span-trim pipeline once
    cleaned = materialize(
        trim_spans(docs, spans, "doc_id", "text").select(
            "doc_id", "lang", "text_clean"
        )
    )
    w = materialize(
        classifier_train(
            cleaned, "doc_id", "text_clean", F.col("lang") == F.lit("en"),
            buckets=CLF_TRAIN_BUCKETS, iterations=V3_ITERS, lr=CLF_TRAIN_LR,
        )
    )
    rows = w.filter("bucket = -1").collect()
    bias = rows[0]["w"] if rows else 0.0
    scored = classifier_score(
        cleaned, "doc_id", "text_clean", w.filter("bucket >= 0"),
        bias=bias, buckets=CLF_TRAIN_BUCKETS,
    )
    joined = scored.select("doc_id", "score").join(
        cleaned.select("doc_id", "lang"), "doc_id"
    )
    return top_n_per_group(
        joined, ["lang"], "score", V3_TOP_N, "doc_id", ascending=False
    ).select("doc_id", "lang", "score", "rank")


def _curation_v3_sql() -> str:
    ctes = [_SUBSTR_CTES]
    ctes.append(
        """chars AS (
  SELECT d.doc_id, CAST(u.i AS BIGINT) AS i,
         substr(d.text, CAST(u.i AS INT) + 1, 1) AS ch
  FROM documents d, unnest(range(length(d.text))) AS u(i)
)"""
    )
    ctes.append(
        """kept AS (
  SELECT c.doc_id, c.i, c.ch FROM chars c
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = c.doc_id
      AND c.i >= s.span_start AND c.i < s.span_end
  )
)"""
    )
    ctes.append(
        """clean AS (
  SELECT doc_id, string_agg(ch, '' ORDER BY i) AS text_clean
  FROM kept GROUP BY doc_id
)"""
    )
    ctes.append(
        """cleaned AS MATERIALIZED (
  SELECT d.doc_id, d.lang,
         CASE WHEN d.text IS NULL THEN NULL
              ELSE COALESCE(cl.text_clean, '') END AS text_clean
  FROM documents d LEFT JOIN clean cl ON d.doc_id = cl.doc_id
)"""
    )
    ctes.extend(
        _clf_train_ctes(
            CLF_TRAIN_BUCKETS, V3_ITERS, CLF_TRAIN_LR,
            source="cleaned", text_col="text_clean",
        )
    )
    ctes.append(
        f"""trained AS (
  SELECT bucket, CAST(wn AS DOUBLE) / 1e9 AS w FROM w{V3_ITERS}
  WHERE bucket >= 0
)"""
    )
    ctes.append(
        f"""bias_n AS (
  SELECT COALESCE((SELECT wn FROM w{V3_ITERS} WHERE bucket = -1), 0) AS bn
)"""
    )
    ctes.append(
        f"""toks AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(u.t), 1, 8)) AS BIGINT) % {CLF_TRAIN_BUCKETS}
           AS bucket
  FROM cleaned, unnest(string_split(text_clean, ' ')) AS u(t)
)"""
    )
    ctes.append(
        """per_doc AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         SUM(CAST(round(COALESCE(w.w, 0.0) * 1e9) AS BIGINT)) AS s
  FROM toks t LEFT JOIN trained w ON t.bucket = w.bucket
  GROUP BY 1
)"""
    )
    ctes.append(
        """scored AS (
  -- half-away-from-zero integer logit (see quality.classifier_score)
  SELECT c.doc_id, c.lang,
         round(1.0 / (1.0 + exp(-(CAST(
           CASE WHEN p.n_tokens IS NULL THEN (SELECT bn FROM bias_n)
                ELSE (CASE WHEN p.s + (SELECT bn FROM bias_n) * p.n_tokens < 0
                           THEN -1 ELSE 1 END)
                     * ((2 * abs(p.s + (SELECT bn FROM bias_n) * p.n_tokens)
                         + p.n_tokens)
                        // (2 * p.n_tokens))
                END AS DOUBLE) / 1e9))), 6) AS score
  FROM cleaned c LEFT JOIN per_doc p ON c.doc_id = p.doc_id
)"""
    )
    ctes.append(
        """ranked AS (
  SELECT doc_id, lang, score,
         CAST(row_number() OVER (
           PARTITION BY lang ORDER BY score DESC, doc_id
         ) AS INTEGER) AS rank
  FROM scored
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT doc_id, lang, score, rank FROM ranked WHERE rank <= {V3_TOP_N}"
    )


CORPUS_CURATION_V3_SQL = _curation_v3_sql()

QUERIES["corpus_curation_v3"] = (q_corpus_curation_v3, CORPUS_CURATION_V3_SQL)


def q_semantic_ingest_2day(spark, sf_dir):
    """The ingest loop under the driver gate: day-1 batch dedupes
    against the indexed corpus, its survivors APPEND to the index (one
    partitioned write, corpus untouched), day-2 then dedupes against
    corpus+day-1 — so a day-2 duplicate of a day-1 survivor drops with
    no rebuild. Output: (day, vec_id, cell_id) survivors of both days.
    The index rebuilds per invocation (overwrite) so repeat runs are
    idempotent despite the append mutation."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from betl_spark.contract.round6 import SEMANTIC_THRESHOLD
    from betl_spark.contract.scale import IVF_CENTROID_IDS
    from betl_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= INC_BATCH_MAX_ID)
    day1 = emb.filter(F.col("vec_id") < INC_BATCH_MAX_ID // 2)
    day2 = emb.filter(
        (F.col("vec_id") >= INC_BATCH_MAX_ID // 2)
        & (F.col("vec_id") < INC_BATCH_MAX_ID)
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(), f"betl_spark_ivf_2day_{os.getpid()}_{tag}"
    )
    similarity.build_ivf_index(
        corpus, "vec_id", "embedding", IVF_CENTROID_IDS, path
    )
    s1 = materialize(
        similarity.semantic_dedup_incremental(
            spark, day1, path, "vec_id", "embedding", threshold=SEMANTIC_THRESHOLD
        ),
        eager=True,
    )
    similarity.append_to_ivf_index(
        spark, day1.join(s1.select("vec_id"), "vec_id"), path,
        "vec_id", "embedding",
    )
    s2 = similarity.semantic_dedup_incremental(
        spark, day2, path, "vec_id", "embedding", threshold=SEMANTIC_THRESHOLD
    )
    return s1.select(F.lit(1).alias("day"), "vec_id", "cell_id").unionByName(
        s2.select(F.lit(2).alias("day"), "vec_id", "cell_id")
    )


def _sem_inc_ctes(
    prefix: str, batch_pred: str, corpus_cte: str
) -> tuple[list[str], str]:
    """The incremental-dedup CTE chain, parameterized so the 2-day
    oracle can instantiate it twice (day 1 vs corpus0, day 2 vs
    corpus0 ∪ day-1 survivors). Returns (ctes, survivors_cte_name)."""
    from betl_spark.contract.round6 import SEMANTIC_THRESHOLD

    def cos(a, b):
        return f"""round(
  list_sum(list_transform(list_zip({a}.embedding, {b}.embedding),
           p -> CAST(struct_extract(p, 1) AS DOUBLE)
                * CAST(struct_extract(p, 2) AS DOUBLE)))
  / (sqrt(list_sum(list_transform({a}.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform({b}.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
  6)"""

    t = SEMANTIC_THRESHOLD
    p = prefix
    ctes = [
        f"""{p}b0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE {batch_pred}
)""",
        f"""{p}ba AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY {cos('e', 'c')} DESC, c.cell_id
         ) AS rk
  FROM {p}b0 e CROSS JOIN cent c
)""",
        f"""{p}bc AS (
  SELECT vec_id, embedding, cell_id FROM {p}ba WHERE rk = 1
)""",
        f"""{p}cont AS (
  SELECT DISTINCT e.vec_id
  FROM {p}bc e JOIN {corpus_cte} c ON e.cell_id = c.cell_id
  WHERE {cos('e', 'c')} >= {t}
)""",
        f"""{p}fresh AS (
  SELECT * FROM {p}bc
  WHERE vec_id NOT IN (SELECT vec_id FROM {p}cont)
)""",
        f"""{p}pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM {p}fresh a
  JOIN {p}fresh b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {cos('a', 'b')} >= {t}
)""",
        f"""{p}edges AS (
  SELECT id_a AS src, id_b AS dst FROM {p}pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM {p}pairs
)""",
        f"""{p}reach AS (
  SELECT src AS node, src AS label FROM {p}edges
  UNION
  SELECT e.dst AS node, r.label AS label
  FROM {p}reach r JOIN {p}edges e ON e.src = r.node
)""",
        f"""{p}clusters AS (
  SELECT node, MIN(label) AS cluster_id FROM {p}reach GROUP BY node
)""",
        f"""{p}surv AS (
  SELECT f.vec_id, f.embedding, f.cell_id
  FROM {p}fresh f LEFT JOIN {p}clusters cl ON f.vec_id = cl.node
  WHERE cl.cluster_id IS NULL OR f.vec_id = cl.cluster_id
)""",
    ]
    return ctes, f"{p}surv"


def _sem_ingest_2day_sql() -> str:
    from betl_spark.contract.scale import IVF_CENTROID_IDS

    b = INC_BATCH_MAX_ID
    ids = ", ".join(str(i) for i in IVF_CENTROID_IDS)

    def cos(a, b_):
        return f"""round(
  list_sum(list_transform(list_zip({a}.embedding, {b_}.embedding),
           p -> CAST(struct_extract(p, 1) AS DOUBLE)
                * CAST(struct_extract(p, 2) AS DOUBLE)))
  / (sqrt(list_sum(list_transform({a}.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform({b_}.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
  6)"""

    head = [
        f"""corpus0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {b}
)""",
        f"""cent AS (
  SELECT vec_id AS cell_id, embedding FROM corpus0 WHERE vec_id IN ({ids})
)""",
        f"""cassign AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY {cos('e', 'c')} DESC, c.cell_id
         ) AS rk
  FROM corpus0 e CROSS JOIN cent c
)""",
        """corpus AS (
  SELECT vec_id, embedding, cell_id FROM cassign WHERE rk = 1
)""",
    ]
    d1, s1 = _sem_inc_ctes("d1", f"vec_id < {b // 2}", "corpus")
    mid = [
        f"""corpus1 AS (
  SELECT vec_id, embedding, cell_id FROM corpus
  UNION ALL
  SELECT vec_id, embedding, cell_id FROM {s1}
)"""
    ]
    d2, s2 = _sem_inc_ctes(
        "d2", f"vec_id >= {b // 2} AND vec_id < {b}", "corpus1"
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(head + d1 + mid + d2)
        + f"""
SELECT 1 AS day, vec_id, cell_id FROM {s1}
UNION ALL
SELECT 2 AS day, vec_id, cell_id FROM {s2}"""
    )


SEMANTIC_INGEST_2DAY_SQL = _sem_ingest_2day_sql()

QUERIES["semantic_ingest_2day"] = (
    q_semantic_ingest_2day,
    SEMANTIC_INGEST_2DAY_SQL,
)


LSH_TABLES = 2


def q_similarity_ann_lsh_tables(spark, sf_dir):
    """OR-ed multi-table LSH with multi-probe — the full recall ladder:
    2 independent 4-plane tables, each probing its Hamming-1 buckets.
    Measured recall@10 = 0.74 at sf0.1 vs single-table's 0.14
    (SCALE.md), beating IVF nprobe=4 on the same corpus."""
    from betl_spark.contract.scale import EMB_DIM, N_PLANES
    from betl_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    return similarity.lsh_multitable_topk(
        emb, "vec_id", "embedding", list(range(10)), k=5,
        n_planes=N_PLANES, dim=EMB_DIM, n_tables=LSH_TABLES,
        multi_probe=True,
    )


def _lsh_tables_sql() -> str:
    import hashlib

    from betl_spark.contract.scale import EMB_DIM, N_PLANES, _COSINE_PAIR

    def plane_literal(plane: int) -> str:
        comps = []
        for j in range(EMB_DIM):
            h = int(
                hashlib.md5(f"{plane}:{j}".encode()).hexdigest()[:2], 16
            )
            comps.append("1.0" if h % 2 == 0 else "-1.0")
        return "[" + ", ".join(comps) + "]"

    def bucket_sql(tbl: str, offset: int) -> str:
        terms = []
        for i in range(N_PLANES):
            dot = (
                f"list_sum(list_transform(list_zip({tbl}.embedding, "
                f"{plane_literal(offset + i)}), "
                "p -> CAST(struct_extract(p, 1) AS DOUBLE)"
                " * struct_extract(p, 2)))"
            )
            terms.append(f"CASE WHEN {dot} > 0 THEN {2 ** i} ELSE 0 END")
        return "(" + " + ".join(terms) + ")"

    bcols = ", ".join(
        f"{bucket_sql('embeddings', t * N_PLANES)} AS b{t}"
        for t in range(LSH_TABLES)
    )
    ckeys = "\n  UNION ALL ".join(
        f"SELECT vec_id, embedding, {t} AS t, b{t} AS b FROM be"
        for t in range(LSH_TABLES)
    )
    qterms = []
    for t in range(LSH_TABLES):
        qterms.append(
            f"SELECT vec_id, embedding, {t} AS t, b{t} AS b "
            "FROM be WHERE vec_id < 10"
        )
        for i in range(N_PLANES):
            qterms.append(
                f"SELECT vec_id, embedding, {t} AS t, xor(b{t}, {1 << i}) "
                "AS b FROM be WHERE vec_id < 10"
            )
    qkeys = "\n  UNION ALL ".join(qterms)
    return f"""
WITH be AS (
  SELECT vec_id, embedding, {bcols} FROM embeddings
),
ckeys AS (
  {ckeys}
),
qkeys AS (
  {qkeys}
),
scored AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_COSINE_PAIR} AS cosine_sim
  FROM qkeys a JOIN ckeys b ON a.t = b.t AND a.b = b.b
  WHERE a.vec_id != b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
         ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


SIMILARITY_ANN_LSH_TABLES_SQL = _lsh_tables_sql()

QUERIES["similarity_ann_lsh_tables"] = (
    q_similarity_ann_lsh_tables,
    SIMILARITY_ANN_LSH_TABLES_SQL,
)


def q_source_data_card(spark, sf_dir):
    """Per-(source, lang) data card — the dataset-documentation rollup
    a curation pipeline publishes next to its shards: volume (docs,
    chars), exact-duplicate rate (content-hash census), and the
    corpus's own quality score (classifier_score under the shared
    pseudo-weights) min/mean/max — one groupBy over proven columns."""
    from pyspark.sql import functions as F

    from betl_spark.contract.round6 import CLF_BIAS, CLF_BUCKETS, _clf_weights
    from betl_spark.operators.dedup import content_hash
    from betl_spark.operators.quality import classifier_score

    docs = table(spark, sf_dir, "documents")
    scored = classifier_score(
        docs, "doc_id", "text", _clf_weights(spark),
        bias=CLF_BIAS, buckets=CLF_BUCKETS,
    ).select("doc_id", "score")
    base = docs.select(
        "doc_id", "source", "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        content_hash(["text"]).alias("h"),
    ).join(scored, "doc_id")
    return (
        base.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (
                F.count(F.lit(1)) - F.count_distinct(F.col("h"))
            ).alias("n_exact_dups"),
            F.round(F.min("score"), 6).alias("min_score"),
            # exact-integer mean: scores are 6dp, so score·1e6 sums as
            # BIGINT order-free, divided as double at the end
            F.round(
                F.sum(F.round(F.col("score") * F.lit(1e6)).cast("long"))
                / (F.count(F.lit(1)) * F.lit(1e6)),
                9,
            ).alias("mean_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
    )


SOURCE_DATA_CARD_SQL = f"""
WITH weights AS (
  SELECT CAST(r.range AS BIGINT) AS bucket,
         (CAST(('0x' || substr(md5('w:' || CAST(r.range AS VARCHAR)), 1, 8))
               AS BIGINT) % 2001 - 1000) / 1000.0 AS w
  FROM range(256) r
),
toks AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(u.t), 1, 8)) AS BIGINT) % 256 AS bucket
  FROM documents, unnest(string_split(text, ' ')) AS u(t)
),
per_doc AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         SUM(CAST(round(COALESCE(w.w, 0.0) * 1e9) AS BIGINT)) AS s
  FROM toks t LEFT JOIN weights w ON t.bucket = w.bucket
  GROUP BY 1
),
scored AS (
  -- half-away-from-zero integer logit (see quality.classifier_score)
  SELECT d.doc_id,
         round(1.0 / (1.0 + exp(-(CAST(
           CASE WHEN p.n_tokens IS NULL THEN -100000000
                ELSE (CASE WHEN p.s + -100000000 * p.n_tokens < 0
                           THEN -1 ELSE 1 END)
                     * ((2 * abs(p.s + -100000000 * p.n_tokens)
                         + p.n_tokens)
                        // (2 * p.n_tokens))
                END AS DOUBLE) / 1e9))), 6) AS score
  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
),
base AS (
  SELECT d.doc_id, d.source, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
         md5(coalesce(d.text, chr(0) || 'NULL')) AS h, s.score
  FROM documents d JOIN scored s ON d.doc_id = s.doc_id
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
       round(MIN(score), 6) AS min_score,
       round(SUM(CAST(round(score * 1e6) AS BIGINT))
             / (COUNT(*) * 1e6), 9) AS mean_score,
       round(MAX(score), 6) AS max_score
FROM base GROUP BY source, lang
"""

QUERIES["source_data_card"] = (q_source_data_card, SOURCE_DATA_CARD_SQL)
