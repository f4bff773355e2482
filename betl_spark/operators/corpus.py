"""Corpus-level operators for training-data pipelines: vocabulary
building, TF-IDF, n-gram statistics, and sequence packing.

Beyond-reference scale surface (the reference's only text handling is
string cleanup, betl/dataflow/dfl_changeData.py); same family as
operators/text.py and operators/dedup.py.

Scale shapes:
- vocab/bigram counts are explode → groupBy(token): map-side partial
  aggregation collapses per-partition duplicates before the shuffle, so
  wire volume is ~|vocab| per partition, not |tokens|.
- TF-IDF is two of those aggregations joined back on the token — the
  token join broadcasts when the vocabulary fits (it almost always
  does: vocab grows ~log corpus).
- sequence packing is shard-local by design: a GLOBAL greedy pack of
  100 TB would serialize on one cumulative sum, so documents are
  sharded by key hash and packed within shards (what production
  concat-and-chunk pipelines do); each shard's window runs in parallel
  and chunk ids are (shard, chunk_in_shard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from betl_spark.operators.sampling import hash_bucket
from betl_spark.operators.util import (
    round6_nanos_ratio_expr,
    round_ratio_expr,
)


def token_frequencies(
    df: DataFrame, id_col: str, text_col: str, top_k: int | None = None
) -> DataFrame:
    """Corpus token frequencies (vocabulary building): (token, n_docs,
    n_occurrences), optionally the top_k by occurrences with a total
    (n desc, token asc) order so the cut is deterministic.

    The top_k cut is orderBy+limit, not a global window: Catalyst plans
    it as TakeOrderedAndProject — per-partition top-k heaps then a
    driver merge of k·partitions rows — where row_number over an
    unpartitioned Window funnels the whole vocabulary through one
    sort task. Same deterministic result, parallel plan."""
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count_distinct("__doc").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    if top_k is None:
        return counts
    return counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(top_k)


def vocab_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    thresholds: tuple[float, ...] = (0.5, 0.75, 0.9),
    max_vocab: int = 10000,
) -> DataFrame:
    """Zipf coverage curve: for each threshold t, the smallest number
    of top-frequency tokens whose occurrences cover ≥ t of all token
    occurrences — the standard vocabulary-sizing question for tokenizer
    design. Output (coverage_threshold, tokens_needed); a threshold
    unreachable within ``max_vocab`` tokens yields no row (raise
    ``max_vocab`` to resolve it).

    Scale shape: the corpus-wide work is one token groupBy (map-side
    combinable); the rank + cumulative sum run through the banded
    two-pass ``ranked_running_sum`` — range-partitioned bands, per-band
    parallel windows, driver prefix-sum of O(bands) offsets — so there
    is NO partition-less Window anywhere in the plan, even if
    ``max_vocab`` is raised to cover a web-scale (10⁸-token) open
    vocabulary. The grand total comes from a scalar aggregate broadcast
    back, never a global window.
    """
    from betl_spark.operators.stats import ranked_running_sum

    counts = token_frequencies(df, id_col, text_col)
    total = counts.agg(F.sum("n_occurrences").alias("__total"))
    top = token_frequencies(df, id_col, text_col, top_k=max_vocab)
    ranked = ranked_running_sum(
        top,
        [F.desc("n_occurrences"), F.asc("token")],
        "n_occurrences",
        rank_col="__rank",
        cum_col="__cum",
    ).crossJoin(F.broadcast(total))
    th = F.explode(
        F.array(*[F.lit(float(t)) for t in thresholds])
    ).alias("coverage_threshold")
    return (
        ranked.select(th, "__rank", "__cum", "__total")
        .filter(
            F.col("__cum").cast("double")
            >= F.col("coverage_threshold") * F.col("__total").cast("double")
        )
        .groupBy("coverage_threshold")
        .agg(F.min("__rank").alias("tokens_needed"))
    )


def tf_idf(
    df: DataFrame, id_col: str, text_col: str, min_doc_freq: int = 1
) -> DataFrame:
    """Per-(doc, token) TF-IDF: tf = occurrences in doc, idf =
    ln(N / doc_freq), rounded to 6dp so independent engines agree on
    the float tail. Output (id, token, tf, tfidf).

    One explode feeds both aggregations; doc_freq is computed on
    (doc, token) pairs already deduplicated by the tf groupBy, so the
    corpus-wide pass aggregates |doc×vocab| rows, not |tokens|.
    N rides in as a broadcast 1-row crossJoin (the ``lm_score``
    pattern) rather than a separate driver-side count() action, so the
    whole operator stays one lazy plan.
    """
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    if min_doc_freq > 1:
        docfreq = docfreq.filter(F.col("doc_freq") >= min_doc_freq)
    return (
        tf.join(docfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("doc_freq")), 6
            ).alias("tfidf"),
        )
    )


def bigram_counts(df: DataFrame, text_col: str, min_count: int = 1) -> DataFrame:
    """Adjacent-token bigram counts over the corpus: (w1, w2, n).
    The bigram array is built with a codegen slice-zip (no HOF lambda
    per element beyond the zip itself), then explode → groupBy."""
    toks = F.split(F.col(text_col), " ")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    out = (
        df.select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return out.filter(F.col("n") >= min_count) if min_count > 1 else out


def repetition_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Repetition-based quality features (the Gopher §A1.1 repetition
    family, public spec): boilerplate and spam repeat themselves, so
    the strongest cheap signals are the duplicate-token fraction and
    the share of the document covered by its single most frequent
    bigram. Output (id, n_tokens, dup_token_fraction,
    top_bigram_fraction), 6dp-rounded doubles.

    dup_token_fraction = 1 − |distinct tokens| / |tokens| is pure
    codegen (array_distinct). The top-bigram count needs a per-doc
    mode: explode → count per (doc, bigram) → max per doc — two
    map-side-combinable aggregations shuffling on the doc id, never
    the text. Single-token documents have no bigrams → fraction 0.
    """
    from betl_spark.operators.util import ensure_parallelism

    toks = F.split(F.col(text_col), " ")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # tokenize/zip_with is the CPU-heavy map work (no-op at scale)
    base = ensure_parallelism(df).select(
        F.col(id_col),
        F.size(toks).alias("__n"),
        F.size(F.array_distinct(toks)).alias("__nd"),
        bigrams.alias("__bg"),
    )
    top = (
        base.select(id_col, F.explode("__bg").alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("__mc"))
    )
    return base.join(top, id_col, "left").select(
        F.col(id_col),
        F.col("__n").alias("n_tokens"),
        F.round(
            F.lit(1.0) - F.col("__nd").cast("double") / F.col("__n").cast("double"), 6
        ).alias("dup_token_fraction"),
        F.when(F.col("__n") > 1,
               F.round(
                   F.coalesce(F.col("__mc"), F.lit(0)).cast("double")
                   / (F.col("__n") - 1).cast("double"),
                   6,
               ))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_fraction"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
    n_shards: int = 256,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid end to end
    in key order and each is assigned to the training chunk its FIRST
    token lands in (chunk = floor(start_offset / budget)) — the
    standard packing when sequences are later split at token
    granularity, so a chunk boundary spills by at most one document.
    Output (id, token_count, shard, chunk); chunk ids are per-shard.

    Documents are sharded by key hash and packed WITHIN each shard: a
    global pack would serialize 100 TB through one cumulative sum,
    while the shard windows parallelize and the assignment stays a
    pure function of the key set (independent of partitioning). Each
    shard's running total is one window scan in one task — no
    driver-side loop.
    """
    if budget <= 0:
        raise ValueError(f"budget={budget} must be a positive token count")
    shard = hash_bucket(id_col, n_shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = df.select(
        F.col(id_col),
        F.col(token_count_col),
        shard,
        F.col(token_count_col).cast("long").alias("__tc"),
    )
    start_offset = F.sum("__tc").over(w) - F.col("__tc")
    return base.select(
        id_col,
        token_count_col,
        "shard",
        (start_offset / budget).cast("long").alias("chunk"),
    )


def lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 1.0,
) -> DataFrame:
    """Bigram language-model quality scoring (the CCNet recipe, public:
    Wenzek et al. 2020 score documents with an n-gram LM and filter on
    perplexity; KenLM is the usual trainer). The model here is trained
    on the corpus itself — self-perplexity flags statistical outliers
    (boilerplate, spam, wrong-language shards) without external model
    files.

    Laplace-smoothed bigram probability:
        P(w2 | w1) = (c(w1,w2) + α) / (c(w1) + α·V)
    with V = |vocab|; a document's score is the mean log-probability of
    its adjacent-token bigrams, and ppl = exp(−avg_logprob).

    Scale shape: model training is the two explode → groupBy count
    aggregations (map-side combinable, wire volume ~|vocab| per
    partition); scoring joins each document bigram to the model — an
    equi-join on the bigram key whose shuffle carries (doc_id, w1, w2)
    pairs, never the text. V rides in as a broadcast 1-row crossJoin
    (no driver action). At 100 TB, prune the model to top-K bigrams +
    a default-probability fallback and the scoring join broadcasts.

    Determinism: each bigram's log-term rounds to 9dp (ln differs by
    ≤1 ulp across engines — rounding makes the summed terms identical
    bit-for-bit), the mean rounds to 6dp, and ppl is computed FROM the
    rounded mean. Output: (id, n_bigrams, avg_logprob, ppl); documents
    with <2 tokens keep a row with n_bigrams=0 and NULL scores.
    """
    toks = F.split(F.col(text_col), " ")
    uni = (
        df.select(F.explode(toks).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab_n = uni.agg(F.count(F.lit(1)).alias("V"))
    bi = bigram_counts(df, text_col).withColumnRenamed("n", "c2")
    doc_bg = df.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # 9dp-rounded ln is engine-identical; converting to exact integer
    # nano-units makes the per-doc accumulation an order-free BIGINT
    # sum (a double avg's last ulp can flip the final 6dp round on
    # boundary docs — see quality.dsir_scores, same discipline)
    terms = (
        doc_bg.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            id_col,
            F.round(
                F.round(
                    F.log(
                        (F.col("c2") + F.lit(alpha))
                        / (F.col("c1") + F.lit(alpha) * F.col("V"))
                    ),
                    9,
                )
                * F.lit(1e9)
            )
            .cast("long")
            .alias("term_nanos"),
        )
    )
    scores = terms.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.sum("term_nanos").alias("__sn"),
    ).select(
        id_col,
        "n_bigrams",
        # exact mean in integral arithmetic (den = n·10^9); the old
        # round(sum/(n·1e9), 6) was the bug-#4 midpoint class AND its
        # double division lost ulps past 2^53 nanos
        round6_nanos_ratio_expr(
            "__sn", "CAST(n_bigrams AS BIGINT) * 1000000000"
        ).alias("avg_logprob"),
    )
    return (
        df.select(id_col)
        .join(scores, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_logprob",
            F.round(F.exp(-F.col("avg_logprob")), 4).alias("ppl"),
        )
    )


def keyword_search_and(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    top_n: int = 20,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Conjunctive (AND) keyword search over an inverted-index shape:
    docs containing EVERY query term, ranked by total term frequency.

    Relational posting-list intersection: explode tokens → keep only
    query terms (the filter lands BEFORE the shuffle, so the exploded
    stream shrinks to matching postings immediately) → per-(doc, term)
    tf → ``HAVING count(DISTINCT term) = |terms|`` is the intersection
    → score = Σtf. At scale the postings shuffle is O(matches), not
    O(tokens), and final top-n is TakeOrderedAndProject (no global
    window). Ties break on id for a total order.

    Output: (id, keep_cols..., n_terms_matched, score) — top_n rows by
    (score DESC, id).
    """
    from betl_spark.operators.text import tokens

    postings = (
        df.select(
            F.col(id_col), *(keep_cols or []), F.explode(tokens(text_col)).alias("__t")
        )
        .where(F.col("__t").isin(list(terms)))
        .groupBy(id_col, *(keep_cols or []), "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    return (
        postings.groupBy(id_col, *(keep_cols or []))
        .agg(
            F.countDistinct("__t").alias("n_terms_matched"),
            F.sum("__tf").alias("score"),
        )
        .where(F.col("n_terms_matched") == F.lit(len(set(terms))))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(top_n)
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str,
    text_col: str,
    ngram: int = 8,
) -> DataFrame:
    """Pairwise content overlap between corpus slices (sources, dumps,
    snapshots): word n-gram Jaccard per (group_a, group_b) — the
    lineage/contamination matrix a curation run consults before mixing
    sources (a near-1 cell means one slice is a re-crawl of another).

    Shape: ONE gram-extraction scan (a self-join formulation would
    tokenize and hash the corpus twice), distinct (group, md5(ngram))
    with map-side combine collapsing repeated boilerplate before the
    shuffle, then ONE aggregation keyed on the gram hash:
    ``collect_set(group)`` per gram — bounded by |groups| — expanded
    row-locally into its a<b pair combinations. Per-group gram counts
    fall out of the same grouped result (explode + re-count), so the
    extraction runs once and the corpus crosses the wire once. A
    universally-common gram expands to all-pairs — cost |groups|²,
    independent of corpus size, so the skew ceiling is the group
    count, not the data.

    Output: (group_a, group_b, inter, n_a, n_b, jaccard) for a < b,
    jaccard 6dp.
    """
    from betl_spark.operators.util import ensure_parallelism

    # tokenize ONCE into a real column: with the raw split() expression
    # inside the per-position lambda, interpreted HOFs re-run the split
    # per element — O(len²) per doc (see decontam.word_ngrams_col)
    toks = F.col("__tk")
    # short/NULL docs yield an empty gram array (sequence(1, n<1) would
    # otherwise step BACKWARD and fabricate grams — same guard as
    # dedup.char_shingles)
    positions = F.when(
        F.size(toks) >= F.lit(ngram),
        F.sequence(F.lit(1), F.size(toks) - F.lit(ngram - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        # one md5 per n-gram position: same one-split parallelism
        # guard as the rest of the hash-heavy map passes (no-op at
        # real scale)
        ensure_parallelism(df)
        .select(
            F.col(group_col).alias("__g"),
            F.split(F.col(text_col), " ").alias("__tk"),
        )
        .select(
            F.col("__g"),
            F.explode(
                F.transform(
                    positions,
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(toks, i, F.lit(ngram)))
                    ),
                )
            ).alias("__h"),
        )
        .distinct()
    )
    # one shuffle on the gram hash; each gram's group set is ≤ |groups|
    by_gram = grams.groupBy("__h").agg(
        F.array_sort(F.collect_set("__g")).alias("__gs")
    )
    sizes = (
        by_gram.select(F.explode("__gs").alias("__g"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # row-local a<b combination expansion: x paired with every LATER
    # element of the sorted set
    pair_combos = F.flatten(
        F.transform(
            F.col("__gs"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("__gs"), i + F.lit(2), F.size(F.col("__gs"))
                ),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    inter = (
        by_gram.where(F.size("__gs") >= 2)
        .select(F.explode(pair_combos).alias("__p"))
        .groupBy(
            F.col("__p.a").alias("group_a"), F.col("__p.b").alias("group_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("__g").alias("group_a"), F.col("n").alias("n_a"))),
            "group_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("__g").alias("group_b"), F.col("n").alias("n_b"))),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "inter",
            "n_a",
            "n_b",
            # integral 6dp rounding of the count ratio (non-dyadic
            # midpoint class — see util.round_ratio_expr)
            round_ratio_expr("inter", "n_a + n_b - inter", 6).alias(
                "jaccard"
            ),
        )
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """BM25-ranked retrieval (disjunctive — any matching term scores)
    over the same relational posting shape as ``keyword_search_and``:
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avglen)),
    idf = ln(1 + (N−df+0.5)/(df+0.5)) — the Robertson/Sparck-Jones
    formulation Lucene uses.

    One corpus scan computes (doc, len) and the exploded postings;
    term stats (df per term) are O(|terms|) and the corpus-level
    (N, Σlen) is a 1-row aggregate — both broadcast back, so the only
    data-sized shuffle is the posting groupBy. Cross-engine
    determinism: each (doc, term) partial score rounds to 9dp and
    converts to integer NANOS before the per-doc sum (double addition
    is order-dependent; integer addition is not — the lm_score
    pattern), and ranking ties break on the exact nano sum then id.

    Output: (id, keep_cols..., n_terms_matched, score), top_n by
    (score DESC, id); score 6dp.
    """
    from betl_spark.operators.text import tokens

    keep = list(keep_cols or [])
    base = df.select(
        F.col(id_col),
        *keep,
        F.size(tokens(text_col)).alias("__len"),
        tokens(text_col).alias("__toks"),
    )
    postings = (
        base.select(
            id_col, *keep, "__len", F.explode("__toks").alias("__t")
        )
        .where(F.col("__t").isin(list(terms)))
        .groupBy(id_col, *keep, "__len", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    corpus_stats = base.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("__len").alias("__sum_len"),
    )
    doc_freq = postings.groupBy("__t").agg(
        F.count(F.lit(1)).alias("__df")
    )
    n_docs = F.col("__n_docs").cast("double")
    avglen = F.col("__sum_len").cast("double") / n_docs
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (n_docs - F.col("__df") + F.lit(0.5))
            / (F.col("__df") + F.lit(0.5))
        ),
        9,
    )
    tf_d = F.col("__tf").cast("double")
    len_norm = F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * F.col("__len").cast("double") / avglen
    )
    w = idf * (tf_d * F.lit(float(k1 + 1.0))) / (tf_d + len_norm)
    scored = (
        postings.join(F.broadcast(doc_freq), "__t")
        .crossJoin(F.broadcast(corpus_stats))
        .select(
            id_col,
            *keep,
            "__t",
            F.round(F.round(w, 9) * F.lit(1e9)).cast("long").alias("__nanos"),
        )
    )
    return (
        scored.groupBy(id_col, *keep)
        .agg(
            F.countDistinct("__t").alias("n_terms_matched"),
            F.sum("__nanos").alias("__sn"),
        )
        .select(
            id_col,
            *keep,
            "n_terms_matched",
            round6_nanos_ratio_expr("__sn").alias("score"),
            "__sn",
        )
        .orderBy(F.col("__sn").desc(), F.col(id_col))
        .limit(top_n)
        .drop("__sn")
    )


def pmi_topk(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Top collocations by pointwise mutual information over adjacent
    token bigrams: pmi = ln(p(ab) / (p(a)·p(b))) with p(ab) = c_ab/N_b
    and p(a) = c_a/N_u — the corpus-analysis step behind multi-word
    vocabulary entries and tokenizer merge candidates.

    Unigram and bigram censuses are two map-side-combinable
    aggregations; the totals are 1-row aggregates broadcast back, and
    per-word counts join the bigram table twice (broadcast — the
    vocabulary is tiny next to the corpus; at web scale these become
    AQE-elected shuffle joins on the word key). The PMI ratio
    multiplies in DOUBLES throughout (the integer product c_ab·N_u²
    overflows int64 on a big corpus) — exact-rounded IEEE ops on exact
    integer inputs, one final ln, 6dp.

    Output: (w1, w2, c_bigram, c_w1, c_w2, pmi), ``c_bigram ≥
    min_count``, top_n by (pmi DESC, w1, w2).
    """
    from betl_spark.operators.text import tokens

    toks = df.select(tokens(text_col).alias("__ts"))
    uni = (
        toks.select(F.explode("__ts").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    bi_all = (
        toks.select(
            F.explode(
                F.when(
                    F.size("__ts") >= 2,
                    F.arrays_zip(
                        F.slice("__ts", 1, F.size("__ts") - 1).alias("w1"),
                        F.slice("__ts", 2, F.size("__ts") - 1).alias("w2"),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("__p")
        )
        .select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_bigram"))
    )
    bi = bi_all.where(F.col("c_bigram") >= F.lit(int(min_count)))
    totals_u = uni.agg(F.sum("c_w").alias("__nu"))
    # N_b is ALL adjacent pairs — normalizing by the filtered subset
    # would inflate every pmi by a constant ln factor (rank-preserving
    # but wrong as a probability; caught by the python-replay sweep)
    totals_b = bi_all.agg(F.sum("c_bigram").alias("__nb"))
    # + 0.0: signed-zero normalization (see quality.dsir_scores)
    pmi = F.round(
        F.log(
            (
                F.col("c_bigram").cast("double")
                * F.col("__nu").cast("double")
                * F.col("__nu").cast("double")
            )
            / (
                F.col("__nb").cast("double")
                * F.col("c_w1").cast("double")
                * F.col("c_w2").cast("double")
            )
        ),
        6,
    ) + F.lit(0.0)
    return (
        bi.join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_w1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_w2"))),
            "w2",
        )
        .crossJoin(F.broadcast(totals_u))
        .crossJoin(F.broadcast(totals_b))
        .select("w1", "w2", "c_bigram", "c_w1", "c_w2", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_n)
    )


def phrase_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    phrase: list[str],
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Exact positional phrase search (the quoted-query operator a
    corpus-curation UI runs): docs containing the tokens of ``phrase``
    CONTIGUOUSLY, in order — not merely co-occurring (what
    ``keyword_search_and`` answers).

    Classic positional-postings intersection, relationally: tokenize
    with positions (one ``posexplode``), keep only postings of the
    phrase's terms (the filter lands before any shuffle — the posting
    stream shrinks to O(phrase-term occurrences) immediately), anchor
    on term 0 and equi-join each later term j on (doc, anchor+j). All
    joins share the (doc, position) key space; a phrase of length k is
    k−1 co-partitioned joins over already-tiny posting sets, never a
    text rescan. Duplicate terms in the phrase are fine (each join is
    an independent posting lookup).

    Output: (id, keep_cols..., n_occurrences, first_pos 0-based) —
    one row per matching doc.
    """
    if not phrase or len(phrase) < 1:
        raise ValueError("phrase_search: phrase needs at least one token")
    from betl_spark.operators.text import tokens

    postings = df.select(
        F.col(id_col),
        *(keep_cols or []),
        F.posexplode(tokens(text_col)).alias("__pos", "__term"),
    ).where(F.col("__term").isin(list(set(phrase))))
    anchors = postings.where(F.col("__term") == phrase[0]).select(
        F.col(id_col), *(keep_cols or []), F.col("__pos").alias("__p0")
    )
    for j, term in enumerate(phrase[1:], start=1):
        nxt = postings.where(F.col("__term") == term).select(
            F.col(id_col).alias("__jid"),
            (F.col("__pos") - F.lit(j)).alias("__jp0"),
        )
        anchors = anchors.join(
            nxt,
            (F.col(id_col) == F.col("__jid"))
            & (F.col("__p0") == F.col("__jp0")),
            "left_semi",
        )
    return anchors.groupBy(id_col, *(keep_cols or [])).agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("__p0").alias("first_pos"),
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    word n-grams whose corpus-wide first appearance (minimum doc id)
    is this doc — "how much does this document add that no earlier
    document already said", the marginal-contribution screen a
    dedup-then-curate pipeline runs between exact dedup and semantic
    dedup (a doc of recycled n-grams scores ~0 even when no single
    source matches enough for near-dup removal).

    Shape — JOIN-FREE (round-11 rewrite): because word_ngrams is
    DISTINCT per doc, the doc-gram pairs never need to meet the census
    again:

        n_ngrams(doc) = count of the doc's gram rows
                        (one grouped COUNT on the doc id), and
        n_novel(doc)  = count of census rows whose min-doc IS the doc
                        (one grouped COUNT over the census on __first)

    — three aggregations and a |docs|-row join instead of the previous
    grams ⋈ census sort-merge join on the gram key. That join was the
    operator's scale hazard: a boilerplate gram shared by 30% of the
    corpus is a whale key, and AQE skew-split can NEVER rescue it —
    OptimizeSkewedJoin only matches SMJ children of shape
    Sort(ShuffleStage), while the census side here is
    Sort(HashAggregate(ShuffleStage)) (measured at sf1: a planted
    hot gram at 3.8x median partition bytes stayed skew=false under
    every AQE setting, including forceOptimizeSkewedJoin). The
    aggregation formulation dissolves the hot key instead: MIN and
    COUNT are map-side combinable, so the hot gram leaves each mapper
    as ONE partial row — reduce-side load is O(mappers), not O(docs
    sharing the gram) (SCALE.md "Round-11: hot-gram skew rehearsal").
    Docs with fewer than ``n`` tokens have no grams and report NULL
    novelty.

    Output: (id, n_ngrams, n_novel, novelty 6dp).
    """
    from betl_spark.operators.decontam import word_ngrams_col
    from betl_spark.operators.util import ensure_parallelism

    # n-gram construction is the CPU-heavy map work (same one-split
    # guard as decontam/minhash; no-op at real scale) — and it feeds
    # BOTH the census and the per-doc count. Tokenize into a real
    # column first: the text-column form re-splits per position inside
    # the lambda (O(len²) per doc — see word_ngrams_col).
    grams = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("__id"),
            F.split(F.col(text_col), " ").alias("__tk"),
        )
        .select(
            F.col("__id"),
            F.explode(word_ngrams_col("__tk", n)).alias("__g"),
        )
    )
    census = grams.groupBy("__g").agg(F.min("__id").alias("__first"))
    novel = census.groupBy("__first").agg(
        F.count(F.lit(1)).alias("n_novel")
    ).withColumnRenamed("__first", "__id")
    counts = grams.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_ngrams")
    )
    per_doc = counts.join(novel, "__id", "left").select(
        "__id",
        "n_ngrams",
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
    )
    out = df.select(F.col(id_col).alias("__id")).join(
        per_doc, "__id", "left"
    )
    from betl_spark.operators.util import round_ratio_expr

    # integer-ratio rounding: per-doc gram counts are SMALL
    # denominators, the demonstrated cross-engine round() midpoint
    # hazard (see util.round_ratio_expr)
    return out.select(
        F.col("__id").alias(id_col),
        F.coalesce(F.col("n_ngrams"), F.lit(0)).alias("n_ngrams"),
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
    ).select(
        id_col,
        "n_ngrams",
        "n_novel",
        F.when(
            F.col("n_ngrams") > 0,
            round_ratio_expr("n_novel", "n_ngrams", 6),
        ).alias("novelty"),
    )
