"""Round-8 regression suite: the round-7 advisor findings.

Each test pins one of the five ADVICE.md items so the agreed behavior
can't drift back:
1. degenerate-vector cell assignment is IDENTICAL between the max_by
   primitive (_assign_cells, used by the persisted index) and the
   row_number primitive (ivf_topk's inline rank) — NULL vectors go to
   the minimum cell_id in both, zero-norm vectors raise in both;
2. ivf_topk_indexed shares _probe_topk with the live path (refactor
   pinned by indexed==live output equality, already covered in
   test_round7_ops — here we pin the degenerate-input agreement);
3. stratified_fixed_n's NULL-key rule (never ranks) matches the
   oracle SQL's explicit filter;
4. cohort_retention bins pre-1970 (negative) timestamps identically
   in engine (pmod = floor-mod) and oracle (now explicit floor-mod);
5. write_bucketed rejects qualified table names and resolves the
   catalog location on overwrite.
"""

import os
import shutil

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- 1+2


def test_null_vector_assignment_agrees_across_primitives(spark):
    from betl_spark.operators.similarity import _assign_cells, _seed_cents

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 1.0]),
        (8, None),  # NULL embedding: all cell_sims NULL
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    cents = _seed_cents(df, "id", "vec", [0, 1])

    got = {
        r["id"]: r["cell_id"]
        for r in _assign_cells(df, "id", "vec", cents).collect()
    }
    # row_number replica of ivf_topk's inline rank-1 assignment
    from pyspark.sql import Window

    from betl_spark.operators.similarity import _cosine_pre, _norm

    rws = df.select("id", "vec", _norm(F.col("vec")).alias("_nrm"))
    aw = Window.partitionBy("id").orderBy(F.desc("cell_sim"), F.asc("cell_id"))
    rn = (
        rws.crossJoin(F.broadcast(cents))
        .select(
            "id",
            "cell_id",
            _cosine_pre(
                F.col("vec"), F.col("cv"), F.col("_nrm"), F.col("cn")
            ).alias("cell_sim"),
        )
        .withColumn("rk", F.row_number().over(aw))
        .filter("rk = 1")
    )
    want = {r["id"]: r["cell_id"] for r in rn.collect()}
    assert got == want
    # the NULL vector lands in the MINIMUM cell in both paths
    assert got[8] == 0


def test_zero_norm_vector_raises_in_both_primitives(spark):
    from betl_spark.operators.similarity import (
        _assign_cells,
        _seed_cents,
        ivf_topk,
    )

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (9, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    cents = _seed_cents(df, "id", "vec", [0, 1])
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _assign_cells(df, "id", "vec", cents).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        ivf_topk(df, "id", "vec", [1], [0, 1], k=2, nprobe=1).collect()


def test_indexed_probe_handles_null_vectors_like_live(spark, tmp_path):
    from betl_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 1.0]),
        (3, [0.5, 1.0]),
        (4, [0.9, 0.1]),
        (8, None),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    path = str(tmp_path / "ivf")
    build_ivf_index(df, "id", "vec", [0, 1], path)
    live = ivf_topk(df, "id", "vec", [2, 4], [0, 1], k=3, nprobe=2)
    idx = ivf_topk_indexed(spark, path, "id", "vec", [2, 4], k=3, nprobe=2)
    key = lambda r: (r["query_id"], r["rank"])
    lr = sorted((tuple(r) for r in live.collect()), key=lambda t: (t[0], t[3]))
    ir = sorted((tuple(r) for r in idx.collect()), key=lambda t: (t[0], t[3]))
    assert lr == ir


# ------------------------------------------------------------------ 3


def test_stratified_fixed_n_null_keys_match_oracle(spark):
    from betl_spark.operators.sampling import stratified_fixed_n

    rows = [(f"d{i}", "en") for i in range(5)] + [
        (None, "en"),
        (None, "fr"),          # stratum smaller than n with a NULL key
        ("x1", "fr"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    got = stratified_fixed_n(df, "doc_id", "lang", 3).toPandas()
    # NULL keys never rank (engine contract)
    assert got["doc_id"].notna().all()

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "lang"]))
    from betl_spark.contract.round7 import STRATIFIED_FIXED_N_SQL

    sql = STRATIFIED_FIXED_N_SQL.replace("<= 20", "<= 3")
    want = con.execute(sql).df()
    con.close()
    g = got.sort_values(["lang", "rank"]).reset_index(drop=True)
    w = want.sort_values(["lang", "rank"]).reset_index(drop=True)
    assert g[["doc_id", "lang", "rank"]].astype(str).values.tolist() == (
        w[["doc_id", "lang", "rank"]].astype(str).values.tolist()
    )


# ------------------------------------------------------------------ 4


@pytest.fixture(scope="module")
def negts_dir(tmp_path_factory):
    """sf0.001 copy with a slice of events shifted pre-1970."""
    dst = str(tmp_path_factory.mktemp("negts"))
    for f in os.listdir(SRC):
        shutil.copy(os.path.join(SRC, f), dst)
    ev = pd.read_parquet(f"{SRC}/events.parquet")
    ev.loc[ev.index[:50], "ts"] = ev["ts"].iloc[:50] - pd.Timedelta(days=365 * 60)
    ev.to_parquet(f"{dst}/events.parquet", index=False)
    return dst


def test_cohort_retention_negative_ts_matches_oracle(spark, negts_dir):
    from betl_spark.contract import ORACLES, QUERIES

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{negts_dir}/{t}.parquet')"
        )
    sdf = (
        QUERIES["cohort_retention"](spark, negts_dir)
        .toPandas()
        .sort_index(axis=1)
    )
    odf = con.execute(ORACLES["cohort_retention"]).df().sort_index(axis=1)
    con.close()
    assert list(sdf.columns) == list(odf.columns)
    s = sdf.sort_values(list(sdf.columns)).reset_index(drop=True)
    o = odf.sort_values(list(odf.columns)).reset_index(drop=True)
    assert s.shape == o.shape
    # negative cohorts must actually exist, or the test proves nothing
    assert (s["cohort_period"] < 0).any()
    for c in s.columns:
        assert (s[c].astype(str).values == o[c].astype(str).values).all(), c


# ---------------------------------------------- CC probe fold (r7 #3)


def test_checkpoint_with_checksum_is_one_job(spark):
    """The CC convergence checksum rides the checkpoint materialization
    as observe() metrics — exactly ONE Spark job per contraction round,
    no separate probe action (the r7 verdict's ask #3)."""
    from betl_spark.operators.dedup import _checkpoint_with_checksum

    df = spark.range(1000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out, (n, h) = _checkpoint_with_checksum(df)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before == 1
    assert n == 1000 and h is not None
    # the returned frame is the materialized checkpoint, ready to use
    assert out.count() == 1000


def test_cc_star_same_fixpoint_after_probe_fold(spark):
    """Distributed contraction (probe folded into the round job) still
    lands on the identical fixpoint as driver union-find and min-label
    propagation."""
    from betl_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 10)],
        "id_a long, id_b long",
    )
    star = duplicate_clusters(pairs, small_graph_edges=0)  # force distributed
    uf = duplicate_clusters(pairs)  # small-graph union-find path
    ml = duplicate_clusters(pairs, algorithm="min_label")
    key = lambda df: sorted((r["node"], r["cluster_id"]) for r in df.collect())
    assert key(star) == key(uf) == key(ml)


# ------------------------- single-level broadcast guard (r7 ask #4)


def _emb(spark, n=60):
    import math

    rows = [
        (
            i,
            [
                math.cos(i * 0.37 + d) + (0.01 * (i % 7))
                for d in range(4)
            ],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_guard_raises_past_broadcast_bound(spark, monkeypatch):
    from betl_spark.operators import similarity

    df = _emb(spark)
    cents = list(range(0, 24))
    monkeypatch.setattr(similarity, "MAX_BROADCAST_CENTROIDS", 8)
    with pytest.raises(ValueError, match="semantic_dedup_2level"):
        similarity.semantic_dedup(df, "vec_id", "embedding", cents)


# --------------------------------- classifier_train (r7 ask #5b)


def test_classifier_train_feeds_classifier_score(spark):
    """The CCNet/fastText loop closes: weights trained in-engine drop
    straight into classifier_score, and the trained model actually
    separates the classes it was trained on."""
    from betl_spark.operators.quality import classifier_score, classifier_train

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    w = classifier_train(
        docs, "doc_id", "text", F.col("lang") == F.lit("en"),
        buckets=256, iterations=4, lr=1.0,
    )
    bias = [r["w"] for r in w.filter("bucket = -1").collect()][0]
    scored = classifier_score(
        docs, "doc_id", "text", w.filter("bucket >= 0"),
        bias=bias, buckets=256,
    ).join(docs.select("doc_id", "lang"), "doc_id")
    rows = scored.groupBy(F.col("lang") == "en").agg(
        F.avg("score").alias("m")
    ).collect()
    means = {r[0]: r["m"] for r in rows}
    assert means[True] > means[False]


def test_classifier_train_loss_decreases(spark):
    """More full-batch iterations must not increase training logloss —
    the gradient step is actually descending."""
    import math

    from betl_spark.operators.quality import classifier_score, classifier_train

    docs = spark.read.parquet(f"{SRC}/documents.parquet")

    def logloss(iters):
        w = classifier_train(
            docs, "doc_id", "text", F.col("lang") == F.lit("en"),
            buckets=256, iterations=iters, lr=1.0,
        )
        bias = [r["w"] for r in w.filter("bucket = -1").collect()][0]
        scored = classifier_score(
            docs, "doc_id", "text", w.filter("bucket >= 0"),
            bias=bias, buckets=256,
        ).join(docs.select("doc_id", "lang"), "doc_id")
        rows = scored.select(
            "score", (F.col("lang") == "en").cast("int").alias("y")
        ).collect()
        eps = 1e-9
        return -sum(
            r["y"] * math.log(max(r["score"], eps))
            + (1 - r["y"]) * math.log(max(1 - r["score"], eps))
            for r in rows
        ) / len(rows)

    assert logloss(4) < logloss(1)


def test_classifier_train_iteration_never_shuffles_corpus(spark):
    """Plan contract for the per-iteration gradient job: the weight
    model rides the plan as a constant map literal — no join of any
    kind — and the only Exchange is the per-bucket partial aggregation
    (bounded), never a corpus-sized repartition."""
    from pyspark.sql import functions as F2

    from betl_spark.operators.sampling import hash_bucket

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    base = docs.select(
        "doc_id", F2.lit(1).alias("__y"), "text"
    )
    toks = base.select(
        "doc_id", "__y",
        F2.explode(F2.split(F2.col("text"), " ")).alias("__tok"),
    )
    per_bucket = (
        toks.select("doc_id", "__y", hash_bucket("__tok", 256).alias("bucket"))
        .groupBy("doc_id", "__y", "bucket").agg(F2.count(F2.lit(1)).alias("c"))
    )
    doc_feats = (
        per_bucket.groupBy("doc_id", "__y")
        .agg(F2.collect_list(F2.struct("bucket", "c")).alias("cs"))
        .select(
            "doc_id", "__y",
            F2.transform(
                "cs",
                lambda s: F2.struct(
                    s["bucket"].alias("bucket"), s["c"].alias("x9")
                ),
            ).alias("fs"),
        )
        .localCheckpoint(eager=True)
    )
    dec = "decimal(38,0)"
    wmap = F2.expr("str_to_map('3:5,7:-2', ',', ':')")
    S = F2.aggregate(
        "fs", F2.lit(0).cast(dec),
        lambda acc, s: acc + s["x9"].cast(dec) * F2.coalesce(
            F2.element_at(wmap, s["bucket"].cast("string")).cast("long"),
            F2.lit(0),
        ).cast(dec),
    )
    e9 = F2.floor(S.cast("double") / F2.lit(1e9) + F2.lit(0.5))
    grads = (
        doc_feats.select(e9.alias("e9"), F2.explode("fs").alias("s"))
        .groupBy(F2.col("s")["bucket"].alias("bucket"))
        .agg(F2.sum(F2.col("e9").cast(dec) * F2.col("s")["x9"].cast(dec)).alias("G"))
    )
    plan = grads._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert plan.count("Exchange") == 1  # the bounded per-bucket one


# --------------------------------- cross-group near-dups (r7 #5a)


def test_cross_group_near_dups_null_group_never_matches(spark):
    from betl_spark.operators.similarity import cross_group_near_dups

    emb = _emb(spark, 30)
    meta = spark.createDataFrame(
        [(i, None if i % 5 == 0 else ("en" if i % 2 == 0 else "fr"))
         for i in range(30)],
        "vec_id long, lang string",
    )
    out = cross_group_near_dups(
        emb, meta, "vec_id", "embedding", "lang", [0, 7, 19], threshold=0.0
    ).toPandas()
    # NULL-group rows pair with nothing (three-valued !=), and every
    # surviving pair crosses groups
    assert out["group_a"].notna().all() and out["group_b"].notna().all()
    assert (out["group_a"] != out["group_b"]).all()
    assert len(out) > 0


def test_cross_group_near_dups_plan_has_no_cartesian(spark):
    from betl_spark.operators.similarity import cross_group_near_dups

    emb = _emb(spark, 40)
    meta = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(40)],
        "vec_id long, lang string",
    )
    out = cross_group_near_dups(
        emb, meta, "vec_id", "embedding", "lang", [0, 7, 19]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only cross join is the bounded broadcast centroid model;
    # the pair stage is the cell equi-join, metadata joins are keyed
    assert "CartesianProduct" not in plan


def test_classifier_train_is_partitioning_invariant(spark):
    """The exact-integer accumulator discipline is the claim: weights
    must be bit-identical no matter how the corpus is partitioned
    (order-free DECIMAL sums, no float accumulation order anywhere)."""
    from betl_spark.operators.quality import classifier_train

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    out = lambda d: sorted(
        tuple(r)
        for r in classifier_train(
            d, "doc_id", "text", F.col("lang") == F.lit("en"),
            buckets=256, iterations=2, lr=0.5,
        ).collect()
    )
    assert out(docs.repartition(13)) == out(docs.coalesce(1))


# ---------------------------- weighted_fixed_n (Efraimidis–Spirakis)


def test_weighted_fixed_n_biases_toward_heavy_rows(spark):
    """E-S sanity: with weights 100:1, the n winners should be heavily
    dominated by the heavy rows (distribution property, deterministic
    here because the md5-derived uniforms are fixed)."""
    from betl_spark.operators.sampling import weighted_fixed_n

    rows = [(f"d{i}", "s", 100 if i < 50 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, "k string, st string, w long")
    out = weighted_fixed_n(df, "k", "st", "w", 20).toPandas()
    assert len(out) == 20
    heavy = sum(1 for k in out["k"] if int(k[1:]) < 50)
    # 50 heavy rows at weight 100 vs 450 light at weight 1: the heavy
    # pool should take the large majority of the 20 slots
    assert heavy >= 15


def test_weighted_fixed_n_null_and_nonpositive_never_rank(spark):
    from betl_spark.operators.sampling import weighted_fixed_n

    rows = [
        ("a", "s", 5),
        ("b", "s", 0),     # non-positive weight: never ranks
        ("c", "s", -3),    # negative: never ranks
        ("d", "s", None),  # NULL weight: never ranks
        (None, "s", 9),    # NULL key: never ranks
        ("e", "s", 2),
    ]
    df = spark.createDataFrame(rows, "k string, st string, w long")
    out = weighted_fixed_n(df, "k", "st", "w", 10).toPandas()
    assert sorted(out["k"]) == ["a", "e"]


# --------------------- repeated_substring_spans (ExactSubstr class)


def test_repeated_substring_spans_finds_planted_passage(spark):
    """A passage planted in two docs at DIFFERENT alignments must be
    found in both — the alignment-independence that content-defined
    (mod-p) selection buys over stride/grid sampling."""
    import random

    from betl_spark.operators.dedup import repeated_substring_spans

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    noise = lambda n: "".join(rng.choice(alpha) for _ in range(n))
    passage = "this exact passage is duplicated verbatim across documents " * 3
    docs = [
        (1, noise(37) + passage + noise(50)),   # odd offset
        (2, noise(120) + passage + noise(15)),  # different offset
        (3, noise(300)),                        # no repeat
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = repeated_substring_spans(df, "doc_id", "text", k=20, p=4).toPandas()
    by_doc = {d: g for d, g in out.groupby("doc_id")}
    assert 1 in by_doc and 2 in by_doc and 3 not in by_doc
    # the detected span covers (most of) the planted passage in both
    for doc_id, plant_start in ((1, 37), (2, 120)):
        g = by_doc[doc_id]
        cover = sum(
            max(0, min(r.span_end, plant_start + len(passage))
                - max(r.span_start, plant_start))
            for r in g.itertuples()
        )
        assert cover >= 0.5 * len(passage), (doc_id, cover, len(passage))


def test_substring_fingerprints_select_before_any_exchange(spark):
    """Plan contract for the fingerprint stage: the mod-p selection
    happens INSIDE the per-row array expression (a `filter(transform`
    HOF under the generator), so the stage is map-only — zero
    Exchanges — and the wire carries ~1/p fingerprints, never the full
    window stream or a replicated document text."""
    from betl_spark.operators.dedup import _substring_fingerprints

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    wins = _substring_fingerprints(docs, "doc_id", "text", 20, 4)
    plan = wins._jdf.queryExecution().executedPlan().toString()
    # the wire never carries the window stream: the only permitted
    # exchange is the round-robin parallelism guard on the RAW input
    # rows (round-14: ensure_parallelism on the one-split bench scan —
    # a no-op at real scale); a hash/range exchange would mean the
    # fingerprint or window stream itself is being shuffled
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "RoundRobinPartitioning" in line, line
    assert "Generate explode" in plan
    # the selection is part of the generator's input expression
    assert "filter(transform(sequence" in plan.replace(" ", "")


def test_trim_spans_splice_semantics(spark):
    from betl_spark.operators.dedup import trim_spans

    docs = spark.createDataFrame(
        [
            (1, "0123456789"),
            (2, "abcdef"),   # fully covered
            (3, "keepme"),   # no spans
            (4, None),       # NULL text, no spans
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [
            (1, 2, 5),   # cut "234"
            (1, 4, 7),   # overlaps the previous: extends cut to "23456"
            (2, 0, 6),
        ],
        "doc_id long, span_start long, span_end long",
    )
    out = {
        r["doc_id"]: (r["text_clean"], r["n_trimmed_chars"])
        for r in trim_spans(docs, spans, "doc_id", "text").collect()
    }
    assert out[1] == ("01789", 5)
    assert out[2] == ("", 6)
    assert out[3] == ("keepme", 0)
    assert out[4] == (None, 0)


# ---------------------- incremental semantic dedup (batch x index)


def test_semantic_dedup_incremental_semantics_and_pruning(spark, tmp_path):
    import re

    from betl_spark.operators import similarity
    from tests.test_plans import plan

    # corpus: ids 100..139; batch: 0 = copy of a corpus row (drops),
    # 1+2 = near-identical pair (one survives), 3 = unique (survives)
    corpus_rows = [
        (100 + i, [float((i * 7 + d * 3) % 11 - 5) for d in range(4)])
        for i in range(40)
    ]
    batch_rows = [
        (0, corpus_rows[5][1]),                      # exact corpus dup
        (1, [9.0, 1.0, 0.5, 0.25]),
        (2, [9.0, 1.0, 0.5, 0.2500001]),              # near-dup of 1
        (3, [-9.0, 8.0, -7.0, 6.0]),                  # unique
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "inc_ivf")
    similarity.build_ivf_index(
        corpus, "vec_id", "embedding", [100, 111, 122, 133], path
    )
    out = similarity.semantic_dedup_incremental(
        spark, batch, path, "vec_id", "embedding", threshold=0.95
    )
    survivors = sorted(r["vec_id"] for r in out.collect())
    assert survivors == [1, 3]
    # the corpus is never self-joined (no corpus-only cartesian; the
    # only cross join is the bounded broadcast centroid model)
    assert "CartesianProduct" not in plan(out)
    # corpus scan is partition-pruned to the batch's cells: the shared
    # _pruned_index_scan pushes the literal cell list as
    # PartitionFilters (its plan truncates behind the operator's
    # checkpoint, so pin the scan helper both paths use)
    scan = similarity._pruned_index_scan(spark, path, [100, 111])
    assert re.search(r"PartitionFilters: \[cell_id#\d+ IN \(", plan(scan))


def test_ivf_ingest_loop_two_days(spark, tmp_path):
    """The full ingest loop: day-1 batch dedupes against the corpus,
    survivors append to the index, and day-2 then drops a duplicate of
    a day-1 survivor — without any index rebuild."""
    from betl_spark.operators import similarity

    corpus_rows = [
        (100 + i, [float((i * 7 + d * 3) % 11 - 5) for d in range(4)])
        for i in range(40)
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "ingest_ivf")
    similarity.build_ivf_index(
        corpus, "vec_id", "embedding", [100, 111, 122, 133], path
    )
    day1 = spark.createDataFrame(
        [(1, [9.0, 1.0, 0.5, 0.25])], "vec_id long, embedding array<double>"
    )
    s1 = similarity.semantic_dedup_incremental(
        spark, day1, path, "vec_id", "embedding", threshold=0.95
    )
    assert [r["vec_id"] for r in s1.collect()] == [1]
    survivors = day1.join(s1.select("vec_id"), "vec_id")
    similarity.append_to_ivf_index(
        spark, survivors, path, "vec_id", "embedding"
    )
    day2 = spark.createDataFrame(
        [
            (2, [9.0, 1.0, 0.5, 0.2500001]),  # dup of day-1 survivor
            (3, [-9.0, 8.0, -7.0, 6.0]),      # genuinely new
        ],
        "vec_id long, embedding array<double>",
    )
    s2 = similarity.semantic_dedup_incremental(
        spark, day2, path, "vec_id", "embedding", threshold=0.95
    )
    assert sorted(r["vec_id"] for r in s2.collect()) == [3]


# ------------------------------------------------------------------ 5


def test_write_bucketed_rejects_qualified_names(spark):
    from betl_spark.io.writers import write_bucketed

    df = spark.range(3)
    with pytest.raises(ValueError, match="unqualified"):
        write_bucketed(df, "somedb.tbl", ["id"], 2)
    with pytest.raises(ValueError, match="unqualified"):
        write_bucketed(df, "`weird name`", ["id"], 2)


def test_write_bucketed_overwrite_uses_catalog_location(spark):
    from betl_spark.io.writers import write_bucketed

    name = "t_round8_bucketed_overwrite"
    try:
        write_bucketed(
            spark.range(10).withColumn("k", F.col("id") % 3), name, ["k"], 2
        )
        # second overwrite goes through the catalog-resolution branch
        write_bucketed(
            spark.range(5).withColumn("k", F.col("id") % 3), name, ["k"], 2
        )
        assert spark.table(name).count() == 5
        # still bucketed after overwrite
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        props = {r["col_name"]: r["data_type"] for r in desc}
        assert props.get("Num Buckets") == "2"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_lsh_multitable_reduces_to_single_and_improves_recall(spark):
    from betl_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = list(range(0, 500, 25))
    K = 5
    single = similarity.lsh_bucket_topk(
        emb, "vec_id", "embedding", qids, k=K, n_planes=4, dim=64
    )
    one_table = similarity.lsh_multitable_topk(
        emb, "vec_id", "embedding", qids, k=K, n_planes=4, dim=64,
        n_tables=1,
    )
    # n_tables=1 without multi-probe is EXACTLY the single-table plan
    assert sorted(map(tuple, single.collect())) == sorted(
        map(tuple, one_table.collect())
    )
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", qids, k=K)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(got.get(q, set()) & t) for q, t in truth.items()
        ) / sum(len(t) for t in truth.values())

    two = similarity.lsh_multitable_topk(
        emb, "vec_id", "embedding", qids, k=K, n_planes=4, dim=64,
        n_tables=2,
    )
    # OR-ed tables are a candidate superset: recall never decreases
    assert recall(two) >= recall(single)
    # each (query, neighbor) pair appears once despite multi-table hits
    rows = two.select("query_id", "neighbor_id").collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_lsh_multi_probe_improves_recall_never_duplicates(spark):
    from betl_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = list(range(0, 500, 25))
    K = 5
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", qids, k=K)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(got.get(q, set()) & t) for q, t in truth.items()
        ) / sum(len(t) for t in truth.values())

    single = similarity.lsh_bucket_topk(
        emb, "vec_id", "embedding", qids, k=K, n_planes=4, dim=64
    )
    multi = similarity.lsh_bucket_topk(
        emb, "vec_id", "embedding", qids, k=K, n_planes=4, dim=64,
        multi_probe=True,
    )
    # the multi-probe candidate set is a strict superset per query, so
    # recall can only go up
    assert recall(multi) >= recall(single)
    # and each (query, neighbor) appears at most once (corpus rows live
    # in exactly one bucket)
    rows = multi.select("query_id", "neighbor_id").collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_sampling_internal_columns_never_clobber(spark):
    from betl_spark.operators.sampling import stratified_fixed_n, weighted_fixed_n

    df1 = spark.createDataFrame([("a", "s", 1)], "k string, st string, __h long")
    with pytest.raises(ValueError, match="__h"):
        stratified_fixed_n(df1, "k", "st", 1)
    df2 = spark.createDataFrame(
        [("a", "s", 1, 2)], "k string, st string, w long, __pri long"
    )
    with pytest.raises(ValueError, match="__pri"):
        weighted_fixed_n(df2, "k", "st", "w", 1)
