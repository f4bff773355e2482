"""Round-7 operator tests: two-level semantic dedup, survivor policy,
and the centroid-broadcast guard."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"
SEEDS = [100, 200, 300, 400, 500, 600, 700, 800]
COARSE = [100, 400, 700]


def test_semantic_dedup_centroid_guard(spark):
    from betl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="single-level broadcast bound"):
        similarity.semantic_dedup(
            emb, "vec_id", "embedding",
            list(range(similarity.MAX_BROADCAST_CENTROIDS + 1)),
        )


def test_semantic_dedup_2level_coarse_subset_check(spark):
    from betl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="coarse_ids"):
        similarity.semantic_dedup_2level(
            emb, "vec_id", "embedding", SEEDS, [100, 999]
        )


def test_semantic_dedup_survivor_policies_same_rate(spark):
    # the survivor flag changes WHICH row survives, never how many;
    # every cluster loses all but one member under both policies
    from betl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    min_id = similarity.semantic_dedup(
        emb, "vec_id", "embedding", SEEDS, threshold=0.3
    ).collect()
    medoid = similarity.semantic_dedup(
        emb, "vec_id", "embedding", SEEDS, threshold=0.3,
        survivor="min_centroid_sim",
    ).collect()
    assert len(min_id) == len(medoid)
    # unpaired rows are identical under both policies; survivors of
    # real clusters may differ
    with pytest.raises(ValueError, match="survivor"):
        similarity.semantic_dedup(
            emb, "vec_id", "embedding", SEEDS, survivor="bogus"
        ).collect()


def test_semantic_dedup_medoid_picks_least_similar(spark):
    # 3 near-identical vectors form one cluster; the survivor must be
    # the one with the LOWEST cosine to the trained centroid — vector
    # 12 is tilted furthest from the cluster mean, so it survives even
    # though min_id would keep 10
    from betl_spark.operators import similarity

    rows = [
        (10, [1.0, 0.0, 0.0, 0.0]),
        (11, [0.99, 0.14, 0.0, 0.0]),
        (12, [0.9, 0.43, 0.0, 0.0]),
        (20, [0.0, 0.0, 1.0, 0.0]),  # lone row in a far cell
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id
        for r in similarity.semantic_dedup(
            df, "vec_id", "embedding", [10, 20], threshold=0.9,
            survivor="min_centroid_sim",
        ).collect()
    }
    assert 20 in got and len(got) == 2
    assert got - {20} == {12}
    min_id = {
        r.vec_id
        for r in similarity.semantic_dedup(
            df, "vec_id", "embedding", [10, 20], threshold=0.9
        ).collect()
    }
    assert min_id - {20} == {10}


def test_semantic_dedup_2level_has_no_all_pairs_join(spark):
    """Same plan contract as single-level semantic_dedup: the only
    non-equi joins are broadcast (the bounded coarse-model argmaxes);
    pair generation and the fine-cell resolution are real equi-joins,
    so nothing all-pairs leaks in at any level."""
    import re
    from tests.test_plans import plan
    from betl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = similarity.semantic_dedup_2level(
        emb, "vec_id", "embedding", SEEDS, COARSE, threshold=0.3
    )
    p = plan(df)
    assert "CartesianProduct" not in p
    nlj = re.findall(r"\(\d+\) (\w*NestedLoopJoin)", p)
    assert all(j == "BroadcastNestedLoopJoin" for j in nlj)
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p)


def test_boilerplate_line_removal_semantics(spark):
    from betl_spark.operators import dedup

    rows = [
        # site A: header repeats in 3 docs (>= min_docs), bodies unique
        (1, "A", "HDR\nbody one\nFTR"),
        (2, "A", "HDR\nbody two\nFTR"),
        (3, "A", "HDR\nbody three\nFTR"),
        # doc of ONLY boilerplate must survive as ''
        (4, "A", "HDR\nFTR"),
        # site B: same header text but only 1 doc -> NOT boilerplate there
        (5, "B", "HDR\nbody five"),
        (6, "B", None),  # NULL text -> '' (one empty line, kept)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.doc_id: r
        for r in dedup.boilerplate_line_removal(
            df, "doc_id", "text", group_col="source", min_docs=3
        ).collect()
    }
    assert out[1].text == "body one" and out[1].n_lines_dropped == 2
    assert out[2].text == "body two" and out[2].n_lines_kept == 1
    assert out[4].text == "" and out[4].n_lines_kept == 0
    assert out[4].n_lines_dropped == 2
    # group isolation: B's lone HDR survives
    assert out[5].text == "HDR\nbody five" and out[5].n_lines_dropped == 0
    assert out[6].text == "" and out[6].n_lines_kept == 1
    # order preservation with an interleaved boilerplate line
    df2 = spark.createDataFrame(
        [(i, "C", f"u{i}a\nBP\nu{i}b") for i in range(5)],
        "doc_id long, source string, text string",
    )
    out2 = dedup.boilerplate_line_removal(
        df2, "doc_id", "text", group_col="source", min_docs=5
    ).collect()
    assert all(r.text == f"u{r.doc_id}a\nu{r.doc_id}b" for r in out2)


def test_boilerplate_min_doc_frac_threshold(spark):
    from betl_spark.operators import dedup

    # 10 docs; 'X' in 4 of them: frac 0.5 -> threshold 5 -> kept;
    # frac 0.3 -> threshold 3 -> stripped
    rows = [(i, ("X\n" if i < 4 else "") + f"u{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    keep = dedup.boilerplate_line_removal(
        df, "doc_id", "text", min_docs=1, min_doc_frac=0.5
    )
    strip = dedup.boilerplate_line_removal(
        df, "doc_id", "text", min_docs=1, min_doc_frac=0.3
    )
    assert sum(r.n_lines_dropped for r in keep.collect()) == 0
    assert sum(r.n_lines_dropped for r in strip.collect()) == 4


def test_mixture_with_repeats_epoch_math(spark):
    from betl_spark.operators import sampling

    # stratum a: 10 docs, weight demands 2.5 epochs (uncapped);
    # stratum b: 10 docs, demand exceeds the 3-epoch cap;
    # stratum c: no weight -> dropped
    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.mixture_with_repeats(
        df, "doc_id", "lang", {"a": 0.25, "b": 0.75}, budget=100,
        max_epochs=3.0,
    )
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # a: epochs = min(3, .25*100/10) = 2.5 -> 10*2 + ~half extra
    assert 20 <= per["a"] <= 30
    # b: epochs = min(3, .75*100/10) = 3.0 exactly -> every doc x3
    assert per["b"] == 30
    assert "c" not in per
    # epochs are 1..n and deterministic across runs
    again = sampling.mixture_with_repeats(
        df, "doc_id", "lang", {"a": 0.25, "b": 0.75}, budget=100,
        max_epochs=3.0,
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
    assert out.agg(F.min("epoch"), F.max("epoch")).first() == (1, 3)


def test_mixture_with_repeats_map_only_plan(spark):
    # after the O(strata) rate collect, the corpus-side plan is a pure
    # explode projection: no join, no window, no shuffle
    from tests.test_plans import n_exchanges, plan
    from betl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = sampling.mixture_with_repeats(
        docs, "doc_id", "lang", {"en": 0.6, "fr": 0.4}, budget=10000,
        weight_col="n_chars",
    )
    p = plan(out)
    assert "Join" not in p and "Window" not in p
    assert n_exchanges(p) == 0, p


def test_bench_anchor_queries_still_registered():
    # the cross-round normalization subset must survive renames: every
    # anchor query name has to stay a registered contract query
    import bench
    from betl_spark.contract import QUERIES

    names = (
        set(bench._R14_TPCH_ANCHOR)
        | set(bench._R14_COMPOSITE_ANCHOR)
        | bench._R14_INLINED
    )
    missing = sorted(q for q in names if q not in QUERIES)
    assert missing == [], missing


def test_stratified_fixed_n_exact_counts_and_determinism(spark):
    from betl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    out = sampling.stratified_fixed_n(docs, "doc_id", "lang", 7)
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # exactly 7 per stratum (or the whole stratum when smaller)
    assert per == {s: min(7, n) for s, n in sizes.items()}
    # deterministic: same membership on re-run and under repartition
    a = sorted((r.doc_id, r.lang) for r in out.collect())
    b = sorted(
        (r.doc_id, r.lang)
        for r in sampling.stratified_fixed_n(
            docs.repartition(13), "doc_id", "lang", 7
        ).collect()
    )
    assert a == b


def test_stratified_fixed_n_partial_group_limit_plan(spark):
    # the window must plan as WindowGroupLimit with a map-side partial
    # pass — never a whole-stratum sort on one reducer
    from tests.test_plans import plan
    from betl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    p = plan(sampling.stratified_fixed_n(docs, "doc_id", "lang", 5))
    assert "WindowGroupLimit" in p
    assert "Partial" in p, p


def test_semantic_decontaminate_removes_bench_and_neighbors(spark):
    from betl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") < 10)
    out = similarity.semantic_decontaminate(
        emb, bench, "vec_id", "embedding", SEEDS, threshold=0.3
    )
    ids = {r.vec_id for r in out.collect()}
    # the benchmark rows themselves are self-contaminated (cosine 1.0)
    assert not (ids & set(range(10)))
    assert len(ids) < emb.count()
    # a disjoint benchmark far from everything removes only itself
    out2 = similarity.semantic_decontaminate(
        emb, bench, "vec_id", "embedding", SEEDS, threshold=1.1
    )
    assert out2.count() == emb.count()  # nothing reaches cosine > 1


def test_ivf_index_probe_matches_live_and_prunes(spark, tmp_path):
    from tests.test_plans import plan
    from betl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, "vec_id", "embedding", SEEDS, path)
    idx = similarity.ivf_topk_indexed(
        spark, path, "vec_id", "embedding", list(range(10)), k=5, nprobe=2
    )
    live = similarity.ivf_topk(
        emb, "vec_id", "embedding", list(range(10)),
        centroid_ids=SEEDS, k=5, nprobe=2,
    )
    assert sorted(map(tuple, idx.collect())) == sorted(map(tuple, live.collect()))
    # the candidate scan prunes at the FILE level: literal cell ids in
    # PartitionFilters (not just a row filter after reading everything)
    p = plan(idx)
    import re
    assert re.search(r"PartitionFilters: \[cell_id#\d+ IN \(", p), p


def test_boilerplate_strips_inside_null_group(spark):
    # NULL group values must still form a group (equi-joins never match
    # NULL keys, so without the internal sentinel this boilerplate
    # would silently survive)
    from betl_spark.operators import dedup

    rows = [(i, None, f"BP\nu{i}") for i in range(5)] + [
        (9, "A", "BP\nu9")  # BP appears once in group A -> kept there
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.doc_id: r
        for r in dedup.boilerplate_line_removal(
            df, "doc_id", "text", group_col="source", min_docs=5
        ).collect()
    }
    assert all(out[i].text == f"u{i}" for i in range(5))
    assert out[9].text == "BP\nu9"


def test_deterministic_shuffle_is_a_permutation(spark):
    from betl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    n = docs.count()
    out = sampling.deterministic_shuffle(docs, "doc_id", 8, seed=1)
    rows = out.collect()
    assert len(rows) == n
    # positions are dense 1..|shard| within every shard
    per = {}
    for r in rows:
        per.setdefault(r.shard, []).append(r.position)
    for shard, ps in per.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # pure function of (key, seed): same under repartition, differs by seed
    again = sampling.deterministic_shuffle(
        docs.repartition(11), "doc_id", 8, seed=1
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    other = sampling.deterministic_shuffle(docs, "doc_id", 8, seed=2).collect()
    assert sorted(map(tuple, rows)) != sorted(map(tuple, other))


def test_duplicate_cluster_sizes_histogram(spark):
    from betl_spark.operators import dedup

    # chain of 3, a pair, another pair -> one 3-cluster + two 2-clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    got = {
        r.cluster_size: r.n_clusters
        for r in dedup.duplicate_cluster_sizes(pairs).collect()
    }
    assert got == {3: 1, 2: 2}


def test_mixture_with_repeats_null_key_gets_full_epochs(spark):
    # NULL keys can't hash-qualify for the partial extra epoch, but they
    # must still repeat floor(epochs) times (the oracle's CASE yields 0
    # for the NULL comparison, never NULL row counts)
    from betl_spark.operators import sampling

    df = spark.createDataFrame(
        [(None, "a"), (1, "a"), (2, "a"), (3, "a")],
        "doc_id long, lang string",
    )
    # epochs = min(4, 0.5*16/4) = 2.0 exactly -> everyone repeats twice
    out = sampling.mixture_with_repeats(
        df, "doc_id", "lang", {"a": 0.5}, budget=16, max_epochs=4.0
    )
    per = {r[0]: r[1] for r in out.groupBy("doc_id").count().collect()}
    assert per == {None: 2, 1: 2, 2: 2, 3: 2}
