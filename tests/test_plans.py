"""Plan contracts: lock in the physical-plan properties the 100 TB
design depends on, so a refactor that silently de-optimizes an operator
(adds a shuffle, drops a broadcast, loses column pruning, reintroduces
a Python UDF) fails CI — not a cluster bill.

Each assertion matches `.explain` output, the same audit the SCALE.md
notes were written from."""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def n_exchanges(p: str) -> int:
    # count plan NODES ("(4) Exchange" detail headers), not tree echoes
    return len(re.findall(r"\(\d+\) Exchange", p))


def test_text_operators_are_zero_shuffle_pruned_projections(spark):
    from betl_spark.operators import text

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        text.lang_id(docs, "doc_id", "text"),
        text.text_quality(docs, "doc_id", "text"),
        text.quality_filter(docs, "doc_id", "text"),
        text.doc_fingerprint(docs, "doc_id", "text"),
    ):
        p = plan(df)
        assert n_exchanges(p) == 0, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        # column pruning reaches the scan: only (doc_id, text) read
        m = re.search(r"ReadSchema: struct<([^>]*)>", p)
        assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
            "doc_id",
            "text",
        }, p


def test_sampling_is_zero_shuffle(spark):
    from betl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "source")
    assert n_exchanges(plan(sampling.hash_sample(docs, "doc_id", 0.2))) == 0
    assert (
        n_exchanges(
            plan(
                sampling.stratified_hash_sample(
                    docs, "doc_id", "source", {"src0": 0.5}
                )
            )
        )
        == 0
    )
    assert n_exchanges(plan(sampling.deterministic_split(docs, "doc_id"))) == 0


def test_fact_fk_resolution_broadcasts_every_dimension(spark):
    from betl_spark.defaults.load import assign_surrogate_keys, resolve_fact_fks, sk_nk_map

    customer = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").cast("string").alias("nk_customer")
    )
    dim = assign_surrogate_keys(customer, "sk_customer", ["nk_customer"])
    m = sk_nk_map(dim, "sk_customer", ["nk_customer"])
    fact = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").cast("string").alias("nk_customer")
    )
    p = plan(resolve_fact_fks(fact, {"fk_customer": m}))
    assert "BroadcastHashJoin" in p, p
    # the fact side itself is never exchanged for the FK join
    assert "SortMergeJoin" not in p, p


def test_lsh_candidate_join_shuffles_on_bucket_key_only(spark):
    from betl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan(
        similarity.embedding_near_dups(
            emb, "vec_id", "embedding", 0.2, n_planes=4, dim=64
        )
    )
    # bucketed path: an equi-join on the bucket, not a cartesian product
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # all-pairs fallback IS the cartesian baseline
    p_all = plan(similarity.embedding_near_dups(emb, "vec_id", "embedding", 0.2))
    assert "CartesianProduct" in p_all or "BroadcastNestedLoopJoin" in p_all, p_all


def test_filter_pushdown_reaches_parquet_scan(spark):
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    p = plan(
        lineitem.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    )
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_quantity", p), p


def test_exact_dedup_never_moves_payload(spark):
    from betl_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(dedup.exact_dedup(docs, ["text"], "doc_id"))
    # exactly one exchange (the groupBy), preceded by partial_ agg
    assert n_exchanges(p) == 1, p
    assert "partial_" in p, p


def test_ngram_jaccard_contract_query_has_no_cross_product(spark):
    """The contract query must exercise the candidates-then-verify
    formulation: LSH bucket equi-joins end-to-end, never the quadratic
    all-pairs fallback."""
    from betl_spark.contract.scale import q_ngram_jaccard

    p = plan(q_ngram_jaccard(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_sk_engine_has_no_single_partition_exchange(spark):
    """The hardest-won plan property of the SK engine: surrogate keys
    are assigned with a range-partition + Spark's distributed sequence
    — never a global window that funnels the dimension through one
    reducer (an Exchange SinglePartition node)."""
    from betl_spark.defaults.load import assign_surrogate_keys

    # the range exchange takes the session's shuffle partitions (4 in
    # tests), not the input's, so even one-file sf0.001 shows the
    # multi-partition shape a cluster would run
    customer = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").cast("string").alias("nk_customer"),
        F.col("c_name").alias("attr_name"),
    )
    p = plan(assign_surrogate_keys(customer, "sk_customer", ["nk_customer"]))
    assert "SinglePartition" not in p, p
    assert "rangepartitioning" in p.lower(), p
    # the SK is a projection over Spark's own sequence, which releases
    # its cached input when the query ends; a cache in the plan or a
    # re-window by partition id would add work after the range shuffle.
    # Fails loudly if a PySpark upgrade drops the internal function.
    assert "AttachDistributedSequence" in p, p
    assert "InMemoryRelation" not in p, p
    assert "Window" not in p, p


def test_temporal_joins_avoid_cross_products(spark):
    from betl_spark.operators.asof import asof_join
    from betl_spark.operators.ranges import interval_join
    from pyspark.sql import functions as F

    from betl_spark.contract.common import ts_micros

    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev = ev.withColumn("ts", ts_micros(ev))
    left = ev.select("event_id", "user_id", "ts")
    right = ev.groupBy("user_id", "ts").agg(F.max("value").alias("v"))
    p = plan(asof_join(left, right, ["user_id"], "ts", "ts", ["v"]))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Window" in p, p

    points = ev.select("event_id", "ts")
    iv = ev.groupBy("event_type").agg(F.min("ts").alias("s")).withColumn(
        "e", F.col("s") + 1000000
    )
    p2 = plan(interval_join(points, iv, "ts", "s", "e", bucket_width=500000))
    # the bucketed formulation is an equi-join on the slot
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2, p2


def test_vocab_coverage_has_no_single_partition_window(spark):
    """The vocabulary rank/cumsum must run through the banded two-pass
    pattern (ranked_running_sum): a partition-less Window here funnels
    the whole vocabulary through ONE sort task — bounded by max_vocab
    today, fatal on an uncapped 10^8-token open vocabulary."""
    from betl_spark.operators.corpus import vocab_coverage

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(vocab_coverage(docs, "doc_id", "text"))
    # every Window node must be keyed by the band column, never global
    windows = list(re.finditer(r"\(\d+\) Window", p))
    assert windows, p
    for m in windows:
        tail = p[m.start() : m.start() + 500]
        assert "windowspecdefinition(__band" in tail, tail
    # the only SinglePartition exchange allowed is the scalar grand-total
    # aggregate's final one-row reduce (Input is the 1-column sum buffer)
    for m in re.finditer(r"\(\d+\) Exchange\n\s*Input \[(\d+)\][^\n]*\n\s*Arguments: ([^,\n]+)", p):
        if m.group(2).strip() == "SinglePartition":
            assert m.group(1) == "1", m.group(0)


def test_mixture_sample_filter_is_join_free_projection(spark):
    """After the O(strata) rate derivation, the corpus-side membership
    filter must be a literal CASE threshold over the key hash — no
    join, no window, nothing that shuffles the corpus."""
    from betl_spark.operators.sampling import mixture_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    p = plan(mixture_sample(docs, "doc_id", "lang", {"en": 0.6, "fr": 0.4}))
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert n_exchanges(p) == 0, p


def test_semantic_dedup_has_no_all_pairs_join(spark):
    """SemDeDup's point is that pair generation is an EQUI-join on
    cell_id (candidates shrink n² -> Σ n_cell²). The only permitted
    non-equi join is the broadcast-centroid argmax (bounded small
    side); a CartesianProduct or a non-broadcast nested loop anywhere
    means the all-pairs join leaked back in."""
    from betl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = similarity.semantic_dedup(
        emb, "vec_id", "embedding", [100, 200, 300, 400], threshold=0.3
    )
    p = plan(df)
    assert "CartesianProduct" not in p
    # every nested-loop join must be broadcast (the centroid argmax)
    assert re.findall(r"\(\d+\) CartesianProduct", p) == []
    nlj = re.findall(r"\(\d+\) (\w*NestedLoopJoin)", p)
    assert all(j == "BroadcastNestedLoopJoin" for j in nlj)
    # the pair join is a real equi-join keyed on cell_id
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p)


def test_bucketed_ref_exact_dedup_has_no_ref_side_exchange(spark):
    """The incremental-dedup storage contract: a reference corpus
    stored BUCKETED by its content-hash column joins without a
    ref-side Exchange — the planner reads the bucket layout for both
    the distinct and the anti join, so only the (small) ingest batch
    shuffles. At 100 TB the corpus-side exchange is the job; this plan
    property is what the one-time bucketed write buys every ingest."""
    from betl_spark.io.writers import write_bucketed
    from betl_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ref_src = docs.filter("doc_id < 300")
    write_bucketed(
        ref_src.select(
            "doc_id", dedup.content_hash(["text"]).alias("content_hash")
        ),
        "t_plans_ref_bucketed",
        ["content_hash"],
        8,
        sort_cols=["content_hash"],
    )
    batch = docs.filter("doc_id >= 300").select("doc_id", "text")
    bucketed = dedup.exact_dedup_against(
        batch,
        spark.table("t_plans_ref_bucketed"),
        "doc_id",
        ["text"],
        ref_hash_col="content_hash",
    )
    plain = dedup.exact_dedup_against(batch, ref_src, "doc_id", ["text"])
    # disable auto-broadcast for the plan compare: at test scale the
    # tiny ref side broadcasts, which hides the very exchange the
    # bucketing contract is about (at 100 TB the corpus can't broadcast)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pb, pp = plan(bucketed), plan(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the bucketed layout is actually read (not planned around) ...
    assert "Bucketed: true" in pb and "SelectedBucketsCount" in pb
    # ... and the anti join's REF side no longer exchanges: the plain
    # plan shuffles the content hash twice (batch side + ref distinct),
    # the bucketed plan only once (batch side). The Bloom bucket-set
    # aggregates keep their exchanges — bounded output, different key.
    def ch_exchanges(p: str) -> int:
        return len(
            re.findall(
                r"\(\d+\) Exchange\nInput[^\n]*\nArguments: hashpartitioning\(__ch",
                p,
            )
        )

    assert ch_exchanges(pp) == 2, pp
    assert ch_exchanges(pb) == 1, pb
    assert n_exchanges(pb) < n_exchanges(pp)
    # layout must never change the answer
    assert sorted(r.doc_id for r in bucketed.collect()) == sorted(
        r.doc_id for r in plain.collect()
    )


def test_semantic_decontaminate_is_batch_vs_bench_only(spark):
    """Embedding decontamination must never pair corpus x corpus: the
    only joins are the broadcast centroid argmaxes, the broadcast
    bench-candidate join on cell_id, and the anti join removing
    contaminated ids. A CartesianProduct or non-broadcast nested loop
    means all-pairs leaked in."""
    from betl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") < 10)
    df = similarity.semantic_decontaminate(
        emb, bench, "vec_id", "embedding", [100, 200, 300, 400], threshold=0.3
    )
    p = plan(df)
    assert "CartesianProduct" not in p
    nlj = re.findall(r"\(\d+\) (\w*NestedLoopJoin)", p)
    assert all(j == "BroadcastNestedLoopJoin" for j in nlj)


def test_boilerplate_removal_has_no_cartesian(spark):
    from betl_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(
        dedup.boilerplate_line_removal(
            docs, "doc_id", "text", group_col="source", min_docs=5
        )
    )
    assert "CartesianProduct" not in p
    # frequent-set and group-size joins are equi-joins / broadcasts
    nlj = re.findall(r"\(\d+\) (\w*NestedLoopJoin)", p)
    assert all(j == "BroadcastNestedLoopJoin" for j in nlj)


def test_stateful_running_totals_is_a_native_state_store_aggregate(spark):
    """Per-user running totals stay in the JVM: a native streaming
    aggregate whose state operator is StateStoreSave, with no Python
    state operator and no Python eval node."""
    from betl_spark.streaming import event_stream, stateful_running_totals

    p = plan(stateful_running_totals(event_stream(spark, f"{SF}/events.parquet")))
    assert "StateStoreSave" in p, p
    assert "FlatMapGroupsInPandasWithState" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_round9_queries_have_no_cartesian_or_python_eval(spark):
    """The round-9 breadth family: no cross products (the 1-row
    bounds/totals crossJoins plan as broadcast nested loops over ONE
    row — cheap by construction — but a real CartesianProduct is a
    bug), and no row-at-a-time Python in any hot path (the streaming
    scorer's FlatMapGroupsInPandasWithState is Arrow-batched and
    excluded by design)."""
    from betl_spark.contract.round9 import (
        q_bm25_topk,
        q_char_diversity,
        q_fuzzy_dedup_part_names,
        q_keyword_search_and,
        q_resample_gapfill,
        q_rolling_active_users,
        q_rolling_zscore,
        q_source_overlap_matrix,
        q_time_weighted_avg,
        q_token_pmi_topk,
        q_winsorized_stats,
    )

    for q in (
        q_bm25_topk,
        q_char_diversity,
        q_fuzzy_dedup_part_names,
        q_keyword_search_and,
        q_resample_gapfill,
        q_rolling_active_users,
        q_rolling_zscore,
        q_source_overlap_matrix,
        q_time_weighted_avg,
        q_token_pmi_topk,
        q_winsorized_stats,
    ):
        p = plan(q(spark, SF))
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p, p


def test_rolling_zscore_banded_plan_shape(spark):
    # the banded strategy must not smuggle in a real cartesian or a
    # Python node, and every Window it plans must be partitioned —
    # the whole point is that NO per-key serialized frame remains
    # except the |keys|×bands offset cumulation
    from betl_spark.operators.timeseries import rolling_zscore

    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev = ev.select(
        "event_type",
        (F.unix_timestamp("ts") * 1_000_000).alias("__ts_us"),
        "event_id",
        "value",
    )
    p = plan(
        rolling_zscore(
            ev, "event_type", "__ts_us", "event_id", "value", n_bands=32
        )
    )
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p
    windows = list(re.finditer(r"\(\d+\) Window", p))
    assert windows, p
    for m in windows:
        seg = p[m.start() : m.start() + 500]
        assert "windowspecdefinition(__p" in seg, p


def test_winsorized_stats_broadcasts_percentile_table(spark):
    # the O(groups) percentile table must broadcast back onto the big
    # side — a second shuffle of the raw data would double the job
    from betl_spark.operators.stats import winsorized_stats

    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = plan(winsorized_stats(ev, ["event_type"], "value"))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_equidepth_histogram_has_no_single_partition_exchange(spark):
    # global rank rides the banded two-pass machinery: range partition
    # + per-band windows, never Exchange SinglePartition before a sort
    from betl_spark.operators.stats import equidepth_histogram

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(equidepth_histogram(docs, "n_chars", "doc_id"))
    # the rank comes from per-band windows over the FROZEN banded rows
    # (ranked_running_sum localCheckpoints the range partitioning —
    # the plan reads ExistingRDD; a re-planned repartitionByRange here
    # would reintroduce the divergent-boundary bug the sf1 spot-check
    # caught), so every Window node must be keyed by __band
    windows = list(re.finditer(r"\(\d+\) Window", p))
    assert windows, p
    for m in windows:
        assert "windowspecdefinition(__band" in p[m.start() : m.start() + 500], p
    # the only single-partition stage allowed is the 1-row total agg —
    # the ranking window itself is partitioned, so no data-sized sort
    # funnels through one task


def test_fuzzy_join_blocked_joins_on_block_key(spark):
    # the ER pairwise stage must be an equi-join on the block key with
    # the levenshtein as a post-join filter — never a cross join with
    # a distance predicate
    from betl_spark.contract.round9 import q_fuzzy_dedup_part_names

    p = plan(q_fuzzy_dedup_part_names(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "levenshtein" in p, p


def test_keyword_search_filters_before_posting_shuffle(spark):
    # the term filter must land under the first Exchange (on the
    # exploded token stream), so only matching postings shuffle
    from betl_spark.contract.round9 import q_keyword_search_and

    p = plan(q_keyword_search_and(spark, SF))
    # structural check: a Filter mentioning the IN-list sits below the
    # first Exchange in the formatted plan's operator list
    ops = [l for l in p.splitlines() if re.match(r"^\(\d+\)", l.strip())]
    names = [re.sub(r"^\(\d+\)\s*", "", o).strip() for o in ops]
    fi = next(i for i, n in enumerate(names) if n.startswith("Filter"))
    ei = next(i for i, n in enumerate(names) if n.startswith("Exchange"))
    # formatted plans list leaves first: Filter node id < Exchange node id
    assert fi < ei, p


def test_rolling_active_users_single_distinct_aggregation(spark):
    # contribution explode then ONE distinct agg: exactly the
    # count_distinct two-phase exchanges, no join anywhere
    from betl_spark.contract.round9 import q_rolling_active_users

    p = plan(q_rolling_active_users(spark, SF))
    assert "Join" not in p, p
    assert "Generate explode" in p or "explode" in p, p


def test_round10_queries_have_no_cartesian_or_python_eval(spark):
    """The round-10 breadth family: no cross products (the 1-row
    bounds/totals and the per-label centroid-array crossJoins plan as
    broadcast nested loops over tiny sides) and no row-at-a-time
    Python anywhere. column_drift_events is exercised via its
    operator (its query collects a 1-row midpoint first)."""
    from betl_spark.contract.round10 import (
        q_assoc_source_lang,
        q_auc_value_weekday,
        q_autocorr_events,
        q_benford_lineitem,
        q_cusum_events,
        q_decile_lift_events,
        q_embedding_norm_stats,
        q_embedding_outliers,
        q_ewma_events,
        q_kfold_orders,
        q_mannwhitney_events,
        q_ngram_novelty_docs,
        q_phrase_search_docs,
        q_readability_docs,
        q_resample_gapfill_observed,
        q_rolling_zscore_time,
        q_spearman_trend_events,
        q_temporal_split_events,
        q_user_entropy_events,
        q_funnel_latency_events,
    )

    for q in (
        q_assoc_source_lang,
        q_auc_value_weekday,
        q_autocorr_events,
        q_benford_lineitem,
        q_cusum_events,
        q_decile_lift_events,
        q_embedding_norm_stats,
        q_embedding_outliers,
        q_ewma_events,
        q_kfold_orders,
        q_mannwhitney_events,
        q_ngram_novelty_docs,
        q_phrase_search_docs,
        q_readability_docs,
        q_resample_gapfill_observed,
        q_rolling_zscore_time,
        q_spearman_trend_events,
        q_temporal_split_events,
        q_user_entropy_events,
        q_funnel_latency_events,
    ):
        p = plan(q(spark, SF))
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p, p


def test_column_drift_operator_plan(spark):
    from betl_spark.operators.profile import column_drift_audit

    ev = spark.read.parquet(f"{SF}/events.parquet")
    a = ev.limit(500).select("user_id", "value")
    b = ev.select("user_id", "value")
    p = plan(column_drift_audit(a, b, ["user_id", "value"]))
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p


def test_phrase_search_filters_postings_before_shuffle(spark):
    """The phrase-term filter must land under the generate/explode,
    before any exchange — the posting stream shrinks to matching terms
    in the scan stage."""
    from betl_spark.operators.corpus import phrase_search

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(phrase_search(docs, "doc_id", "text", ["value", "table"]))
    assert "CartesianProduct" not in p, p
    # the join chain is hash-partitioned equi-joins, never nested loop
    assert "NestedLoopJoin" not in p.replace("BroadcastNestedLoopJoin", ""), p


def test_embedding_outliers_broadcasts_centroids(spark):
    from betl_spark.operators.similarity import embedding_outliers

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan(embedding_outliers(emb, "vec_id", "embedding", "label", k=5))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_link_records_broadcasts_masters_one_shuffle(spark):
    """Record linkage's 100 TB contract: the exploded master-key table
    is broadcast (the record side never shuffles to find candidates),
    levenshtein stays JVM-side, and the only exchange below the final
    rollup is the per-record argmin aggregate."""
    from betl_spark.contract.linkage import masters_frame, records_frame
    from betl_spark.operators.linkage import link_records

    recs = records_frame(spark, SF)
    p = plan(link_records(recs, masters_frame(spark), record_id="doc_id",
                          record_name="name"))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p
    # ONE hash exchange: the groupBy(record_id) argmin — the multi-key
    # pair dedup is a map-side filter, never a distinct agg. (A second
    # round-robin exchange may appear on SMALL inputs only: the
    # ensure_parallelism fan-out, a no-op at real scale.)
    assert n_exchanges(p) <= 2, p
    assert len(re.findall(r"Arguments: hashpartitioning", p)) <= 1, p


# ---------------------------------------------------------------- #
# 64 KB codegen cliff (round-11 verdict ask #2): big-literal        #
# projections must STAY in whole-stage codegen. The failure mode is #
# silent — correct answers, ~10x slower — so the pin asserts the    #
# compiled maxMethodCodeSize (the exact value WholeStageCodegenExec #
# compares against spark.sql.codegen.hugeMethodLimit), not prose.   #
# ---------------------------------------------------------------- #


def _assert_in_codegen(df, label):
    from betl_spark import plans

    subtrees = plans.codegen_subtrees(df)
    assert subtrees, f"{label}: no WholeStageCodegen subtree at all"
    for st in subtrees:
        assert not st.falls_back, (
            f"{label}: subtree {st.index} compiled to "
            f"maxMethodCodeSize={st.max_method_code_size} > "
            f"{plans.HUGE_METHOD_LIMIT} — stage runs INTERPRETED:\n{st.tree}"
        )
        # half-limit budget: catch growth while there is headroom
        assert st.max_method_code_size <= plans.HUGE_METHOD_LIMIT // 2, (
            f"{label}: subtree {st.index} maxMethodCodeSize="
            f"{st.max_method_code_size} is past half the cliff — shrink "
            f"the generated expression before it falls off:\n{st.tree}"
        )


def test_big_literal_projections_stay_in_codegen(spark):
    """The two known big-literal expression trees: the 211-name linkage
    lookup (array-literal fix for the nested-CASE pyramid that hit the
    cliff in round 11) and the BPE merge-list encoder."""
    from betl_spark.contract.linkage import masters_frame, records_frame
    from betl_spark.operators.bpe import bpe_token_count

    _assert_in_codegen(records_frame(spark, SF), "linkage records_frame")
    _assert_in_codegen(masters_frame(spark), "linkage masters_frame")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _assert_in_codegen(
        docs.select("doc_id", bpe_token_count("text").alias("n_tok")),
        "bpe_token_count",
    )


def test_codegen_guard_warns_on_oversized_expression(spark):
    """warn_on_codegen_cliff flags a stage whose compiled method
    exceeds the budget (here artificially lowered) — the utility the
    next big literal table should be checked with."""
    import warnings as w

    from pyspark.sql import functions as F

    from betl_spark import plans

    # a moderately deep nested-CASE chain (single self-reference per
    # level — LINEAR string growth): compiles fine, but big enough to
    # overrun a small budget
    expr = "id"
    for i in range(60):
        expr = f"CASE WHEN id % {i + 2} = 0 THEN ({expr}) + {i} ELSE id - {i} END"
    df = spark.range(10).select(F.expr(expr).alias("x"))
    with w.catch_warnings(record=True) as got:
        w.simplefilter("always")
        subtrees = plans.warn_on_codegen_cliff(df, label="pyramid", budget=500)
    assert subtrees and any("codegen budget" in str(m.message) for m in got)
    # and the same guard stays silent on a healthy projection
    healthy = spark.range(10).selectExpr("id", "id * 2 AS y")
    with w.catch_warnings(record=True) as got2:
        w.simplefilter("always")
        plans.warn_on_codegen_cliff(healthy, label="healthy")
    assert not got2


def test_codegen_subtree_fallback_property():
    """falls_back mirrors WholeStageCodegenExec's limit comparison."""
    from betl_spark.plans import HUGE_METHOD_LIMIT, CodegenSubtree

    at = CodegenSubtree(1, HUGE_METHOD_LIMIT, 0, "")
    past = CodegenSubtree(1, HUGE_METHOD_LIMIT + 1, 0, "")
    assert not at.falls_back and past.falls_back


def test_cluster_records_pairs_blocked_labels_broadcast(spark):
    """Master-less ER's 100 TB contract: the pairwise stage joins on
    the block key (never a cartesian), levenshtein stays JVM-side, and
    the vocabulary-grain label map comes back to the record side as
    the SMALL side of a broadcast join."""
    from betl_spark.contract.linkage import records_frame
    from betl_spark.operators.linkage import cluster_records, fuzzy_name_pairs

    recs = records_frame(spark, SF)
    vocab = (
        recs.selectExpr("lower(trim(name)) AS name")
        .where("name IS NOT NULL")
        .distinct()
    )
    pp = plan(fuzzy_name_pairs(vocab))
    assert "CartesianProduct" not in pp, pp
    assert "BatchEvalPython" not in pp and "ArrowEvalPython" not in pp, pp
    assert "block_key" in pp, pp
    # the r13 fix's shape (round-13 verdict ask #5), isolated from
    # Catalyst's size-based auto-broadcast (the test vocabulary is
    # tiny, so EVERY join here would auto-broadcast): with the
    # threshold disabled, a BroadcastHashJoin can only come from the
    # explicit hint — the default path must carry it (a refactor that
    # reintroduces the shuffled self-join re-exposes the AQE
    # single-partition collapse that cost 22x on the whale rehearsal),
    # and the larger-than-broadcast escape must NOT (a stray hint
    # would bypass the caller's choice — the round-13 advisor's bug).
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pf = plan(fuzzy_name_pairs(vocab))
        assert "BroadcastHashJoin" in pf, pf
        ps = plan(fuzzy_name_pairs(vocab, broadcast_names=False, salt=4))
        assert "BroadcastHashJoin" not in ps, ps
        assert "CartesianProduct" not in ps, ps
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    p = plan(cluster_records(recs, record_id="doc_id", record_name="name"))
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_incremental_er_blocked_joins_no_cartesian_no_python(spark):
    """Incremental ER's 100 TB contract: every pairwise stage (fresh
    self-pairs and fresh-vs-existing cross pairs) joins on the block
    key — never a cartesian — and the whole chain stays JVM-side."""
    from betl_spark.contract.linkage import records_frame
    from betl_spark.operators.linkage import (
        cross_name_pairs,
        incremental_cluster_assign,
    )

    recs = records_frame(spark, SF)
    day1 = recs.where(F.col("doc_id") % 2 == 0)
    day2 = recs.where(F.col("doc_id") % 2 == 1)
    labels = (
        day1.selectExpr("lower(trim(name)) AS name")
        .where("name IS NOT NULL")
        .distinct()
        .selectExpr("name", "name AS cluster_id")
    )
    pp = plan(
        cross_name_pairs(
            labels.select("name"), labels.select("name")
        )
    )
    assert "CartesianProduct" not in pp, pp
    assert "block_key" in pp, pp
    # hint-vs-escape isolation, same protocol as the fuzzy_name_pairs
    # pin: with auto-broadcast disabled, BroadcastHashJoin present on
    # the default path proves the hint; absent on the escape path
    # proves broadcast_names=False reaches the join (round-13 advisor)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pb = plan(
            cross_name_pairs(labels.select("name"), labels.select("name"))
        )
        assert "BroadcastHashJoin" in pb, pb
        ps = plan(
            cross_name_pairs(
                labels.select("name"),
                labels.select("name"),
                broadcast_names=False,
                salt=4,
            )
        )
        assert "BroadcastHashJoin" not in ps, ps
        assert "CartesianProduct" not in ps, ps
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    p = plan(
        incremental_cluster_assign(
            day2, labels, record_id="doc_id", record_name="name"
        )
    )
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_histogram_sketch_family_plan_shape(spark):
    """The mergeable-histogram family's 100 TB contract: the fact
    table is scanned once per sketch build (a hash aggregate — no
    Python eval anywhere), the rollup runs at sketch grain, and the
    quantile selection's cumulative window is PARTITIONED BY the group
    — never a global single-partition sort."""
    from betl_spark.contract.round14 import (
        q_hist_quantile_mergeable,
        q_hist_sketch_bins,
    )

    from betl_spark.contract.round14 import q_topk_sketch_heavyhitters

    for q in (
        q_hist_sketch_bins,
        q_hist_quantile_mergeable,
        q_topk_sketch_heavyhitters,
    ):
        p = plan(q(spark, SF))
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
        assert "CartesianProduct" not in p, p
        assert "SinglePartition" not in p, p


def test_snm_pairs_no_single_partition_window(spark):
    """SNM's 100 TB contract: the global rank comes from the SK
    engine's range-partition numbering — never a partition-less
    Window (one-reducer sort) — and neighbor pairing is an equi-join
    on the shifted rank, no cartesian."""
    from betl_spark.operators.linkage import sorted_neighborhood_pairs

    vocab = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .selectExpr("lower(trim(source)) AS name")
        .where("name IS NOT NULL")
        .distinct()
        .repartition(8)
    )
    p = plan(sorted_neighborhood_pairs(vocab))
    assert "SinglePartition" not in p, p
    assert "Window" not in p, p
    assert "rangepartitioning" in p.lower(), p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_growing_vocab_corpus_stays_in_codegen(spark):
    """Round-13 growing-vocabulary ER corpus: names are synthesized
    IN-ENGINE from small pool arrays + repeat(letter, 8) — the whole
    record stage must stay JVM-side and inside the codegen budget (a
    materialized 20k-name array literal at sf10 would be the 64KB
    cliff shape), and the full clustering chain keeps the batch
    family's no-cartesian / block-key-join / broadcast-label shape."""
    from betl_spark import plans
    from betl_spark.contract.round13 import growing_records_frame
    from betl_spark.operators.linkage import cluster_records

    recs = growing_records_frame(spark, SF)
    p = plan(recs)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert not [
        s for s in plans.warn_on_codegen_cliff(recs, label="growing") if s.falls_back
    ]

    # the pairwise stage (CC materializes above it, so pin it directly)
    from betl_spark.operators.linkage import fuzzy_name_pairs

    vocab = (
        recs.selectExpr("lower(trim(name)) AS name")
        .where("name IS NOT NULL")
        .distinct()
    )
    pp = plan(fuzzy_name_pairs(vocab))
    assert "CartesianProduct" not in pp, pp
    assert "block_key" in pp, pp
    assert "BroadcastHashJoin" in pp, pp

    c = plan(
        cluster_records(recs, record_id="doc_id", record_name="name")
    )
    assert "CartesianProduct" not in c, c
    assert "BatchEvalPython" not in c and "ArrowEvalPython" not in c, c
    assert "BroadcastHashJoin" in c, c


def test_snm_union_no_cartesian_no_single_partition_window(spark):
    """The blocked ∪ SNM union (er_snm_union_pairs): both candidate
    generators keep their pinned shapes through the full-outer merge —
    no cartesian anywhere, the SNM rank still rides range
    partitioning (never a one-reducer Window), JVM-side throughout."""
    from betl_spark.contract.round13 import q_er_snm_union_pairs
    from betl_spark.operators import linkage

    p = plan(q_er_snm_union_pairs(spark, SF))
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # the sf0.001 vocabulary coalesces to one partition, where the rank's
    # range shuffle is legitimately a one-partition (SinglePartition)
    # exchange — over a multi-partition vocabulary it must range-partition
    vocab = (
        spark.read.parquet(f"{SF}/customer.parquet")
        .select(F.col("c_name").alias("name"))
        .repartition(8)
    )
    p = plan(linkage.sorted_neighborhood_pairs(vocab, window=5, threshold=2))
    assert "SinglePartition" not in p, p
    assert "rangepartitioning" in p.lower(), p


def test_3day_chain_no_cartesian_no_python(spark):
    """The 3-day incremental chain: two stacked attach-or-create
    passes over frozen labels — every pairwise stage still joins on
    the block key; no cartesian, no Python eval across the whole
    chain."""
    from betl_spark.contract.round13 import q_er_3day_chain

    p = plan(q_er_3day_chain(spark, SF))
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_kmv_family_plan_shape(spark):
    """Bottom-k (KMV) family 100 TB contract: the build's rn<=k filter
    must be rewritten by WindowGroupLimit (map-side partial group
    limit BEFORE the shuffle — only <=k rows per group per input
    partition move), and the whole family stays JVM-side with no
    cartesian and no single-partition exchange."""
    from betl_spark.contract.round14 import (
        q_kmv_bottomk_sample,
        q_kmv_distinct_mergeable,
    )
    from betl_spark.operators import sketches

    ev = spark.read.parquet(f"{SF}/events.parquet")
    build = sketches.kmv_sketch(ev, ["event_type"], "user_id", 64)
    p = plan(build)
    limits = re.findall(r"\(\d+\) WindowGroupLimit", p)
    assert len(limits) >= 2, p  # partial (map-side) + final
    assert p.index("WindowGroupLimit") >= 0
    for q in (q_kmv_distinct_mergeable, q_kmv_bottomk_sample):
        pq = plan(q(spark, SF))
        assert "WindowGroupLimit" in pq, pq
        assert "BatchEvalPython" not in pq and "ArrowEvalPython" not in pq, pq
        assert "CartesianProduct" not in pq, pq
        assert "SinglePartition" not in pq, pq


def test_bloom_family_plan_shape(spark):
    """Bloom family 100 TB contract: the probe side joins the filter
    table by BROADCAST (the probe fact never shuffles — the filter is
    kilobytes per group), the build is hash aggregates only, and
    nothing leaves the JVM."""
    from betl_spark.contract.round14 import q_bloom_membership_census
    from betl_spark.operators import sketches

    ev = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_type", "CAST(event_id AS STRING) AS key"
    )
    flt = sketches.bloom_sketch(ev, ["event_type"], "key", 64, 3)
    probed = sketches.bloom_probe(ev, flt, ["event_type"], "key", 64, 3)
    p = plan(probed)
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    pq = plan(q_bloom_membership_census(spark, SF))
    assert "BroadcastHashJoin" in pq, pq
    assert "BatchEvalPython" not in pq and "ArrowEvalPython" not in pq, pq
    assert "CartesianProduct" not in pq, pq
    assert "SinglePartition" not in pq, pq


def test_pagerank_family_plan_shape(spark):
    """Exact-integer PageRank 100 TB contract: with broadcast_ranks
    the per-iteration rank-edge join is a BroadcastHashJoin (one per
    iteration — the edge table is aggregated, never shuffled wide),
    and nothing leaves the JVM. The contract queries' only
    single-partition stage is the final global top-15 window over the
    |V|-row rank table (bounded domain grain) — pinned as Python-free
    and cartesian-free."""
    from betl_spark.contract.round14 import (
        q_centrality_weighted_sample,
        q_domain_pagerank,
        q_pagerank_convergence,
    )
    from betl_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)], ["src", "dst"]
    )
    p = plan(graph.pagerank_int(edges, iters=3, broadcast_ranks=True))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) >= 3, p
    assert "CartesianProduct" not in p, p
    for q in (q_domain_pagerank, q_pagerank_convergence):
        pq = plan(q(spark, SF))
        assert "BatchEvalPython" not in pq and "ArrowEvalPython" not in pq, pq
        assert "CartesianProduct" not in pq, pq
    # capstone: the rate table must BROADCAST onto the doc scan (the
    # 100 TB side never shuffles for the sampling decision); the only
    # cartesian is the 1-row max-rank scalar attach
    pq = plan(q_centrality_weighted_sample(spark, SF))
    assert "BroadcastHashJoin" in pq, pq
    assert "BatchEvalPython" not in pq and "ArrowEvalPython" not in pq, pq
