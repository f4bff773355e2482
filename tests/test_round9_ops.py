"""Round-9 operator tests, mirroring the round-8 ADVICE items:

1. write_bucketed's overwrite cleanup must resolve the table's REAL
   location even when a data column is literally named ``Location``
   (DESCRIBE EXTENDED lists data columns before the metadata section).
2. repeated-substring fingerprinting pre-chunks very long documents so
   per-row transient array memory is bounded (and spans are unchanged).
3. classifier scoring switches from a str_to_map literal to a
   broadcast-join weight lookup once the model is large.
"""

import pytest
from pyspark.sql import functions as F


def test_write_bucketed_location_column_shadow(spark, tmp_path):
    # ADVICE r8: a data column named 'Location' used to win the
    # DESCRIBE scan (column rows precede the metadata section), so the
    # "location" became the column's TYPE ('string') and rmtree ran on
    # a bogus relative path while the real location was never cleaned.
    from betl_spark.io.writers import write_bucketed

    name = "t_round9_location_shadow"
    df = spark.range(10).select(
        F.col("id"), F.concat(F.lit("loc_"), F.col("id")).alias("Location")
    )
    try:
        write_bucketed(df, name, ["id"], 2)
        # second write exercises the catalog-resolution branch; before
        # the fix the stale data files survive under the real location
        write_bucketed(df.limit(4), name, ["id"], 2)
        assert spark.table(name).count() == 4
        # and the metadata-section Location row is the one resolved:
        # a third overwrite must also see exactly the latest rows
        write_bucketed(df.limit(7), name, ["id"], 2)
        assert spark.table(name).count() == 7
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_substring_fingerprints_chunking_is_invisible(spark):
    # ADVICE r8: the unchunked form built the full (len-k+1)-window
    # array per row before the mod-p filter (~35-40 B/char transient).
    # The chunked form bounds per-row arrays at chunk_windows entries;
    # selection is content-defined, so a pathological chunk size (7)
    # must yield the IDENTICAL fingerprint set, global offsets intact.
    from betl_spark.operators.dedup import _substring_fingerprints

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 20),
            (2, "short"),                       # < k: dropped entirely
            (3, "x" * 23),                      # exactly spans chunks
            (4, None),                          # NULL text
        ],
        "doc_id long, text string",
    )
    rows = lambda cw: sorted(
        (r["doc_id"], r["off"], r["h"])
        for r in _substring_fingerprints(
            docs, "doc_id", "text", 20, 4, chunk_windows=cw
        ).collect()
    )
    big = rows(1 << 20)  # one chunk per doc == the unchunked behavior
    assert rows(7) == big
    assert rows(1) == big
    assert big  # the repeated corpus does produce fingerprints


def test_substring_fingerprints_chunked_still_map_only(spark):
    # the chunk explode must not introduce a shuffle: the stage stays
    # map-only (zero Exchanges) with the mod-p filter inside the row
    # expression, same contract the round-8 plan pin established
    from betl_spark.operators.dedup import _substring_fingerprints

    docs = spark.createDataFrame(
        [(1, "abcdefghij" * 50)], "doc_id long, text string"
    )
    wins = _substring_fingerprints(docs, "doc_id", "text", 20, 4)
    plan = wins._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.replace(" ", "").count("Generateexplode") == 2


def test_classifier_train_broadcast_path_bitwise_equal(spark):
    # ADVICE r8: a 64k-bucket model as a str_to_map literal is ~1MB of
    # expression text per iteration. Above map_literal_max the model
    # ships as a broadcast-joined weight table instead; the arithmetic
    # is exact-integer in both paths, so forcing the join path must
    # reproduce the literal path's weight table EXACTLY.
    from betl_spark.operators.quality import classifier_train

    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(120)
    )
    label = F.length("text") > 800
    kw = dict(buckets=256, iterations=3, lr=0.5)
    lit_w = classifier_train(
        df, "doc_id", "text", label, map_literal_max=1 << 30, **kw
    ).collect()
    join_w = classifier_train(
        df, "doc_id", "text", label, map_literal_max=0, **kw
    ).collect()
    as_map = lambda rows: {r["bucket"]: r["w"] for r in rows}
    assert as_map(lit_w) == as_map(join_w)
    assert len(lit_w) > 10  # the corpus actually produced a model


def test_kmeans_train_model_shape_and_ivf_delegation(spark):
    # kmeans_train returns the (cell_id, cv, cn) model contract the
    # IVF family broadcasts; ivf_topk must be exactly ivf_topk_model
    # over seed cents (one probe plan, centroid table is the only knob)
    from betl_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [0, 5, 10, 15]
    cents = similarity.kmeans_train(
        emb, "vec_id", "embedding", seeds, iterations=2
    )
    rows = cents.collect()
    assert 0 < len(rows) <= len(seeds)  # empty cells may drop
    for r in rows:
        assert len(r["cv"]) == 64 and r["cn"] > 0
        # round-6 decimals: replaying engines see exact inputs
        assert all(abs(v * 1e6 - round(v * 1e6)) < 1e-3 for v in r["cv"])

    qids = list(range(5))
    via_ids = similarity.ivf_topk(
        emb, "vec_id", "embedding", qids, centroid_ids=seeds, k=3, nprobe=2
    ).collect()
    via_model = similarity.ivf_topk_model(
        emb, "vec_id", "embedding", qids,
        similarity._seed_cents(emb, "vec_id", "embedding", seeds),
        k=3, nprobe=2,
    ).collect()
    assert sorted(map(tuple, via_ids)) == sorted(map(tuple, via_model))

    # training is deterministic: same seeds, same model
    again = similarity.kmeans_train(
        emb, "vec_id", "embedding", seeds, iterations=2
    ).collect()
    key = lambda rs: sorted((r["cell_id"], tuple(r["cv"])) for r in rs)
    assert key(rows) == key(again)


# ---------------------------------------------------------------------
# Round-9 breadth operators: time-series, robust stats, linkage,
# search, overlap, char diversity
# ---------------------------------------------------------------------

def test_resample_gapfill_fills_gaps_and_forward_fills(spark):
    from betl_spark.operators.timeseries import resample_gapfill

    D = 86_400_000_000
    df = spark.createDataFrame(
        [
            ("a", 0 * D + 5, 10.0),
            ("a", 0 * D + 6, 20.0),   # day 0: n=2, avg 15
            ("a", 3 * D + 1, 40.0),   # day 3 (days 1-2 are gaps)
            ("b", 2 * D + 9, 7.0),    # b starts at day 2: days 0-1 NULL avg
        ],
        "k string, t long, v double",
    )
    out = {
        (r["k"], r["bucket"]): (r["n_events"], r["sum_value"], r["ffill_avg"])
        for r in resample_gapfill(df, "k", "t", "v", D).collect()
    }
    assert len(out) == 8  # 2 keys x days 0..3 (global bounds)
    assert out[("a", 0)] == (2, 30.0, 15.0)
    assert out[("a", 1)] == (0, 0.0, 15.0)      # gap: zero-filled, ffill
    assert out[("a", 2)] == (0, 0.0, 15.0)
    assert out[("a", 3)] == (1, 40.0, 40.0)
    assert out[("b", 0)] == (0, 0.0, None)      # before first obs: NULL
    assert out[("b", 1)] == (0, 0.0, None)
    assert out[("b", 2)] == (1, 7.0, 7.0)
    assert out[("b", 3)] == (0, 0.0, 7.0)


def test_resample_gapfill_empty_input(spark):
    from betl_spark.operators.timeseries import resample_gapfill

    df = spark.createDataFrame([], "k string, t long, v double")
    assert resample_gapfill(df, "k", "t", "v").count() == 0


def test_rolling_zscore_flags_outlier_and_skips_warmup(spark):
    from betl_spark.operators.timeseries import rolling_zscore

    rows_in = [("x", i, i, 10.0 + (i % 3)) for i in range(30)]
    rows_in.append(("x", 30, 30, 500.0))  # clear anomaly
    df = spark.createDataFrame(rows_in, "p string, t long, id long, v double")
    out = rolling_zscore(
        df, "p", "t", "id", "v", window_rows=10, min_rows=5, z_thresh=3.0
    )
    got = {r["id"]: (r["zscore"], r["is_anomaly"]) for r in out.collect()}
    assert min(got) == 5          # ids 0-4 lack min_rows preceding
    assert got[30][1] is True     # the planted outlier is flagged
    assert all(not v[1] for k, v in got.items() if k != 30)


def test_rolling_zscore_banded_bit_identical(spark):
    # the banded prefix-sum decomposition (n_bands=B) must reproduce
    # the Window-frame scores EXACTLY — decimal prefix differences are
    # exact, so this pins equality, not approximation. Data exercises:
    # multiple keys, NULL values inside frames, duplicate timestamps
    # (unique tiebreaks), a key smaller than min_rows, and band counts
    # 1 / 4 / far-more-bands-than-rows-per-band.
    from betl_spark.operators.timeseries import rolling_zscore

    rows = []
    for i in range(137):
        v = None if i % 11 == 7 else 10.0 + ((i * 7919) % 97) / 3.0
        rows.append(("a", (i // 3) * 1000, i, v))  # dup ts every 3 rows
    for i in range(61):
        rows.append(("b", i * 17, 1000 + i, 5.0 + ((i * 31) % 13)))
    rows.append(("tiny", 5, 9999, 1.0))  # under min_rows: no output row
    df = spark.createDataFrame(rows, "p string, t long, id long, v double")

    def key(r):
        return (r["p"], r["id"])

    ref = {
        key(r): (r["v"], r["zscore"], r["is_anomaly"])
        for r in rolling_zscore(
            df, "p", "t", "id", "v", window_rows=25, min_rows=5
        ).collect()
    }
    assert ref, "reference output must be non-empty"
    for bands in (1, 4, 64):
        got = {
            key(r): (r["v"], r["zscore"], r["is_anomaly"])
            for r in rolling_zscore(
                df, "p", "t", "id", "v",
                window_rows=25, min_rows=5, n_bands=bands,
            ).collect()
        }
        assert got == ref, f"n_bands={bands} diverged"


def test_rolling_zscore_banded_empty_input(spark):
    from betl_spark.operators.timeseries import rolling_zscore

    df = spark.createDataFrame([], "p string, t long, id long, v double")
    assert rolling_zscore(df, "p", "t", "id", "v", n_bands=8).count() == 0


def test_banded_n_bands_validation(spark):
    # n_bands=0 would NULL the band-width expression and the offsets
    # join would silently return an empty frame; the banded operator
    # must reject it before any plan is built (round-14 ADVICE)
    import pytest as _pytest

    from betl_spark.operators.timeseries import rolling_zscore

    df = spark.createDataFrame([], "p string, t long, id long, v double")
    for bad in (0, -3):
        with _pytest.raises(ValueError, match="n_bands"):
            rolling_zscore(df, "p", "t", "id", "v", n_bands=bad)


def test_rolling_zscore_constant_window_yields_null(spark):
    from betl_spark.operators.timeseries import rolling_zscore

    df = spark.createDataFrame(
        [("x", i, i, 5.0) for i in range(10)], "p string, t long, id long, v double"
    )
    out = rolling_zscore(df, "p", "t", "id", "v", window_rows=5, min_rows=3)
    # var == 0 everywhere: z must be NULL, never inf/NaN
    assert all(r["zscore"] is None for r in out.collect())


def test_time_weighted_avg_weights_by_duration(spark):
    from betl_spark.operators.timeseries import time_weighted_avg

    M = 1_000_000
    df = spark.createDataFrame(
        [
            ("u", 0 * M, 10.0),    # current for 10s
            ("u", 10 * M, 20.0),   # current for 30s
            ("u", 40 * M, 99.0),   # last event: no duration, drops
            ("solo", 5 * M, 7.0),  # single event: no row
        ],
        "k string, t long, v double",
    )
    out = {r["k"]: r for r in time_weighted_avg(df, "k", "t", "v").collect()}
    assert set(out) == {"u"}
    r = out["u"]
    assert (r["n_intervals"], r["total_seconds"]) == (2, 40)
    assert r["twap"] == round((10.0 * 10 + 20.0 * 30) / 40, 6)  # 17.5


def test_winsorized_stats_clips_tails(spark):
    from betl_spark.operators.stats import winsorized_stats

    vals = [float(i) for i in range(1, 100)] + [10_000.0]  # one huge outlier
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    r = winsorized_stats(df, ["g"], "v", p_lo=0.05, p_hi=0.95).collect()[0]
    assert r["n"] == 100
    assert r["n_clipped_lo"] > 0 and r["n_clipped_hi"] > 0
    assert r["mean_winsor"] < r["mean_raw"]  # outlier's pull removed
    assert r["lo"] < r["hi"] < 10_000.0


def test_equidepth_histogram_buckets_balanced(spark):
    from betl_spark.operators.stats import equidepth_histogram

    df = spark.createDataFrame(
        [(i, float(i * i)) for i in range(103)], "id long, v double"
    )
    out = sorted(
        (r["bucket"], r["n"], r["lo"], r["hi"])
        for r in equidepth_histogram(df, "v", "id", n_buckets=10).collect()
    )
    assert [b for b, *_ in out] == list(range(10))
    assert sum(n for _, n, *_ in out) == 103
    assert max(n for _, n, *_ in out) - min(n for _, n, *_ in out) <= 1
    # bucket ranges tile the domain in order
    for (_, _, _, hi_prev), (_, _, lo_next, _) in zip(out, out[1:]):
        assert hi_prev <= lo_next


def test_fuzzy_join_blocked_respects_blocks_and_threshold(spark):
    from betl_spark.operators.linkage import (
        canonicalize_names,
        first_token_block,
        fuzzy_join_blocked,
    )

    df = spark.createDataFrame(
        [
            (1, "red ring"),
            (2, "red ring"),    # exact dup: collapses in canonicalize
            (3, "red rings"),   # dist 1 to "red ring"
            (4, "red widget"),  # same block, too far
            (5, "blue ring"),   # different block: never paired
        ],
        "id long, name string",
    )
    names = canonicalize_names(df, "id", "name")
    assert names.count() == 4
    assert {
        (r["name"], r["canonical_id"], r["n_members"]) for r in names.collect()
    } >= {("red ring", 1, 2)}
    pairs = fuzzy_join_blocked(names, first_token_block, max_dist=2).collect()
    assert [(p["name_a"], p["name_b"], p["dist"]) for p in pairs] == [
        ("red ring", "red rings", 1)
    ]


def test_keyword_search_and_requires_all_terms(spark):
    from betl_spark.operators.corpus import keyword_search_and

    df = spark.createDataFrame(
        [
            (1, "en", "spark merge window spark"),     # all 3, score 4
            (2, "en", "spark merge merge"),            # missing window
            (3, "fr", "window spark merge"),           # all 3, score 3
        ],
        "doc_id long, lang string, text string",
    )
    out = keyword_search_and(
        df, "doc_id", "text", ["spark", "merge", "window"], keep_cols=["lang"]
    ).collect()
    assert [(r["doc_id"], r["lang"], r["score"]) for r in out] == [
        (1, "en", 4),
        (3, "fr", 3),
    ]


def test_source_overlap_matrix_counts_shared_grams(spark):
    from betl_spark.operators.corpus import source_overlap_matrix

    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens -> 8 3-grams
    df = spark.createDataFrame(
        [
            ("s1", text),
            ("s2", text),               # identical corpus: jaccard 1.0
            ("s3", "totally different words here nothing shared at all ok"),
        ],
        "source string, text string",
    )
    out = {
        (r["group_a"], r["group_b"]): r
        for r in source_overlap_matrix(df, "source", "text", ngram=3).collect()
    }
    assert out[("s1", "s2")]["jaccard"] == 1.0
    assert out[("s1", "s2")]["inter"] == 8
    assert ("s1", "s3") not in out  # zero overlap: no row (inner join)


def test_source_overlap_short_doc_yields_no_grams(spark):
    from betl_spark.operators.corpus import source_overlap_matrix

    df = spark.createDataFrame(
        [("s1", "just three words"), ("s2", "just three words")],
        "source string, text string",
    )
    # 3 tokens < ngram=8: no grams, no pairs — and no sequence() error
    assert source_overlap_matrix(df, "source", "text", ngram=8).count() == 0


def test_char_diversity_flags_low_diversity(spark):
    from betl_spark.operators.text import char_diversity

    df = spark.createDataFrame(
        [
            (1, "aaaaaaaaaaaaaaaaaaaa"),             # one char: conc 1.0
            (2, "The quick brown fox jumps over."),  # healthy prose
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in char_diversity(df, "doc_id", "text").collect()}
    assert out[1]["distinct_chars"] == 1
    assert out[1]["simpson_concentration"] == 1.0
    assert out[1]["top_char_ratio"] == 1.0
    assert out[1]["keep"] is False
    assert out[2]["distinct_chars"] > 10
    assert out[2]["keep"] is True


def test_bm25_ranks_rare_term_matches_higher(spark):
    from betl_spark.operators.corpus import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "rare common common common common"),   # has the rare term
            (2, "common common common common common"), # only common
            (3, "rare rare common common filler"),     # rare twice
            (4, "filler words only here today ok"),    # no match: no row
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, "doc_id", "text", ["rare", "common"], top_n=10)
    rows_out = {r["doc_id"]: r for r in out.collect()}
    assert 4 not in rows_out
    # idf(rare) >> idf(common): doc 3 (2x rare) > doc 1 (1x rare) > doc 2
    assert rows_out[3]["score"] > rows_out[1]["score"] > rows_out[2]["score"]
    assert rows_out[1]["n_terms_matched"] == 2
    assert rows_out[2]["n_terms_matched"] == 1


def test_pmi_flags_true_collocation(spark):
    from betl_spark.operators.corpus import pmi_topk

    # "hong kong" always adjacent; "the", "cat" independent fillers
    docs = [("hong kong " + "the cat sat on a mat " * 3,)] * 10
    df = spark.createDataFrame(docs, "text string")
    out = pmi_topk(df, "text", min_count=5, top_n=5).collect()
    assert out[0]["w1"] == "hong" and out[0]["w2"] == "kong"
    assert out[0]["pmi"] > 0
    got = {(r["w1"], r["w2"]): r["pmi"] for r in out}
    # a frequent-but-independent pair scores below the collocation
    assert all(p <= out[0]["pmi"] for p in got.values())


def test_referential_integrity_counts_orphans_and_null_keys(spark):
    from betl_spark.operators.profile import referential_integrity

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    out = referential_integrity(
        [("child->parent", child, ["fk"], parent, ["pk"])]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_child"], r["n_null_key"], r["n_orphans"]) == (4, 1, 1)
    assert r["orphan_rate"] == round(1 / 3, 6)


def test_referential_integrity_rejects_empty_specs(spark):
    from betl_spark.operators.profile import referential_integrity

    with pytest.raises(ValueError, match="at least one"):
        referential_integrity([])


def test_referential_integrity_composite_key(spark):
    from betl_spark.operators.profile import referential_integrity

    child = spark.createDataFrame(
        [(1, "a", 1), (2, "a", 2), (3, "b", 9)], "id long, k1 string, k2 long"
    )
    parent = spark.createDataFrame(
        [("a", 1), ("a", 2)], "p1 string, p2 long"
    )
    r = referential_integrity(
        [("c->p", child, ["k1", "k2"], parent, ["p1", "p2"])]
    ).collect()[0]
    assert (r["n_child"], r["n_orphans"]) == (3, 1)


def test_stateful_anomaly_scores_multi_batch_state(spark, tmp_path):
    """State must carry across micro-batches: feeding the same rows as
    two files/batches must equal the single-batch run (the expanding
    history is a property of the STREAM, not the batch)."""
    import pandas as pd

    from betl_spark.streaming.events import (
        event_stream,
        run_stream_to_table,
        stateful_anomaly_scores,
    )

    rows_in = [(i, i * 1_000_000, 7, 10.0 + (i % 5)) for i in range(45)]
    rows_in.append((45, 45_000_000, 7, 400.0))  # planted outlier
    pdf = pd.DataFrame(rows_in, columns=["event_id", "t", "user_id", "value"])
    pdf["ts"] = pd.to_datetime(pdf["t"], unit="us")
    sdf = spark.createDataFrame(pdf[["event_id", "ts", "user_id", "value"]])

    import glob
    import os

    one = str(tmp_path / "one")
    sdf.coalesce(1).write.parquet(one)
    two = str(tmp_path / "two")
    sdf.where("event_id < 23").coalesce(1).write.parquet(two)
    # pin file order: the file source processes by (modTime, path), so
    # day-1's file must be strictly older than day-2's
    for f in glob.glob(f"{two}/*.parquet"):
        os.utime(f, (1_000_000, 1_000_000))
    sdf.where("event_id >= 23").coalesce(1).write.parquet(
        two, mode="append"
    )

    def run(path, mfpt=None):
        out = run_stream_to_table(
            stateful_anomaly_scores(
                event_stream(spark, path, max_files_per_trigger=mfpt),
                min_rows=20,
                z_thresh=3.0,
            ),
            output_mode="append",
            state_partitions=4,
        )
        return sorted(
            (r["event_id"], r["zscore"], r["is_anomaly"]) for r in out.collect()
        )

    got_one = run(one)
    assert len(got_one) == 46
    by_id = dict((e, (z, a)) for e, z, a in got_one)
    assert all(by_id[i][0] is None for i in range(20))  # warmup unscored
    assert by_id[45][1] is True                         # outlier flagged
    assert all(by_id[i][1] is not True for i in range(45))
    # maxFilesPerTrigger=1 forces TWO micro-batches: identical output
    # proves the (n, Σv, Σv²) state carries bit-exactly across batches
    assert got_one == run(two, mfpt=1)


def test_events_time_rollup_levels(spark):
    from betl_spark.contract.round9 import q_events_time_rollup

    out = q_events_time_rollup(spark, "/root/testdata/sf0.001").collect()
    leaves = [r for r in out if r["m"] is not None]
    yearly = [r for r in out if r["m"] is None and r["y"] is not None]
    per_type = [r for r in out if r["y"] is None]
    assert leaves and yearly and per_type
    # subtotals must reconcile exactly
    for yr in yearly:
        s = sum(
            r["n_events"] for r in leaves
            if r["event_type"] == yr["event_type"] and r["y"] == yr["y"]
        )
        assert s == yr["n_events"]


def test_shred_json_flags_bad_documents_and_missing_fields(spark):
    from betl_spark.operators.semistructured import shred_json

    df = spark.createDataFrame(
        [
            (1, '{"k": 5, "tag": "x"}'),
            (2, '{"tag": "y"}'),       # field missing, doc fine
            (3, "{not json"),          # broken document
            (4, None),                 # NULL blob
        ],
        "id long, props string",
    )
    out = {
        r["id"]: r
        for r in shred_json(
            df, "props", {"k": "bigint", "tag": "string"}, keep_cols=["id"]
        ).collect()
    }
    assert (out[1]["k"], out[1]["tag"], out[1]["parse_ok"]) == (5, "x", True)
    assert (out[2]["k"], out[2]["tag"], out[2]["parse_ok"]) == (None, "y", True)
    assert out[3]["parse_ok"] is False and out[3]["k"] is None
    assert out[4]["parse_ok"] is False


def test_rolling_distinct_count_window_containment(spark):
    from betl_spark.operators.timeseries import rolling_distinct_count

    D = 86_400_000_000
    df = spark.createDataFrame(
        [
            (0 * D, "a"),
            (0 * D + 5, "b"),
            (2 * D, "a"),
            (9 * D, "c"),   # outside day 2's 3-day window
        ],
        "t long, u string",
    )
    out = {
        r["bucket"]: (r["active_entities"], r["n_events"])
        for r in rolling_distinct_count(df, "t", "u", window_buckets=3).collect()
    }
    assert out[0] == (2, 2)       # day 0: a, b
    assert out[2] == (2, 3)       # days 0-2: {a, b} distinct, 3 events
    assert out[4] == (1, 1)       # days 2-4: only day-2 a
    assert out[9] == (1, 1)       # c alone
    assert 5 not in out and 8 not in out  # gap days: no row


def test_grouped_pearson_exact_endpoints(spark):
    from betl_spark.operators.stats import grouped_pearson

    rows_in = (
        [("pos", float(i), i * 2) for i in range(1, 11)]        # r = 1
        + [("neg", float(i), -3 * i) for i in range(1, 11)]     # r = -1
        + [("flat", float(i), 7) for i in range(1, 11)]         # no y var
        + [("pos", None, 5), ("pos", 4.0, None)]                # null pairs drop
    )
    df = spark.createDataFrame(rows_in, "g string, x double, y long")
    out = {r["g"]: r for r in grouped_pearson(df, ["g"], "x", "y", 2, 0).collect()}
    assert out["pos"]["n"] == 10 and out["pos"]["r"] == 1.0
    assert out["neg"]["r"] == -1.0
    assert out["flat"]["r"] is None


def test_event_transitions_counts_and_probs(spark):
    from betl_spark.operators.sessions import event_transitions

    df = spark.createDataFrame(
        [
            (1, 1, 1, "a"), (1, 2, 2, "b"), (1, 3, 3, "a"), (1, 4, 4, "c"),
            (2, 1, 5, "a"), (2, 2, 6, "b"),
        ],
        "u long, t long, id long, s string",
    )
    out = {
        (r["from_state"], r["to_state"]): (r["n"], r["prob"])
        for r in event_transitions(df, "u", "t", "id", "s").collect()
    }
    # from 'a': a->b twice (u1, u2), a->c once
    assert out[("a", "b")] == (2, round(2 / 3, 6))
    assert out[("a", "c")] == (1, round(1 / 3, 6))
    assert out[("b", "a")] == (1, 1.0)
    # the last event of each user emits no transition
    assert ("c", "a") not in out


def test_dataflow_analytics_verbs_journal_and_delegate(spark, dfl):
    # the verb surface: dataset-in/dataset-out, journaled, same results
    # as the canonical operators
    import pandas as pd

    from betl_spark.operators.timeseries import resample_gapfill

    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "b"],
            "t": [0, 86_400_000_000 * 2, 5],
            "v": [1.0, 3.0, 9.0],
        }
    )
    dfl.data["ev"] = spark.createDataFrame(pdf)
    out = dfl.resampleGapfill("ev", "k", "t", "v")
    direct = resample_gapfill(dfl.data["ev"], "k", "t", "v")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, direct.collect())
    )
    assert "ev_resampled" in dfl.data
    assert any(s.op == "resampleGapfill" for s in dfl.journal.steps)

    dfl.data["docs"] = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta")], "id long, name string"
    )
    pairs = dfl.fuzzyMatchNames("docs", "id", "name", maxDist=2)
    assert pairs.count() == 0  # one canonical name, no pair
    audit = dfl.integrityAudit(
        [("docs->ev", "docs", ["id"], "docs", ["id"])]
    )
    assert audit.collect()[0]["n_orphans"] == 0


def test_ks_drift_detects_shift_and_identity(spark):
    from betl_spark.operators.profile import ks_drift

    a = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
    b_same = spark.createDataFrame([(float(i % 10),) for i in range(50)], "v double")
    b_shift = spark.createDataFrame(
        [(float(i % 10) + 5.0,) for i in range(50)], "v double"
    )
    same = ks_drift(a, b_same, "v").collect()[0]
    assert same["ks_d"] == 0.0 and same["n_a"] == 100 and same["n_b"] == 50
    shifted = ks_drift(a, b_shift, "v").collect()[0]
    assert shifted["ks_d"] == 0.5  # half the mass displaced past the overlap
    assert shifted["n_values"] == 15  # 0..9 union 5..14


def test_ab_test_proportions_signs_and_guards(spark):
    from betl_spark.operators.stats import ab_test_proportions

    rows_in = (
        [("g", True, 1)] * 80 + [("g", True, 0)] * 20     # A converts 80%
        + [("g", False, 1)] * 20 + [("g", False, 0)] * 80  # B converts 20%
        + [("onesided", True, 1)] * 10                     # no B arm: NULL z
        + [("allwin", True, 1)] * 5 + [("allwin", False, 1)] * 5  # p̂=1: NULL
    )
    df = spark.createDataFrame(rows_in, "g string, isa boolean, s int")
    out = {
        r["g"]: r
        for r in ab_test_proportions(df, ["g"], F.col("isa"), F.col("s") == 1).collect()
    }
    g = out["g"]
    assert (g["n_a"], g["n_b"], g["conv_a"], g["conv_b"]) == (100, 100, 0.8, 0.2)
    assert g["z"] > 8  # wildly significant, positive (A > B)
    assert out["onesided"]["z"] is None
    assert out["allwin"]["z"] is None


def test_ranked_running_sum_ranks_unique_past_sampling_threshold(spark):
    """Regression (found by the sf1 oracle spot-check): with enough
    rows that RangePartitioner actually SAMPLES (rather than seeing
    every row), re-executions of the banded plan used to draw
    different boundaries than the collected offsets — rdd.id seeds the
    sampler — producing overlapping/gapped global ranks (47,492
    distinct of 50,000 at sf1). The banded rows are now frozen with an
    eager localCheckpoint; ranks must be a dense 1..n permutation on
    EVERY action over the returned plan."""
    from betl_spark.operators.stats import ranked_running_sum

    n = 120_000
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 1000).alias("__val"),  # heavy ties
        F.col("id").alias("__tb"),
        F.lit(1).alias("__one"),
    )
    ranked = ranked_running_sum(
        df, ["__val", "__tb"], "__one", rank_col="__rank", cum_col="__cum"
    )
    # two separate actions: both must see the same frozen bands
    assert ranked.select("__rank").distinct().count() == n
    mm = ranked.agg(
        F.min("__rank"), F.max("__rank"), F.max("__cum")
    ).collect()[0]
    assert tuple(mm) == (1, n, n)


def test_rolling_zscore_time_sharded_equals_unsharded(spark):
    """The overlap-chunk sharding must be EXACT: scores from the
    (key, chunk)-parallel plan equal the single-window-per-key plan
    bit for bit, across chunk sizes (= the window, 2x, odd sizes) —
    including events whose frame spans a chunk boundary."""
    import random

    from betl_spark.operators.timeseries import rolling_zscore_time

    rng = random.Random(9)
    rows_in = [
        (p, rng.randrange(0, 4_000_000), i, round(rng.uniform(0, 100), 2))
        for p in ("x", "y")
        for i in range(400)
    ]
    df = spark.createDataFrame(rows_in, "p string, t long, id long, v double")
    W = 500_000
    base = sorted(
        map(tuple, rolling_zscore_time(df, "p", "t", "id", "v", W, min_rows=5).collect())
    )
    assert any(r[3] is not None for r in base)  # scores actually happen
    for chunk in (W, 2 * W, 777_777):
        sharded = sorted(
            map(
                tuple,
                rolling_zscore_time(
                    df, "p", "t", "id", "v", W, min_rows=5, chunk_micros=chunk
                ).collect(),
            )
        )
        assert sharded == base, f"chunk={chunk}"
    with pytest.raises(ValueError, match="chunk_micros"):
        rolling_zscore_time(df, "p", "t", "id", "v", W, chunk_micros=W - 1)


def test_rolling_zscore_time_matches_sql_oracle(spark):
    """Independent-engine check (DuckDB) of the time-frame semantics,
    pinning the operator before its round-10 contract entry."""
    import duckdb

    from betl_spark.operators.timeseries import rolling_zscore_time

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from betl_spark.contract.common import ts_micros

    ev = ev.withColumn("__ts_us", ts_micros(ev))
    W = 3_600_000_000  # 1 hour
    got = sorted(
        map(
            tuple,
            rolling_zscore_time(
                ev, "event_type", "__ts_us", "event_id", "value", W,
                min_rows=5, chunk_micros=2 * W,
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM '/root/testdata/sf0.001/events.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS t, event_id,
         CAST(value AS DECIMAL(12,3)) AS v,
         CAST(CAST(value AS DECIMAL(12,3)) * CAST(value AS DECIMAL(12,3))
              AS DECIMAL(20,6)) AS v2
  FROM events
),
w AS (
  SELECT event_type, event_id, v,
         count(v) OVER win AS n, sum(v) OVER win AS s,
         sum(v2) OVER win AS s2
  FROM e
  WINDOW win AS (PARTITION BY event_type ORDER BY t
                 RANGE BETWEEN {W} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, event_id, CAST(v AS DOUBLE) AS value,
       CASE WHEN n >= 5
             AND (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)
                 / (n - 1) > 0.0
            THEN round((CAST(v AS DOUBLE) - CAST(s AS DOUBLE)/n)
                       / sqrt((CAST(s2 AS DOUBLE)
                               - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)
                              / (n - 1)), 6) END AS z,
       abs(CASE WHEN n >= 5
             AND (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)
                 / (n - 1) > 0.0
            THEN round((CAST(v AS DOUBLE) - CAST(s AS DOUBLE)/n)
                       / sqrt((CAST(s2 AS DOUBLE)
                               - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)
                              / (n - 1)), 6) END) > 3.0 AS is_anomaly
FROM w
""").fetchall()
    )
    assert got == want


def test_correctness_window_invariants():
    """The driver verifies exactly the first 50 contract entries; the
    order is COMPUTED (never-verified queries first, then oldest
    driver-green first from the ledger derived from the committed
    CORRECTNESS_r*.json files). Pin the policy's invariants: no
    unknown/duplicate names, every never-driver-verified query inside
    the window, the non-new slots strictly oldest-first, full oracle
    coverage, and the ledger agreeing with the latest committed round."""
    import glob
    import json
    import os

    from betl_spark.contract import (
        LAST_VERIFIED,
        NEW_THIS_ROUND,
        ORACLES,
        QUERIES,
        _ALL,
        _PRIORITY,
        _REPO,
    )

    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate in _PRIORITY"
    unknown = [n for n in _PRIORITY if n not in _ALL]
    assert not unknown, f"_PRIORITY names not in registry: {unknown}"
    names = list(QUERIES)
    window = names[:50]
    never_verified = [n for n in QUERIES if n not in LAST_VERIFIED]
    missing = [n for n in never_verified if n not in window]
    assert not missing, f"never-verified queries outside the window: {missing}"
    assert set(NEW_THIS_ROUND) <= set(window)
    # the non-new window tail is the globally oldest-green prefix
    tail = [n for n in window if n not in NEW_THIS_ROUND]
    expected = sorted(
        (n for n in _ALL if n not in NEW_THIS_ROUND),
        key=lambda n: (LAST_VERIFIED.get(n, 0), n),
    )[: len(tail)]
    assert tail == expected, "window tail is not oldest-green-first"
    assert set(ORACLES) == set(QUERIES), "every query needs an oracle"
    # every full green of the latest committed round is the ledger's
    # latest round for that query
    rounds = {
        int(p.rsplit("_r", 1)[1].split(".")[0]): p
        for p in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))
    }
    rnd = max(rounds)
    latest = rounds[rnd]
    with open(latest) as fh:
        rows = json.load(fh)
    full = [
        n
        for n, v in rows.items()
        if not v.get("err")
        and v.get("rows_match")
        and v.get("schema_match")
        and v.get("hash_match") is True
    ]
    assert full, f"{latest} holds no full green row"
    stale = [n for n in full if LAST_VERIFIED.get(n) != rnd]
    assert not stale, f"ledger misses round-{rnd} greens: {stale}"
