"""Round-10 operator tests: spine modes and chunked generation for
resample_gapfill, plus the new inference-stats / time-series /
retrieval families as they land."""

import pytest
from pyspark.sql import functions as F


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, t long, value double"
    )


def test_resample_observed_spine_is_per_key_range(spark):
    from betl_spark.operators.timeseries import resample_gapfill

    # key 1 spans buckets 0-3, key 2 spans bucket 10 only
    df = _mk_events(
        spark,
        [(1, 0, 1.0), (1, 3 * 10, 4.0), (2, 10 * 10, 9.0)],
    )
    out = resample_gapfill(
        df, "user_id", "t", "value", bucket_micros=10, spine="observed"
    ).collect()
    got = {(r["user_id"], r["bucket"]) for r in out}
    assert got == {(1, 0), (1, 1), (1, 2), (1, 3), (2, 10)}
    # global mode fills the full rectangle 0..10 for both keys
    from betl_spark.operators.timeseries import resample_gapfill as rg

    glob = rg(df, "user_id", "t", "value", bucket_micros=10).collect()
    assert len(glob) == 2 * 11


def test_resample_observed_matches_global_on_observed_span(spark):
    """On each key's own span the two spines agree row-for-row."""
    from betl_spark.operators.timeseries import resample_gapfill

    rows = [
        (k, t * 7, float(k * 10 + t))
        for k in (1, 2, 3)
        for t in range(k, 30, k + 2)
    ]
    df = _mk_events(spark, rows)
    obs = {
        (r["user_id"], r["bucket"]): (
            r["n_events"], r["sum_value"], r["ffill_avg"]
        )
        for r in resample_gapfill(
            df, "user_id", "t", "value", bucket_micros=5, spine="observed"
        ).collect()
    }
    glob = {
        (r["user_id"], r["bucket"]): (
            r["n_events"], r["sum_value"], r["ffill_avg"]
        )
        for r in resample_gapfill(
            df, "user_id", "t", "value", bucket_micros=5
        ).collect()
    }
    assert obs == {k: v for k, v in glob.items() if k in obs}


def test_resample_spine_guard_raises_and_passes(spark):
    from betl_spark.operators.timeseries import resample_gapfill

    df = _mk_events(spark, [(1, 0, 1.0), (1, 100, 2.0)])
    with pytest.raises(ValueError, match="spine would be"):
        resample_gapfill(
            df, "user_id", "t", "value", bucket_micros=1,
            spine="observed", max_spine_rows=10,
        ).collect()
    ok = resample_gapfill(
        df, "user_id", "t", "value", bucket_micros=1,
        spine="observed", max_spine_rows=1000,
    )
    assert ok.count() == 101


def test_resample_rejects_unknown_spine(spark):
    from betl_spark.operators.timeseries import resample_gapfill

    df = _mk_events(spark, [(1, 0, 1.0)])
    with pytest.raises(ValueError, match="spine must be"):
        resample_gapfill(df, "user_id", "t", "value", spine="dense")


def test_resample_chunked_spine_crosses_chunk_boundaries(spark):
    """A span wider than one 8192-bucket chunk must still be dense,
    and negative (pre-epoch) buckets must not skip chunks (floor vs
    truncating division)."""
    from betl_spark.operators import timeseries as ts

    # span [-3, 8195]: crosses chunk -1 -> 0 -> 1 at _SPINE_CHUNK=8192
    df = _mk_events(spark, [(1, -3, 1.0), (1, 8195, 2.0)])
    out = ts.resample_gapfill(
        df, "user_id", "t", "value", bucket_micros=1, spine="observed"
    )
    buckets = sorted(r["bucket"] for r in out.collect())
    assert buckets == list(range(-3, 8196))


# ---- inference stats ----

def test_mann_whitney_small_example(spark):
    """Hand-checked: A = {1,2,3}, B = {2,4}. Ranks (avg ties):
    1->1, 2->2.5 (x2), 3->4, 4->5. R_a = 1+2.5+4 = 7.5,
    U_a = 7.5 - 3*4/2 = 1.5, AUC = 1.5/6 = 0.25."""
    from betl_spark.operators.stats import mann_whitney

    df = spark.createDataFrame(
        [("g", True, 1.0), ("g", True, 2.0), ("g", True, 3.0),
         ("g", False, 2.0), ("g", False, 4.0)],
        "g string, a boolean, v double",
    )
    r = mann_whitney(df, ["g"], "a", "v").collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 2)
    assert r["u_a"] == 1.5
    assert r["auc"] == 0.25


def test_mann_whitney_single_arm_yields_nulls(spark):
    from betl_spark.operators.stats import mann_whitney

    df = spark.createDataFrame(
        [("g", True, 1.0), ("g", True, 2.0)], "g string, a boolean, v double"
    )
    r = mann_whitney(df, ["g"], "a", "v").collect()[0]
    assert r["n_b"] == 0 and r["u_a"] is None
    assert r["auc"] is None and r["z"] is None


def test_mann_whitney_excludes_null_arm_and_value(spark):
    from betl_spark.operators.stats import mann_whitney

    df = spark.createDataFrame(
        [("g", True, 1.0), ("g", None, 9.0), ("g", False, None),
         ("g", False, 2.0)],
        "g string, a boolean, v double",
    )
    r = mann_whitney(df, ["g"], "a", "v").collect()[0]
    assert (r["n_a"], r["n_b"]) == (1, 1)


def test_crosstab_assoc_independent_and_perfect(spark):
    from betl_spark.operators.stats import crosstab_assoc

    # perfectly dependent: x determines y -> V = 1, MI = H(x) = 1 bit
    dep = spark.createDataFrame(
        [("a", "p")] * 5 + [("b", "q")] * 5, "x string, y string"
    )
    r = crosstab_assoc(dep, "x", "y").collect()[0]
    assert r["n"] == 10 and r["dof"] == 1
    assert r["cramers_v"] == 1.0
    assert abs(r["mi_bits"] - 1.0) < 1e-6
    # independent 2x2 with equal counts -> chi2 = 0, MI = 0
    ind = spark.createDataFrame(
        [("a", "p"), ("a", "q"), ("b", "p"), ("b", "q")] * 3,
        "x string, y string",
    )
    r2 = crosstab_assoc(ind, "x", "y").collect()[0]
    assert r2["chi2"] == 0.0 and r2["mi_bits"] == 0.0
    assert r2["cramers_v"] is None  # chi2 = 0 -> no effect size


def test_crosstab_assoc_degenerate_single_column(spark):
    from betl_spark.operators.stats import crosstab_assoc

    df = spark.createDataFrame([("a", "p"), ("a", "q")], "x string, y string")
    r = crosstab_assoc(df, "x", "y").collect()[0]
    assert r["dof"] == 0 and r["chi2"] is None and r["cramers_v"] is None


def test_benford_digits_counts_first_significant(spark):
    from betl_spark.operators.stats import benford_digits
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(123.45,), (0.0067,), (912.0,), (0.0,), (None,), (-234.5,)],
        "amt double",
    )
    out = {
        r["digit"]: r["n"]
        for r in benford_digits(
            df, F.col("amt").cast("decimal(12,4)")
        ).collect()
    }
    # 123.45 -> 1, 0.0067 -> 6, 912.0 -> 9, -234.5 -> 2; 0/NULL dropped
    assert out == {1: 1, 6: 1, 9: 1, 2: 1}


def test_decile_lift_ranks_scores(spark):
    from betl_spark.operators.stats import decile_lift
    from pyspark.sql import functions as F

    # 100 rows, label true iff score >= 80: top duo of quintiles...
    df = spark.createDataFrame(
        [(float(i), i, i >= 80) for i in range(100)],
        "score double, id long, lab boolean",
    )
    out = {r["bucket"]: r for r in decile_lift(df, "score", "lab", "id").collect()}
    assert len(out) == 10
    assert all(out[b]["n"] == 10 for b in out)
    assert out[9]["rate"] == 1.0 and out[8]["rate"] == 1.0
    assert out[0]["rate"] == 0.0
    assert out[9]["lift"] == 5.0  # 1.0 / 0.2


# ---- bounded-lag time series ----

def _ewma_lag_rows():
    # multiple keys, duplicate timestamps (unique tiebreaks), NULL
    # values (excluded rows shift the window), a key shorter than k
    rows = []
    for i in range(113):
        v = None if i % 13 == 5 else 10.0 + ((i * 7919) % 97) / 3.0
        rows.append(("a", (i // 3) * 1000, i, v))  # dup ts every 3 rows
    for i in range(47):
        rows.append(("b", i * 17, 1000 + i, 5.0 + ((i * 31) % 13)))
    rows.append(("tiny", 5, 9999, 1.0))  # under k: NULL ewma, row kept
    return rows


def test_ewma_bounded_matches_python_reference(spark):
    from betl_spark.operators.timeseries import ewma_bounded, ewma_weights

    one_key = [("k", i * 100, i, v) for i, v in
               enumerate([10.0, 12.0, 9.0, 11.0, 14.0, 8.0])]
    for rows, alpha, k in ((one_key, 0.5, 3), (_ewma_lag_rows(), 0.3, 8)):
        df = spark.createDataFrame(
            rows, "p string, t long, id long, v double"
        )
        got = {
            (r["p"], r["id"]): (r["v"], r["ewma"])
            for r in ewma_bounded(
                df, "p", "t", "id", "v", alpha=alpha, k=k
            ).collect()
        }
        ws = ewma_weights(alpha, k)
        wsum = round(sum(ws), 12)
        want = {}
        for key in {r[0] for r in rows}:
            # NULL values are dropped; the rest ordered by (time,
            # tiebreak) and read through the engine's DECIMAL(12,3) cast
            seq = sorted((t, i, _rhu(v, 3)) for p, t, i, v in rows
                         if p == key and v is not None)
            vals = [v for _, _, v in seq]
            for n, (_, i, v) in enumerate(seq):
                ewma = None  # rows with fewer than k-1 predecessors
                if n >= k - 1:
                    nanos = sum(
                        int(_rhu(_rhu(w * vals[n - j], 9) * 1e9, 0))
                        for j, w in enumerate(ws)
                    )
                    # the engine renders F.round(double, 6): replay with
                    # the HALF_UP shortest-repr rule (_rhu), not
                    # python's banker round
                    ewma = _rhu(nanos / 1e9 / wsum, 6)
                want[(key, i)] = (v, ewma)
        assert any(e is not None for _, e in want.values())
        assert got == want, (alpha, k)


def test_cusum_changepoint_locates_level_shift(spark):
    from betl_spark.operators.timeseries import cusum_changepoint

    # 10 points at 0 then 10 points at 100: |C| peaks at the shift
    rows = [("k", i, i, 0.0) for i in range(10)] + [
        ("k", 10 + i, 10 + i, 100.0) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "p string, t long, id long, v double")
    r = cusum_changepoint(df, "p", "t", "id", "v").collect()[0]
    assert r["n"] == 20
    # C_i = S_i - i*50; max |C| at i=10 (end of the low run): |0-500| = 500
    assert r["cp_id"] == 9 and r["max_cusum"] == 500.0


def test_cusum_single_row_key(spark):
    from betl_spark.operators.timeseries import cusum_changepoint

    df = spark.createDataFrame(
        [("k", 1, 1, 5.0)], "p string, t long, id long, v double"
    )
    r = cusum_changepoint(df, "p", "t", "id", "v").collect()[0]
    assert r["n"] == 1 and r["max_cusum"] == 0.0


def test_autocorr_lag_perfect_and_alternating(spark):
    from betl_spark.operators.timeseries import autocorr_lag

    inc = [("a", i, i, float(i)) for i in range(10)]
    alt = [("b", i, i, float(i % 2)) for i in range(10)]
    df = spark.createDataFrame(
        inc + alt, "p string, t long, id long, v double"
    )
    out = {r["p"]: r for r in
           autocorr_lag(df, "p", "t", "id", "v", lag=1).collect()}
    assert out["a"]["n"] == 9 and out["a"]["r"] == 1.0
    assert out["b"]["r"] == -1.0


# ---- retrieval / text / drift ----

def test_phrase_search_contiguity_not_cooccurrence(spark):
    from betl_spark.operators.corpus import phrase_search

    df = spark.createDataFrame(
        [(1, "a b x b c a b"), (2, "a b c"), (3, "c b a"), (4, "a b c a b c")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_occurrences"], r["first_pos"])
           for r in phrase_search(df, "doc_id", "text", ["a", "b", "c"]).collect()}
    # doc 1 has a-b and b-c but never contiguous a b c; doc 3 reversed
    assert out == {2: (1, 0), 4: (2, 0)}


def test_phrase_search_duplicate_terms(spark):
    from betl_spark.operators.corpus import phrase_search

    df = spark.createDataFrame(
        [(1, "x the the y the the the"), (2, "the x the")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_occurrences"]
           for r in phrase_search(df, "doc_id", "text", ["the", "the"]).collect()}
    assert out == {1: 3}  # positions (1,2), (4,5), (5,6)


def test_phrase_search_rejects_empty(spark):
    from betl_spark.operators.corpus import phrase_search

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="at least one"):
        phrase_search(df, "doc_id", "text", [])


def test_ngram_novelty_first_doc_wins(spark):
    from betl_spark.operators.corpus import ngram_novelty

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x y z"), (3, "a b")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           ngram_novelty(df, "doc_id", "text", n=3).collect()}
    # doc 1: grams {abc, bcd} both first here -> 1.0
    assert out[1]["novelty"] == 1.0
    # doc 2: {abc(no), bcx, cxy, xyz} -> 3/4
    assert out[2]["n_ngrams"] == 4 and out[2]["n_novel"] == 3
    assert out[2]["novelty"] == 0.75
    # doc 3: too short -> 0 grams, NULL novelty
    assert out[3]["n_ngrams"] == 0 and out[3]["novelty"] is None


def test_readability_counts(spark):
    from betl_spark.operators.text import readability

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran! Done?"), (2, ""), (3, "word")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in readability(df, "doc_id", "text").collect()}
    assert out[1]["n_words"] == 7 and out[1]["n_sentences"] == 3
    assert out[2]["n_words"] == 0 and out[2]["flesch"] is None
    assert out[3]["n_sentences"] == 1  # floored at 1


def test_column_drift_audit_detects_null_shift(spark):
    from betl_spark.operators.profile import column_drift_audit

    a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    b = spark.createDataFrame(
        [(3, None), (4, None), (5, "y"), (6, "z")], "k long, v string"
    )
    out = {r["column"]: r for r in column_drift_audit(a, b, ["k", "v"]).collect()}
    assert out["v"]["null_rate_a"] == 0.0
    assert out["v"]["null_rate_b"] == 0.5
    assert out["v"]["null_rate_delta"] == 0.5
    assert out["v"]["n_distinct_a"] == 2 and out["v"]["n_distinct_b"] == 2
    assert out["k"]["n_a"] == 2 and out["k"]["n_b"] == 4


def test_column_drift_audit_rejects_empty(spark):
    from betl_spark.operators.profile import column_drift_audit

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="at least one"):
        column_drift_audit(df, df, [])


# ---- embedding audit ----

def test_embedding_norm_stats_unit_vectors(spark):
    from betl_spark.operators.similarity import embedding_norm_stats

    df = spark.createDataFrame(
        [(1, [3.0, 4.0], 0), (2, [6.0, 8.0], 0), (3, [0.0, 1.0], 1),
         (4, None, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["label"]: r for r in
           embedding_norm_stats(df, "embedding", "label").collect()}
    assert out[0]["n"] == 2
    assert out[0]["min_norm"] == 5.0 and out[0]["max_norm"] == 10.0
    assert out[0]["avg_norm"] == 7.5
    assert out[1]["n"] == 1 and out[1]["avg_norm"] == 1.0


def test_embedding_outliers_finds_planted_point(spark):
    from betl_spark.operators.similarity import embedding_outliers

    rows = [(i, [1.0, 1.0], 0) for i in range(9)] + [(99, [9.0, 9.0], 0)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = embedding_outliers(df, "vec_id", "embedding", "label", k=1).collect()
    assert len(out) == 1 and out[0]["vec_id"] == 99
    # centroid = (1.8, 1.8); dist for 99 = sqrt(2*(7.2^2))
    import math
    assert out[0]["dist"] == round(math.sqrt(2 * 7.2 ** 2), 6)


# ---- split/fold tooling ----

def test_kfold_assign_stable_and_complete(spark):
    from betl_spark.operators.sampling import kfold_assign

    df = spark.createDataFrame([(i,) for i in range(200)], "k long")
    out = kfold_assign(df, "k", k=5)
    folds = [r["fold"] for r in out.collect()]
    assert set(folds) == {0, 1, 2, 3, 4}
    # stability: same assignment on re-run
    again = [r["fold"] for r in kfold_assign(df, "k", k=5).collect()]
    assert folds == again
    with pytest.raises(ValueError, match="k must be"):
        kfold_assign(df, "k", k=1)


def test_kfold_assign_null_key(spark):
    from betl_spark.operators.sampling import kfold_assign

    df = spark.createDataFrame([(None,), (1,)], "k long")
    out = {r["k"]: r["fold"] for r in kfold_assign(df, "k", 5).collect()}
    assert out[None] is None and out[1] is not None


def test_temporal_split_is_chronological(spark):
    from betl_spark.operators.sampling import temporal_split

    df = spark.createDataFrame([(i,) for i in range(100)], "t long")
    out = temporal_split(df, "t", train_pct=70, val_pct=15).collect()
    by_split = {}
    for r in out:
        by_split.setdefault(r["split"], []).append(r["t"])
    assert len(by_split["train"]) == 70
    assert len(by_split["val"]) == 15
    assert len(by_split["test"]) == 15
    assert max(by_split["train"]) < min(by_split["val"])
    assert max(by_split["val"]) < min(by_split["test"])
    with pytest.raises(ValueError, match="train"):
        temporal_split(df, "t", train_pct=90, val_pct=20)


# ---- property sweeps (python-replay references) ----

from hypothesis import HealthCheck, given, settings, strategies as st

PROP = settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)


def _rhu(x: float, nd: int) -> float:
    """Spark-compatible HALF_UP rounding of a double (python round()
    is banker's; Spark rounds the shortest decimal repr half-away —
    the memory-documented replay rule)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal(f"1e-{nd}"), ROUND_HALF_UP)
    )


@PROP
@given(
    data=st.lists(
        st.tuples(st.booleans(), st.integers(min_value=0, max_value=6)),
        min_size=2,
        max_size=40,
    )
)
def test_mann_whitney_matches_python_replay(spark, data):
    """U, AUC and the tie-corrected variance replayed in exact python
    arithmetic (Fraction-free: everything is integers up to the final
    float ops, mirrored in the same order)."""
    from betl_spark.operators.stats import mann_whitney

    df = spark.createDataFrame(
        [("g", a, float(v)) for a, v in data],
        "g string, a boolean, v double",
    )
    r = mann_whitney(df, ["g"], "a", "v").collect()[0]

    a_vals = sorted(v for a, v in data if a)
    b_vals = sorted(v for a, v in data if not a)
    n_a, n_b = len(a_vals), len(b_vals)
    assert (r["n_a"], r["n_b"]) == (n_a, n_b)
    if n_a == 0 or n_b == 0:
        assert r["u_a"] is None and r["auc"] is None and r["z"] is None
        return
    from collections import Counter

    allc = Counter(v for _, v in data)
    cum = 0
    r2a = 0
    ties = 0
    for v in sorted(allc):
        t = allc[v]
        ca = sum(1 for x in a_vals if x == v)
        r2a += ca * (2 * cum + t + 1)
        ties += t * t * t - t
        cum += t
    u2 = r2a - n_a * (n_a + 1)
    assert r["u_a"] == u2 / 2.0
    assert r["auc"] == _rhu(u2 / (2.0 * n_a * n_b), 6)
    n = n_a + n_b
    var_u = (n_a * n_b / 12.0) * ((n + 1.0) - ties / (n * (n - 1.0)))
    if n >= 2 and var_u > 0.0:
        z = (u2 / 2.0 - n_a * n_b / 2.0) / var_u ** 0.5
        assert r["z"] == _rhu(z, 6)
    else:
        assert r["z"] is None


@PROP
@given(
    cells=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=2),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_crosstab_assoc_matches_python_replay(spark, cells):
    from collections import Counter
    import math

    from betl_spark.operators.stats import crosstab_assoc

    df = spark.createDataFrame(
        [(f"x{x}", f"y{y}") for x, y in cells], "x string, y string"
    )
    r = crosstab_assoc(df, "x", "y").collect()[0]

    census = Counter(cells)
    nn = len(cells)
    rx = Counter(x for x, _ in cells)
    cy = Counter(y for _, y in cells)
    chi_n = 0
    mi_n = 0
    for (x, y), o in census.items():
        e = rx[x] * cy[y] / nn
        chi_n += round(_rhu((o - e) * (o - e) / e - e, 9) * 1e9)
        mi_n += round(
            _rhu(o / nn * math.log2(o * nn / (rx[x] * cy[y])), 9) * 1e9
        )
    dof = (len(rx) - 1) * (len(cy) - 1)
    assert r["n"] == nn and r["dof"] == dof

    def _micros6(nanos: int) -> float:
        # the engine's round6_nanos_ratio_expr replayed exactly:
        # integral half-away micros, never a double round (bug #5)
        mag = (abs(nanos) + 500) // 1000
        return (-mag if nanos < 0 else mag) / 1e6

    if dof > 0:
        assert r["chi2"] == _micros6(nn * 10**9 + chi_n)
    else:
        assert r["chi2"] is None
    assert r["mi_bits"] == _micros6(mi_n)


# ---- DataFlow verb surface ----

def test_dataflow_round10_verbs_journal_and_delegate(spark, dfl):
    from pyspark.sql import functions as F

    from betl_spark.operators.stats import mann_whitney
    from betl_spark.operators.sampling import kfold_assign

    dfl.data["ev"] = spark.createDataFrame(
        [("g", True, 1.0, 1, 10), ("g", False, 2.0, 2, 20),
         ("g", True, 3.0, 3, 30), ("g", False, 4.0, 4, 40)],
        "g string, a boolean, v double, id long, t long",
    )
    out = dfl.mannWhitney("ev", ["g"], "a", "v")
    direct = mann_whitney(dfl.data["ev"], ["g"], "a", "v")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, direct.collect())
    )
    assert "ev_mannwhitney" in dfl.data
    assert any(s.op == "mannWhitney" for s in dfl.journal.steps)

    folds = dfl.kfoldAssign("ev", "id", k=3)
    assert sorted(map(tuple, folds.collect())) == sorted(
        map(tuple, kfold_assign(dfl.data["ev"], "id", 3).collect())
    )

    split = dfl.temporalSplit("ev", "t", trainPct=50, valPct=25)
    assert set(r["split"] for r in split.collect()) <= {"train", "val", "test"}

    dfl.data["docs"] = spark.createDataFrame(
        [(1, "big table scan. slow!"), (2, "big table")],
        "doc_id long, text string",
    )
    ph = dfl.phraseSearch("docs", "doc_id", "text", ["big", "table"])
    assert ph.count() == 2
    rd = dfl.readabilityScores("docs", "doc_id", "text")
    assert rd.count() == 2
    nv = dfl.ngramNovelty("docs", "doc_id", "text", n=2)
    assert nv.count() == 2
    drift = dfl.columnDrift("docs", "docs", ["text"])
    assert drift.count() == 1
    for verb in ("kfoldAssign", "temporalSplit", "phraseSearch",
                 "readabilityScores", "ngramNovelty", "columnDrift"):
        assert any(s.op == verb for s in dfl.journal.steps), verb


# ---- spearman / entropy / funnel latency ----

def test_grouped_spearman_monotone_and_ties(spark):
    from betl_spark.operators.stats import grouped_spearman

    rows = [("up", float(i), float(i * i)) for i in range(10)]
    rows += [("down", float(i), float(-3 * i)) for i in range(10)]
    rows += [("flat", float(i), 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in
           grouped_spearman(df, ["g"], "x", "y").collect()}
    assert out["up"]["rho"] == 1.0       # monotone increasing
    assert out["down"]["rho"] == -1.0    # monotone decreasing
    assert out["flat"]["rho"] is None    # constant y: no variance


def test_grouped_spearman_tie_aware_vs_scipy_free_reference(spark):
    """x = [1,2,2,3], y = [10,20,20,40]: perfect monotone association
    with ties on both sides -> rho = 1."""
    from betl_spark.operators.stats import grouped_spearman

    df = spark.createDataFrame(
        [("g", 1.0, 10.0), ("g", 2.0, 20.0), ("g", 2.0, 20.0),
         ("g", 3.0, 40.0)],
        "g string, x double, y double",
    )
    r = grouped_spearman(df, ["g"], "x", "y").collect()[0]
    assert r["rho"] == 1.0


def test_grouped_entropy_uniform_and_point_mass(spark):
    from betl_spark.operators.stats import grouped_entropy

    rows = [("u1", c) for c in "abcd" * 4]          # uniform over 4 -> 2 bits
    rows += [("u2", "a")] * 7                        # point mass -> 0 bits
    df = spark.createDataFrame(rows, "u string, c string")
    out = {r["u"]: r for r in grouped_entropy(df, ["u"], "c").collect()}
    assert out["u1"]["n_categories"] == 4
    assert abs(out["u1"]["entropy_bits"] - 2.0) < 1e-6
    assert out["u2"]["entropy_bits"] == 0.0


def test_funnel_latency_first_pair_semantics(spark):
    from betl_spark.operators.funnel import funnel_latency

    M = 1_000_000
    rows = [
        # u1: signup at 10s, purchases at 5s (before: ignored) and 30s
        (1, 10 * M, "signup"), (1, 5 * M, "purchase"), (1, 30 * M, "purchase"),
        # u2: signup at 0, never purchases
        (2, 0, "signup"),
        # u3: purchase only (no signup): not in the funnel
        (3, 7 * M, "purchase"),
        # u4: signup twice, purchase between them -> latency from FIRST
        (4, 0, "signup"), (4, 100 * M, "signup"), (4, 40 * M, "purchase"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, e string")
    r = funnel_latency(df, "u", "t", "e", "signup", "purchase").collect()[0]
    assert r["n_from"] == 3            # u1, u2, u4
    assert r["n_converted"] == 2       # u1 (20s), u4 (40s)
    assert r["conversion_rate"] == round(2 / 3, 6)
    assert r["mean_latency_sec"] == 30.0
    assert r["p50_sec"] == 30.0


def test_funnel_latency_empty_from(spark):
    from betl_spark.operators.funnel import funnel_latency

    df = spark.createDataFrame([(1, 0, "purchase")], "u long, t long, e string")
    r = funnel_latency(df, "u", "t", "e", "signup", "purchase").collect()[0]
    assert r["n_from"] == 0 and r["n_converted"] == 0
    assert r["conversion_rate"] is None and r["mean_latency_sec"] is None


def test_dataflow_round10_stat_verbs(spark, dfl):
    dfl.data["ev"] = spark.createDataFrame(
        [(1, 0, "signup", 1.0), (1, 5_000_000, "purchase", 2.0),
         (2, 0, "signup", 3.0)],
        "u long, t long, e string, v double",
    )
    rho = dfl.spearman("ev", [], "v", "t")
    assert rho.count() == 1
    ent = dfl.categoryEntropy("ev", ["u"], "e")
    assert ent.count() == 2
    lat = dfl.funnelLatency("ev", "u", "t", "e", "signup", "purchase")
    r = lat.collect()[0]
    assert r["n_from"] == 2 and r["n_converted"] == 1
    for verb in ("spearman", "categoryEntropy", "funnelLatency"):
        assert any(s.op == verb for s in dfl.journal.steps), verb


def test_resample_gapfill_default_guard_refuses_huge_global_spine(spark):
    """The spine guard is ON by default: a global rectangle past
    DEFAULT_MAX_SPINE_ROWS refuses with the explicit message instead
    of dying as an executor OOM mid-sort (the sf10 rehearsal find:
    450M-row spine, UNABLE_TO_ACQUIRE_MEMORY). Exercised here by
    shrinking the bound via monkeypatched argument, plus the
    opt-out."""
    from betl_spark.operators.timeseries import resample_gapfill

    df = spark.createDataFrame(
        [(k, k * 86_400_000_000 * 5, 1.0) for k in range(4)],
        "k long, t long, v double",
    )
    with pytest.raises(ValueError, match="global spine would be"):
        resample_gapfill(
            df, "k", "t", "v", spine="global", max_spine_rows=10
        ).collect()
    # explicit opt-out still builds the rectangle
    n = resample_gapfill(
        df, "k", "t", "v", spine="global", max_spine_rows=None
    ).count()
    assert n == 4 * 16  # 4 keys x buckets 0..15
