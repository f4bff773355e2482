"""Oracle parity: every contract query's Spark result must exactly match
DuckDB evaluating the oracle SQL on the same parquet — the local replica
of the driver's CORRECTNESS gate (row count + schema + sorted value
compare).

Tiering (round-14 verdict item 1 — the suite outgrew the driver's
verify budget): ALL 235 pairs run in every tier; the fast default runs
them on the smallest data (sf0.001), except queries whose sf0.001
output degenerates to 0-2 rows (census committed in OPTIMIZATION_r15)
— those always run at sf0.01 so the check stays non-vacuous. Any
other query whose sf0.001 oracle result has fewer than 3 rows fails,
so the census cannot go stale. Set
``BETL_FULL_MATRIX=1`` to run everything at sf0.01 (the pre-r15
behavior)."""

import datetime
import decimal
import math
import os

import duckdb
import pytest

from betl_spark.contract import ORACLES, QUERIES
from betl_spark.contract.common import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
SMALL_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR_TEST_SMALL", "/root/testdata/sf0.001"
)
FULL_MATRIX = os.environ.get("BETL_FULL_MATRIX") == "1"

# sf0.001 census (r15): these queries return 0-2 rows there — parity
# would be (near-)vacuous, so they stay on SF_DIR in every tier
SF001_DEGENERATE = frozenset((
    "setop_except_customers", "tpch_q11_important_parts",
    "tpch_q21_waiting_suppliers", "tpch_q22_dormant_customers",
    "tpch_q7_volume_shipping",
    "assoc_source_lang", "dedup_cluster_histogram", "events_stream_join",
    "funnel_latency_events", "ks_drift_sources", "tpch_q12_late_shipments",
    "tpch_q14_promo_revenue", "tpch_q15_top_supplier",
    "tpch_q17_small_qty_revenue", "tpch_q19_brand_revenue",
    "tpch_q20_promotion_suppliers", "tpch_q2_min_cost_supplier",
    "tpch_q5_local_supplier", "tpch_q6_forecast_revenue",
))


def _dir_for(name: str) -> str:
    if FULL_MATRIX or name in SF001_DEGENERATE:
        return SF_DIR
    return SMALL_DIR


_CONS: dict[str, duckdb.DuckDBPyConnection] = {}


@pytest.fixture(scope="module")
def duck():
    def get(sf_dir: str):
        con = _CONS.get(sf_dir)
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
                )
            _CONS[sf_dir] = con
        return con

    return get


def normalize(colnames, rows):
    """Sort columns by name, then rows; stringify values the way a
    hash-compare would see them."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm_val(v):
        # DuckDB returns DECIMAL/HUGEINT-typed aggregates as
        # decimal.Decimal / int; canonicalize to the float/int repr the
        # Spark side produces so only VALUE differences fail the test
        if isinstance(v, decimal.Decimal):
            v = int(v) if v == v.to_integral_value() and v.as_tuple().exponent >= 0 else float(v)
        if isinstance(v, float):
            return f"{v!r}"
        if isinstance(v, datetime.datetime):
            return v.isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
        return repr(v)

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(colnames), sorted(out)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    sf_dir = _dir_for(name)
    sdf = QUERIES[name](spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    res = duck(sf_dir).execute(ORACLES[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    # census guard: a small-data run that degenerates to 0-2 rows checks
    # (almost) nothing — such a query belongs in SF001_DEGENERATE
    if sf_dir == SMALL_DIR and sf_dir != SF_DIR:
        assert len(d_rows) >= 3, (
            f"{name}: oracle returns {len(d_rows)} rows on {sf_dir}; "
            "add it to SF001_DEGENERATE"
        )

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    sc, sr = normalize(s_cols, s_rows)
    dc, dr = normalize(d_cols, d_rows)
    mismatches = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first: "
        f"spark={sr[mismatches[0]]} duck={dr[mismatches[0]]} cols={sc}"
    )
